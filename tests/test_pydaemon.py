"""The engine's Python worker daemon (esdb_spark/_pydaemon.py): zip
archives are re-read only when they change, the session default reaches
the workers, and files shipped with addPyFile still import."""

import importlib.util
import uuid
import zipfile
import zipimport

from pyspark import SparkContext

from esdb_spark import session
from esdb_spark._pydaemon import invalidate_if_changed


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def _import_from(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_invalidate_if_changed_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"first_mod": "VALUE = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    stock_read = zipimport._read_directory
    reads = []

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    # The first check stamps the importer with the archive's stat key.
    invalidate_if_changed(importer)
    assert len(reads) == 1
    # Unchanged archive: two more invalidations read nothing.
    invalidate_if_changed(importer)
    invalidate_if_changed(importer)
    assert len(reads) == 1

    # Rewritten with different content and size: read once, new module imports.
    _write_zip(archive, {"first_mod": "VALUE = 1\n", "second_mod": "VALUE = 2\n"})
    invalidate_if_changed(importer)
    assert len(reads) == 2
    assert _import_from(importer, "second_mod").VALUE == 2
    invalidate_if_changed(importer)
    assert len(reads) == 2

    # Deleted: the stat fails, so the stock read runs and empties the importer.
    archive.unlink()
    invalidate_if_changed(importer)
    assert reads == [str(archive)] * 3
    assert importer.find_spec("first_mod") is None


def test_importing_the_daemon_module_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is not invalidate_if_changed


def test_daemon_default_only_for_a_local_jvm_get_spark_starts(monkeypatch):
    # A daemon module must import before per-task files reach the worker;
    # only a local JVM started by get_spark inherits its PYTHONPATH export.
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert session._starts_local_driver("local[4]")
    assert session._starts_local_driver("local-cluster[2,1,1024]")
    assert not session._starts_local_driver("spark://host:7077")
    assert not session._starts_local_driver("k8s://https://host:443")
    assert not session._starts_local_driver("yarn")
    # A JVM already running (an earlier session, or spark-submit's)
    # did not see the export.
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert not session._starts_local_driver("local[4]")
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert not session._starts_local_driver("local[4]")


def test_session_daemon_reaches_workers_and_keeps_add_py_file(spark, tmp_path):
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    py_name, zip_name = f"esdb_addpy_{tag}", f"esdb_addzip_{tag}"

    def warm(_):
        import importlib.util
        import zipimport

        from esdb_spark import _pydaemon

        check = _pydaemon.invalidate_if_changed
        return (
            zipimport.zipimporter.invalidate_caches is check,
            importlib.util.find_spec(py_name) is None,
            importlib.util.find_spec(zip_name) is None,
        )

    # Warm the workers, and fill their finders' caches without the files.
    assert sc.parallelize(range(4), 4).map(warm).collect() == [(True, True, True)] * 4

    (tmp_path / f"{py_name}.py").write_text("VALUE = 'py'\n")
    _write_zip(tmp_path / f"{zip_name}.zip", {zip_name: "VALUE = 'zip'\n"})
    sc.addPyFile(str(tmp_path / f"{py_name}.py"))
    sc.addPyFile(str(tmp_path / f"{zip_name}.zip"))

    def imported(_):
        import importlib

        return (
            importlib.import_module(py_name).VALUE,
            importlib.import_module(zip_name).VALUE,
        )

    assert sc.parallelize(range(4), 4).map(imported).collect() == [("py", "zip")] * 4
