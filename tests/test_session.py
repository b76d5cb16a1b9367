"""Session defaults that ``get_spark`` sets."""

from pyspark.errors.utils import is_debugging_enabled


def test_dataframe_call_site_capture_is_off(spark):
    # with it on, every Column function walks the Python stack and
    # makes extra py4j round trips to record its call site
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
