"""esdb_spark — a PySpark-native event-stream analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference event-stream database (customerio/esdb, an immutable
flat-file event store — see SURVEY.md), re-expressed Spark-first:

- one canonical partitioned Parquet ``events`` table replaces the
  reference's custom block/SSTable file format (Parquet gives snappy
  block compression, min/max stats, dictionary encoding and footer
  indexes for free; the engine writes its own files as v2 data pages,
  so ``seq`` is delta-packed, see ``writer.store_writer``);
- query semantics (space point-lookup, grouping scan, secondary-index
  scan, ts-desc/insertion-stable ordering, early termination,
  continuation cursors) are declarative DataFrame plans that Catalyst
  optimizes (partition pruning, predicate pushdown, top-k);
- the append-able stream subsystem maps to incremental Parquet appends
  and Structured Streaming;
- on top of reference parity, ``esdb_spark.operators`` adds the
  large-scale training-data pipeline operators (dedup, similarity
  search, text analysis, multimodal plumbing).

Public API::

    from esdb_spark import Writer, Db, EventStream, get_spark

    w = Writer(spark, path)
    w.add(space="1", data='{"url": "..."}', timestamp=1403534919,
          grouping="", indexes={"type": "page"})
    w.write()

    db = Db.open(spark, path)
    db.find("1").scan_index("type", "page").show()
"""

from esdb_spark.session import get_spark
from esdb_spark.schema import EVENTS_SCHEMA
from esdb_spark.errors import (
    DbExistsError,
    ImmutableError,
    PartitionTooLargeError,
    StreamClosedError,
)
from esdb_spark.writer import Writer
from esdb_spark.db import Db, Space
from esdb_spark.stream import EventStream, merge_streams

__all__ = [
    "get_spark",
    "EVENTS_SCHEMA",
    "Writer",
    "Db",
    "Space",
    "EventStream",
    "merge_streams",
    "DbExistsError",
    "ImmutableError",
    "PartitionTooLargeError",
    "StreamClosedError",
]

__version__ = "0.1.0"
