"""CDC event-log source.

The reference ingests the Postgres replication protocol directly
(slot_producer.ex). Spark has no native replication-slot source, so
``sources.replication`` folds pgoutput frames into canonical events and
appends them as parquet files to a CDC-log directory; the engine opens
that directory with EVENT_SCHEMA, as a batch frame here or as a
Structured Streaming file source (``spark.readStream.schema(
EVENT_SCHEMA).parquet(path)`` in ``sequin serve``).

Batch-replay and streaming share the exact same downstream operator
code: a streaming DataFrame and a batch DataFrame with EVENT_SCHEMA are
interchangeable, which is how the DuckDB oracle validates streaming
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sequin_spark.schema import EVENT_SCHEMA


def read_cdc_log(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(EVENT_SCHEMA).parquet(path)
