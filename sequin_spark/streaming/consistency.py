"""Consistency verification — the at-least-once audit.

Reference: MessageConsistencyCheckWorker audits the at-least-once
verification ledger (message_ledgers.ex:29-60) to find messages that
were ingested but never acknowledged. Spark mapping: a reconciliation
query between the source event set and the engine's delivery state
(ledger ∪ pending ∪ discarded) — anti-joins on the event identity.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sequin_spark.streaming.delivery import IDENTITY, DeliveryEngine, state_files


def verify_consistency(spark: SparkSession, source_events: DataFrame, engine: DeliveryEngine) -> dict:
    """Account for every source event: delivered | pending | discarded |
    missing. ``missing`` > 0 indicates a lost message (the audit alarm)."""
    src = source_events.select(
        F.col("commit_lsn"), F.col("commit_idx"), F.col("idempotency_key")
    ).dropDuplicates(IDENTITY)
    total = src.count()

    ledger = engine.read_ledger(spark)
    delivered = 0
    if ledger is not None:
        delivered = src.join(F.broadcast(ledger.dropDuplicates(IDENTITY)), IDENTITY, "left_semi").count()
        src_rest = src.join(F.broadcast(ledger.dropDuplicates(IDENTITY)), IDENTITY, "left_anti")
    else:
        src_rest = src

    def _state_ids(path):
        if os.path.exists(path):
            pdf = pq.read_table(path).to_pandas()
            return spark.createDataFrame(pdf[IDENTITY])
        return None

    pending_df = _state_ids(engine.pending_path)
    pending = 0
    if pending_df is not None:
        pending = src_rest.join(F.broadcast(pending_df), IDENTITY, "left_semi").count()
        src_rest = src_rest.join(F.broadcast(pending_df), IDENTITY, "left_anti")

    discarded = 0
    if state_files(engine.discarded_dir):
        disc = spark.read.parquet(engine.discarded_dir).select(*IDENTITY).dropDuplicates()
        discarded = src_rest.join(F.broadcast(disc), IDENTITY, "left_semi").count()
        src_rest = src_rest.join(F.broadcast(disc), IDENTITY, "left_anti")

    missing = src_rest.count()
    return {
        "total": total,
        "delivered": delivered,
        "pending": pending,
        "discarded": discarded,
        "missing": missing,
        "consistent": missing == 0,
    }
