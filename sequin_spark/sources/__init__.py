from sequin_spark.sources.backfill import (
    Backfill,
    backfill_snapshot,
    fence_merge,
    keyset_page,
    keyset_predicate,
    run_backfill,
)
from sequin_spark.sources.cdc_log import read_cdc_log
from sequin_spark.sources.rate_cdc import benchmark_stream

__all__ = [
    "Backfill",
    "run_backfill",
    "keyset_page",
    "keyset_predicate",
    "backfill_snapshot",
    "fence_merge",
    "read_cdc_log",
    "benchmark_stream",
]
