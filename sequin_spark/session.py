"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]``; the same conf keys are what we'd set on a
1000-executor cluster (AQE, skew-join handling, adaptive partition
coalescing, broadcast threshold).

Python workers run the engine's daemon (``sequin_spark.worker_daemon``),
which keeps each worker's import caches between tasks unless the shipped
files change.  The daemon is started as ``python -m`` by the JVM, so the
package's parent directory goes on the workers' ``PYTHONPATH``: a driver
that reaches the package only through ``sys.path`` still runs Python
tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "sequin_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Cap JIT vectorization at AVX2: the AVX-512 ("avx3") arraycopy
        # stubs SIGSEGV deterministically on this virtualized Sapphire
        # Rapids host (SEGV_MAPERR in
        # StubRoutines::jlong_disjoint_arraycopy_avx3, 2/2 full bench
        # runs, hs_err confirmed — a JVM/hypervisor stub bug, not a
        # code path we control).  UseAVX=2 keeps every other JIT
        # optimization; measured bench impact is within host noise.
        .config("spark.driver.extraJavaOptions", "-XX:UseAVX=2")
        .config("spark.executor.extraJavaOptions", "-XX:UseAVX=2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", "sequin_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def enable_rocksdb_state(spark: SparkSession) -> SparkSession:
    """Switch stateful streaming to the RocksDB state store.

    The default HDFSBackedStateStoreProvider keeps every key's state in
    executor heap — fine for tests, a hard wall at 100 TB where keyed
    state (per-group delivery cursors, per-user funnel candidates,
    dedup band indexes) far exceeds memory.  RocksDB spills to local
    SSD with incremental checkpointing to the checkpoint location, so
    state scales with disk, not heap — the standard production setting
    for large-state Structured Streaming.  Runtime-settable; applies to
    streaming queries STARTED after the call (running queries keep the
    provider they were planned with)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   ROCKSDB_PROVIDER)
    # bound per-task memtable+block-cache memory so 32 concurrent state
    # partitions per executor can't OOM the node
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
    return spark


from contextlib import contextmanager


@contextmanager
def no_aqe(spark: SparkSession, shuffle_partitions: int | None = None):
    """Compile bounded sub-plans with adaptive execution off.

    AQE materializes every exchange as its own scheduler job and
    re-plans between stages — the right trade for corpus-scale frames,
    pure overhead for plans whose inputs are bounded by construction
    (k-row rank/centroid/argmax tables an iterative fit re-plans dozens
    of times: measured 56 scheduler jobs for the 4-iteration HITS fit
    on 25-row frames, and ~25% wall on the kmeans/kcenter fits).  Scope
    ONLY the bounded loop bodies with this guard; corpus-scale inputs
    (edge builds, scans) must be materialized under AQE before
    entering.  Restores the previous setting on exit, so plans compiled
    after the block (including the caller's final action) stay
    adaptive.

    ``shuffle_partitions``: optional reduce-side width for the guarded
    plans — pass a width DERIVED from the bounded input's measured size
    (e.g. edge count // 50k + 1, capped at the session width) so the
    k-row exchanges don't schedule a full session-width task wave per
    round.  The aggregate twin of wal_pipeline_log's data-sized
    repartition: width follows the data; the session default is only
    the cap, so corpus-scale runs are unaffected."""
    key = "spark.sql.adaptive.enabled"
    skey = "spark.sql.shuffle.partitions"
    prev = str(spark.conf.get(key))
    prev_sp = str(spark.conf.get(skey))
    spark.conf.set(key, "false")
    if shuffle_partitions is not None:
        spark.conf.set(skey, str(max(1, int(shuffle_partitions))))
    try:
        yield
    finally:
        spark.conf.set(key, prev)
        if shuffle_partitions is not None:
            spark.conf.set(skey, prev_sp)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session.

    The correctness driver owns its own SparkSession; these keys are safe
    to set at runtime and make results deterministic (UTC timestamps).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
