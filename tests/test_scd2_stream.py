"""SCD2 streaming twin (streaming/stateful.scd2_history_stream) —
batch-vs-stream parity against the q_cdc_scd2_history shape across
out-of-order micro-batch arrivals, replays, and a stop/restart
(r11 verdict task #2)."""

import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sequin_spark.streaming.stateful import (
    SCD2_FLUSH_ACTION,
    scd2_history_stream,
)

SCHEMA = "pk long, seq long, action string, val long"


def _mk(spark, rows):
    return spark.createDataFrame(
        [Row(pk=p, seq=s, action=a, val=v) for p, s, a, v in rows], SCHEMA)


def _batch_scd2(spark, rows):
    """The batch-relational oracle: q_cdc_scd2_history's lead(seq)
    window over the deduped log."""
    log = _mk(spark, rows).dropDuplicates(["pk", "seq"])
    w = Window.partitionBy("pk").orderBy("seq")
    h = log.withColumn("valid_to_seq", F.lead("seq").over(w))
    out = (h.where(F.col("action") != "delete")
            .select("pk", F.col("seq").alias("valid_from_seq"), "val",
                    "valid_to_seq",
                    F.col("valid_to_seq").isNull().alias("is_current")))
    return {tuple(r) for r in out.collect()}


def _collapse(spark, got):
    """scd2_collapse over the collected emission tuples."""
    from pyspark.sql import Row

    from sequin_spark.streaming.stateful import scd2_collapse

    df = spark.createDataFrame(
        [Row(pk=p, valid_from_seq=f, val=v, valid_to_seq=t, is_current=c)
         for p, f, v, t, c in got],
        "pk long, valid_from_seq long, val long, valid_to_seq long, "
        "is_current boolean")
    return {tuple(r) for r in scd2_collapse(df).collect()}


def test_scd2_stream_parity_across_restart_and_replay(spark, tmp_path):
    """Micro-batches with shuffled in-batch order, a replayed suffix
    (at-least-once), a restart between batches, a MID-STREAM flush the
    stream continues after (r12 task #1), then a terminal flush: the
    collapsed emission log must equal the batch SCD2 history."""
    # per-PK chains: pk1 i→u→u, pk2 i→d→i (revive), pk3 i→d (gone)
    b1 = [(1, 10, "insert", 100), (2, 11, "insert", 200),
          (3, 12, "insert", 300)]
    b2 = [(2, 21, "delete", 200), (1, 20, "update", 110),
          (3, 22, "delete", 300),
          (1, 10, "insert", 100)]          # replayed suffix: must drop
    b3 = [(1, 30, "update", 120), (2, 31, "insert", 260)]
    flush = [(p, 10**9, SCD2_FLUSH_ACTION, 0) for p in (1, 2, 3)]
    real = b1 + [r for r in b2 if r[1] != 10] + b3

    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    got = []

    def run():
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src + "/f*"))
        hist = scd2_history_stream(stream, pk_col="pk", seq_col="seq",
                                   action_col="action")
        q = (hist.writeStream.foreachBatch(
                lambda df, bid: got.extend(tuple(r) for r in df.collect()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    _mk(spark, b1).coalesce(1).write.parquet(src + "/f1")
    _mk(spark, b2).coalesce(1).write.parquet(src + "/f2")
    run()                                   # first incarnation: b1, b2
    mid = set(got)
    # closed-so-far rows only; nothing is_current yet, no delete rows
    assert all(r[-1] is False for r in mid)
    assert (1, 10, 100, 20, False) in mid
    assert (2, 11, 200, 21, False) in mid   # closed by the delete
    assert (3, 12, 300, 22, False) in mid

    # MID-STREAM flush: snapshots pk1's open interval (20,110) —
    # pk2/pk3 are deleted, nothing to snapshot — and the stream
    # CONTINUES (flush must not destroy the open state)
    _mk(spark, flush).coalesce(1).write.parquet(src + "/f3")
    run()
    assert (1, 20, 110, None, True) in set(got)   # the snapshot row

    _mk(spark, b3).coalesce(1).write.parquet(src + "/f4")
    _mk(spark, flush).coalesce(1).write.parquet(src + "/f5")
    run()                                   # restart: state restored
    raw = [r for r in got]
    # b3 closed pk1's snapshotted interval: BOTH rows are in the raw
    # log (the upsert-log contract) …
    assert (1, 20, 110, None, True) in set(raw)
    assert (1, 20, 110, 30, False) in set(raw)
    # … and the collapse prefers the closed row, restoring exact
    # batch parity despite the mid-stream snapshot
    assert _collapse(spark, raw) == _batch_scd2(spark, real)
    cur = {r for r in _collapse(spark, raw) if r[-1]}
    assert cur == {(1, 30, 120, None, True), (2, 31, 260, None, True)}


def test_scd2_repeated_flush_no_duplicate_snapshots(spark, tmp_path):
    """flushed_seq bookkeeping: two flushes with no intervening events
    emit the snapshot ONCE; after the interval advances, the next
    flush snapshots the new interval."""
    rows = [(5, 1, "insert", 10)]
    upd = [(5, 2, "update", 20)]
    flush = [(5, 10**9, SCD2_FLUSH_ACTION, 0)]
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    got = []
    for i, batch in enumerate([rows, flush, flush, upd, flush]):
        _mk(spark, batch).coalesce(1).write.parquet(src + f"/f{i}")
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src + "/f*"))
        q = (scd2_history_stream(stream).writeStream.foreachBatch(
                lambda df, bid: got.extend(tuple(r) for r in df.collect()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    snap1 = (5, 1, 10, None, True)
    assert got.count(snap1) == 1            # second flush suppressed
    assert (5, 1, 10, 2, False) in got      # closed by the update
    assert got.count((5, 2, 20, None, True)) == 1  # new interval snapshot
    assert _collapse(spark, got) == _batch_scd2(spark, rows + upd)


def test_scd2_stream_multi_event_single_batch(spark, tmp_path):
    """A PK's whole chain inside ONE micro-batch, rows shuffled: the
    per-batch seq sort must reconstruct the chain."""
    rows = [(7, 3, "update", 30), (7, 1, "insert", 10),
            (7, 4, "delete", 30), (7, 2, "update", 20),
            (8, 5, "insert", 50)]
    flush = [(7, 10**9, SCD2_FLUSH_ACTION, 0),
             (8, 10**9, SCD2_FLUSH_ACTION, 0)]
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    _mk(spark, rows).coalesce(1).write.parquet(src + "/f1")
    _mk(spark, flush).coalesce(1).write.parquet(src + "/f2")
    got = []
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src + "/f*"))
    q = (scd2_history_stream(stream).writeStream.foreachBatch(
            lambda df, bid: got.extend(tuple(r) for r in df.collect()))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert set(got) == _batch_scd2(spark, rows)
    assert (7, 3, 30, 4, False) in set(got)  # closed by the delete


def test_scd2_tombstone_state_eviction(spark, tmp_path):
    """r12 verdict task #2: with tombstone_ttl_ms set, state for
    hard-deleted PKs is evicted once idle past the TTL (the replay
    horizon) while open intervals persist indefinitely — and a replay
    INSIDE the horizon still dedups against the retained cursor."""
    import time

    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src)
    got = []
    stream = spark.readStream.schema(SCHEMA).parquet(src + "/f*")
    hist = scd2_history_stream(stream, pk_col="pk", seq_col="seq",
                               action_col="action",
                               tombstone_ttl_ms=1500)
    q = (hist.writeStream.foreachBatch(
            lambda df, bid: got.extend(tuple(r) for r in df.collect()))
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="250 milliseconds").start())

    def state_rows():
        p = q.lastProgress
        if not p or not p.get("stateOperators"):
            return -1
        return p["stateOperators"][0]["numRowsTotal"]

    def wait_for(pred, timeout=60):
        t0 = time.time()
        while time.time() - t0 < timeout:
            if pred():
                return True
            time.sleep(0.2)
        return False

    try:
        # 4 PKs open
        _mk(spark, [(i, 10 + i, "insert", i * 10) for i in range(1, 5)]) \
            .coalesce(1).write.parquet(src + "/f1")
        assert wait_for(lambda: state_rows() == 4)
        # hard-delete pks 3 and 4 → close rows; tombstone state stays
        # (last_seq retained for replay dedup inside the horizon)
        _mk(spark, [(3, 20, "delete", 0), (4, 21, "delete", 0)]) \
            .coalesce(1).write.parquet(src + "/f2")
        assert wait_for(lambda: len(got) == 2)
        assert state_rows() == 4
        # replay of pk3's delete INSIDE the horizon + a live-pk update
        # as the progress sentinel: the replay must emit NOTHING
        _mk(spark, [(3, 20, "delete", 0), (1, 30, "update", 111)]) \
            .coalesce(1).write.parquet(src + "/f3")
        assert wait_for(lambda: len(got) == 3)
        assert (1, 11, 10, 30, False) in got      # the sentinel close
        assert not any(r[0] == 3 and r[1] == 20 for r in got
                       if r[3] is None)           # replay: no new interval
        # past the TTL the tombstoned PKs (3, 4) age out; the open
        # intervals (1, 2) persist → state returns to live-PK count
        assert wait_for(lambda: state_rows() == 2, timeout=90)
        # post-eviction emissions unchanged (eviction emits nothing)
        assert len(got) == 3
    finally:
        q.stop()


def test_scd2_stream_cache_reads_same_rows_after_move(spark, sf_dir,
                                                      tmp_path, monkeypatch):
    """A ``.cache`` streaming output moved to another directory (a
    copied tree) reads the same rows: its file-sink log holds absolute
    paths, so the query rebuilds it where it now lives."""
    from sequin_spark import queries, queries_datapipe

    root = {"dir": tmp_path / "a"}
    monkeypatch.setattr(
        queries_datapipe, "_index_cache_path",
        lambda *a, **kw: str(root["dir"] / "cdc_scd2_lsn"))
    before = sorted(queries.q_cdc_scd2_lsn_stream(spark, sf_dir).collect())
    assert before
    os.rename(tmp_path / "a", tmp_path / "b")
    root["dir"] = tmp_path / "b"
    assert sorted(queries.q_cdc_scd2_lsn_stream(spark, sf_dir).collect()) \
        == before
