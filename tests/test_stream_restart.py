"""Exactly-once across restarts and replays: a live ConsumerPipeline
stream is stopped mid-input, restarted from its checkpoint, and then
fully replayed from a fresh checkpoint — the file-log sink must hold
every event exactly once throughout (checkpoint commit = ack +
idempotency ledger, the reference's at-least-once + ledger dedup)."""

import json

from pyspark.sql import functions as F

from sequin_spark.cdc import eventize_orders
from sequin_spark.plans.spec import ConsumerSpec
from sequin_spark.streaming.pipeline import ConsumerPipeline


def _delivered_keys(out_dir):
    rows = []
    if not out_dir.exists():
        return rows
    for f in out_dir.iterdir():
        rows += [json.loads(line)["value"] for line in
                 f.read_text().splitlines()]
    return [int(json.loads(v)["o_orderkey"]) for v in rows]


def test_restart_and_replay_exactly_once(spark, sf_dir, tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "out"
    state = tmp_path / "state"
    ckpt = tmp_path / "ckpt"

    ev = eventize_orders(spark, sf_dir).limit(100).localCheckpoint()
    keys = sorted(r["o_orderkey"]
                  for r in ev.select(F.col("record")["o_orderkey"]
                                     .cast("long").alias("o_orderkey"))
                  .collect())
    half = keys[50]
    chunk1 = ev.filter(F.col("record")["o_orderkey"].cast("long") < half)
    chunk2 = ev.filter(F.col("record")["o_orderkey"].cast("long") >= half)
    schema = ev.schema

    def start(checkpoint):
        spec = ConsumerSpec(
            name="orders-log", sink_type="file_log",
            sink_config={"path": str(out)}, transform="record_only",
        )
        pipe = ConsumerPipeline(spec, state_dir=str(state))
        stream = spark.readStream.schema(schema).parquet(str(src))
        return pipe.start_stream(stream, checkpoint_dir=str(checkpoint),
                                 trigger_seconds=0.1)

    # phase 1: first half, then stop (simulated crash/deploy)
    chunk1.coalesce(1).write.mode("append").parquet(str(src))
    q = start(ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = _delivered_keys(out)
    assert sorted(first) == keys[:50]

    # phase 2: restart from the SAME checkpoint; only the new input runs
    chunk2.coalesce(1).write.mode("append").parquet(str(src))
    q = start(ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    second = _delivered_keys(out)
    assert sorted(second) == keys
    assert len(second) == len(set(second)) == 100

    # phase 3: full replay from a FRESH checkpoint (every batch re-runs)
    # — the idempotency ledger suppresses every duplicate delivery
    q = start(tmp_path / "ckpt2")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = _delivered_keys(out)
    assert sorted(final) == keys
    assert len(final) == 100
