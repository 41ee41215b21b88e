"""Delivery engine / pipeline / pull-queue tests — semantics modeled on
slot_message_store_test.exs + per-sink pipeline tests."""

import json
import time

import pytest
from pyspark.sql import functions as F

from sequin_spark.cdc import eventize_orders
from sequin_spark.operators.source_filter import Source
from sequin_spark.plans.spec import ConsumerSpec, load_yaml, plan, spec_from_dict
from sequin_spark.sinks.base import create_sink
from sequin_spark.streaming.delivery import DeliveryEngine, backoff_s
from sequin_spark.streaming.pipeline import ConsumerPipeline
from sequin_spark.streaming.pull_queue import PullQueue


def _compiled_events(spark, sf_dir, tmp_path, sink_type="benchmark", **spec_kw):
    spec = ConsumerSpec(name="t", sink_type=sink_type, **spec_kw)
    pipe = ConsumerPipeline(spec, state_dir=str(tmp_path / "state"))
    ev = eventize_orders(spark, sf_dir).limit(200)
    return pipe, pipe.compile(ev)


def test_pipeline_compile_and_deliver_noop(spark, sf_dir, tmp_path):
    pipe, compiled = _compiled_events(spark, sf_dir, tmp_path)
    assert {"topic", "key", "value", "group_id"}.issubset(set(compiled.columns))
    stats = pipe.engine.process_batch(compiled, batch_id=0)
    assert stats["delivered"] > 0
    assert stats["failed"] == 0 and stats["pending"] == 0
    # redelivery of the same batch: ledger filters everything
    stats2 = pipe.engine.process_batch(compiled, batch_id=1)
    assert stats2["delivered"] == 0


def test_file_log_sink_roundtrip(spark, sf_dir, tmp_path):
    out_dir = tmp_path / "out"
    spec = ConsumerSpec(
        name="t", sink_type="file_log", sink_config={"path": str(out_dir)},
        transform="record_only",
    )
    pipe = ConsumerPipeline(spec, state_dir=str(tmp_path / "state"))
    ev = eventize_orders(spark, sf_dir).limit(50)
    stats = pipe.run_batch(ev)
    assert stats["delivered"] == 50
    rows = []
    for f in out_dir.iterdir():
        rows += [json.loads(line) for line in f.read_text().splitlines()]
    assert len(rows) == 50
    assert "o_orderkey" in json.loads(rows[0]["value"])


def test_retry_group_blocking_and_backoff(spark, tmp_path):
    """A failed delivery blocks its group; retry succeeds after backoff
    (slot_message_store.ex:346-357 semantics)."""
    attempt_dir = tmp_path / "attempts"
    attempt_dir.mkdir()
    df = spark.createDataFrame(
        [
            ("g1", 1, 0, "k1", "g1", '{"n":1}'),
            ("g1", 1, 1, "k2", "g1", '{"n":2}'),
            ("g2", 2, 0, "k3", "g2", '{"n":3}'),
        ],
        "group_id string, commit_lsn long, commit_idx long, idempotency_key string, key string, value string",
    )
    engine = DeliveryEngine(
        "failing",
        {"fail_substring": "g1", "attempt_dir": str(attempt_dir)},
        state_dir=str(tmp_path / "state"),
        batch_size=1,
        max_retry_count=3,
        backoff_base_s=120.0,
    )
    stats = engine.process_batch(df, 0)
    # g1 head fails, g1 second is group-blocked, g2 delivers
    assert {k: stats[k] for k in (
        "batch_id", "delivered", "failed", "blocked", "deferred",
        "discarded", "pending", "shed",
    )} == {
        "batch_id": 0, "delivered": 1, "failed": 1, "blocked": 1,
        "deferred": 0, "discarded": 0, "pending": 2, "shed": 0,
    }
    # metric breadth: one failed + one ok sink call observed; the pending
    # head sets the oldest-age gauge
    assert stats["delivery_latency_us"]["true"]["count"] == 1
    assert stats["delivery_latency_us"]["false"]["count"] == 1
    assert stats["oldest_pending_age_ms"] >= 0.0
    # while g1 is backing off → nothing deliverable
    stats2 = engine.process_batch(df.limit(0), 1)
    assert stats2["delivered"] == 0 and stats2["pending"] == 2
    # simulate backoff expiry (rewind the pending clock), retry succeeds
    # in cursor order (failure marker consumed on first attempt)
    import pyarrow.parquet as papq
    import pyarrow as pa

    pending = papq.read_table(engine.pending_path).to_pandas()
    pending["not_visible_until"] = time.time() - 1
    papq.write_table(pa.Table.from_pandas(pending, preserve_index=False), engine.pending_path)
    stats3 = engine.process_batch(df.limit(0), 2)
    assert stats3["delivered"] == 2 and stats3["pending"] == 0


def test_deferred_rows_spill_executor_side_and_deliver_in_order(spark, tmp_path):
    """New rows arriving behind a backoff-blocked group head are deferred
    by the deliver tasks (spilled with payloads, status 'deferred') —
    no driver collect — and deliver in cursor order once the head's
    backoff expires."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    attempt_dir = tmp_path / "attempts"
    attempt_dir.mkdir()
    schema = "group_id string, commit_lsn long, commit_idx long, idempotency_key string, key string, value string"
    engine = DeliveryEngine(
        "failing",
        {"fail_substring": "g1", "attempt_dir": str(attempt_dir)},
        state_dir=str(tmp_path / "state"),
        batch_size=10,
        max_retry_count=5,
        backoff_base_s=120.0,
    )
    b0 = spark.createDataFrame([("g1", 1, 0, "k1", "g1", '{"n":1}')], schema)
    stats0 = engine.process_batch(b0, 0)
    assert stats0["failed"] == 1 and stats0["pending"] == 1

    # batch 1: one new row behind the blocked g1 head + one free g2 row
    b1 = spark.createDataFrame(
        [("g1", 2, 0, "k2", "g1", '{"n":2}'), ("g2", 3, 0, "k3", "g2", '{"n":3}')],
        schema,
    )
    stats1 = engine.process_batch(b1, 1)
    assert stats1["deferred"] == 1 and stats1["delivered"] == 1
    assert stats1["pending"] == 2  # backing-off head + deferred row
    # deferred row kept its payload and deliver_count through the spill
    pending = pq.read_table(engine.pending_path).to_pandas()
    deferred_row = pending[pending["idempotency_key"] == "k2"].iloc[0]
    assert deferred_row["value"] == '{"n":2}'
    assert deferred_row["deliver_count"] == 0  # never attempted

    # expire the backoff: head retries first, deferred follows, in order
    pending["not_visible_until"] = time.time() - 1
    pq.write_table(pa.Table.from_pandas(pending, preserve_index=False), engine.pending_path)
    stats2 = engine.process_batch(b1.limit(0), 2)
    assert stats2["delivered"] == 2 and stats2["pending"] == 0
    # acked ring: retried head carries its bumped attempt count, the
    # deferred row delivered on its very first attempt
    ring = {r["idempotency_key"]: r for _, r in engine.acked_ring().iterrows()}
    assert ring["k1"]["deliver_count"] == 1
    assert ring["k2"]["deliver_count"] == 0


def test_due_retry_already_in_ledger_is_not_redelivered(spark, tmp_path):
    """A due pending retry takes the same ledger check as every other
    row.  A process killed after the delivery job but before pending is
    rewritten restarts with the old pending file; its retry, already in
    the ledger, must not reach the sink a second time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    attempt_dir = tmp_path / "attempts"
    attempt_dir.mkdir()
    engine = DeliveryEngine(
        "failing",
        {"fail_substring": "g1", "attempt_dir": str(attempt_dir)},
        state_dir=str(tmp_path / "state"),
        max_retry_count=5,
        backoff_base_s=120.0,
    )
    df = spark.createDataFrame(
        [("g1", 1, 0, "k1", "g1", '{"n":1}')],
        "group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string",
    )
    assert engine.process_batch(df, 0)["failed"] == 1
    pending = pq.read_table(engine.pending_path).to_pandas()
    pending["not_visible_until"] = time.time() - 1
    stale = pa.Table.from_pandas(pending, preserve_index=False)
    pq.write_table(stale, engine.pending_path)
    stats1 = engine.process_batch(df.limit(0), 1)
    assert stats1["delivered"] == 1 and stats1["pending"] == 0

    # killed before the pending rewrite: the old file comes back
    pq.write_table(stale, engine.pending_path)
    stats2 = engine.process_batch(df.limit(0), 2)
    assert stats2["delivered"] == 0 and stats2["pending"] == 0
    ring = engine.acked_ring()
    assert list(ring["idempotency_key"]) == ["k1"]


def test_batch_with_ledger_and_blocked_groups_runs_two_jobs(spark, tmp_path):
    """The ledger and blocked-group checks run inside the delivery task,
    so a batch runs the delivery job's two stages and nothing else: no
    ledger scan, no broadcast join."""
    import uuid

    schema = ("group_id string, commit_lsn long, commit_idx long, "
              "idempotency_key string, key string, value string")
    engine = DeliveryEngine(
        "failing", {"fail_substring": "g1"},
        state_dir=str(tmp_path / "state"),
        max_retry_count=5, backoff_base_s=120.0,
    )
    stats0 = engine.process_batch(spark.createDataFrame(
        [("g1", 1, 0, "k1", "g1", "{}"), ("g2", 2, 0, "k2", "g2", "{}")],
        schema), 0)
    assert stats0["delivered"] == 1 and stats0["pending"] == 1
    batch = spark.createDataFrame(
        [("g1", 3, 0, "k3", "g1", "{}"), ("g2", 2, 0, "k2", "g2", "{}"),
         ("g3", 4, 0, "k4", "g3", "{}")], schema)
    sc = spark.sparkContext
    group = "delivery-" + uuid.uuid4().hex
    sc.setJobGroup(group, "process_batch")
    try:
        stats = engine.process_batch(batch, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (stats["delivered"], stats["deferred"], stats["pending"]) == (1, 1, 2)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def test_discard_after_max_retries(spark, tmp_path):
    df = spark.createDataFrame(
        [("g1", 1, 0, "k", "g1", "{}")],
        "group_id string, commit_lsn long, commit_idx long, idempotency_key string, key string, value string",
    )
    engine = DeliveryEngine(
        "failing", {"fail_substring": "g1"},
        state_dir=str(tmp_path / "state"), max_retry_count=1,
        backoff_base_s=0.0,
    )
    stats = engine.process_batch(df, 0)
    assert stats["failed"] == 1 and stats["pending"] == 1
    time.sleep(backoff_s(1, 0.0) + 0.1)
    stats2 = engine.process_batch(df.limit(0), 1)
    # second failure exceeds max_retry_count=1 → discarded
    assert stats2["discarded"] == 1 and stats2["pending"] == 0


def test_structured_streaming_end_to_end(spark, sf_dir, tmp_path):
    """File CDC source → pipeline → noop sink as a real streaming query."""
    src_dir = str(tmp_path / "events")
    eventize_orders(spark, sf_dir).limit(100).write.parquet(src_dir)
    from sequin_spark.schema import EVENT_SCHEMA

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src_dir)
    assert stream.isStreaming
    spec = ConsumerSpec(name="s", sink_type="benchmark")
    pipe = ConsumerPipeline(spec, state_dir=str(tmp_path / "state"))
    q = pipe.start_stream(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["numInputRows"] > 0:
                break
            time.sleep(0.5)
        q.processAllAvailable()
    finally:
        q.stop()
    ledger = pipe.engine.read_ledger(spark)
    assert ledger is not None and ledger.count() == 100


def test_pull_queue_receive_ack_nack(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("g1", 1, 0, '{"n":1}'),
            ("g1", 1, 1, '{"n":2}'),
            ("g2", 2, 0, '{"n":3}'),
        ],
        "group_id string, commit_lsn long, commit_idx long, value string",
    )
    pq_ = PullQueue(str(tmp_path / "pq"), ack_wait_s=0.5)
    assert pq_.ingest(df) == 3
    got = pq_.receive(10)
    # g1 head + g2 — g1's second message is group-blocked
    assert len(got) == 2
    assert {g["group_id"] for g in got} == {"g1", "g2"}
    # nack g1 head → deliverable again, still blocking its group-mate
    g1 = next(g for g in got if g["group_id"] == "g1")
    pq_.nack([g1["ack_id"]])
    got2 = pq_.receive(10)
    assert len(got2) == 1 and json.loads(got2[0]["data"])["n"] == 1
    # ack unblocks the group
    pq_.ack([got2[0]["ack_id"]])
    got3 = pq_.receive(10)
    assert len(got3) == 1 and json.loads(got3[0]["data"])["n"] == 2
    # visibility timeout: unacked lease returns
    time.sleep(0.6)
    got4 = pq_.receive(10)
    assert len(got4) >= 1
    assert pq_.depth() == 2  # g1 second + g2 never acked


def test_load_shedding_policies(spark, tmp_path):
    """load_shedding_policy (sink_consumer.ex:100): pause spills new
    messages to the disk-backed FIFO overflow (the reference pauses
    intake and lets the WAL absorb the backlog — raising here instead
    killed the stream on post-restart catch-up bursts, found by the
    r11 chaos-under-load soak); discard drops new messages and counts
    them."""
    df = spark.createDataFrame(
        [("g1", 1, 0, "k", "g1", "{}")],
        "group_id string, commit_lsn long, commit_idx long, idempotency_key string, key string, value string",
    )
    fresh = spark.createDataFrame(
        [("g9", 9, 0, "k9", "g9", "{}")],
        "group_id string, commit_lsn long, commit_idx long, idempotency_key string, key string, value string",
    )
    for policy in ("pause_on_full", "discard_on_full"):
        engine = DeliveryEngine(
            "failing", {"fail_substring": "g1"},
            state_dir=str(tmp_path / f"state_{policy}"),
            max_retry_count=5, backoff_base_s=120.0,
            load_shedding_policy=policy, max_pending=1,
        )
        stats = engine.process_batch(df, 0)
        assert stats["pending"] == 1
        if policy == "pause_on_full":
            stats2 = engine.process_batch(fresh, 1)
            assert stats2["spilled"] == 1 and stats2["delivered"] == 0
            assert stats2["overflow_backlog"] == 1 and stats2["shed"] == 0
            # strict FIFO: while the spill is non-empty every new row
            # routes through it (no overtake path)
            fresh2 = fresh.withColumn("commit_lsn", F.lit(10).cast("long"))
            stats3 = engine.process_batch(fresh2, 2)
            assert stats3["spilled"] == 1
            assert stats3["overflow_backlog"] == 2
        else:
            stats2 = engine.process_batch(fresh, 1)
            assert stats2["shed"] == 1 and stats2["delivered"] == 0
    with pytest.raises(ValueError):
        DeliveryEngine("benchmark", load_shedding_policy="nope")


def test_acked_ring_and_consistency(spark, sf_dir, tmp_path):
    """Acknowledged ring (acknowledged_messages.ex) + consistency audit
    (message_consistency_check_worker analog)."""
    from sequin_spark.streaming.consistency import verify_consistency

    spec = ConsumerSpec(name="cr", sink_type="benchmark")
    pipe = ConsumerPipeline(spec, state_dir=str(tmp_path / "state"))
    compiled = pipe.compile(eventize_orders(spark, sf_dir).limit(50))
    pipe.engine.acked_ring_size = 10
    pipe.engine.process_batch(compiled, 0)
    ring = pipe.engine.acked_ring()
    assert ring is not None and len(ring) == 10  # trimmed to ring size
    report = verify_consistency(spark, compiled, pipe.engine)
    assert report["consistent"] and report["delivered"] == 50 and report["missing"] == 0
    # an event the engine never saw → flagged missing
    extra = compiled.limit(0).sparkSession.createDataFrame(
        [(999999, 0, "ghost")], "commit_lsn long, commit_idx long, idempotency_key string"
    )
    report2 = verify_consistency(spark, compiled.select("commit_lsn", "commit_idx", "idempotency_key").unionByName(extra), pipe.engine)
    assert report2["missing"] == 1 and not report2["consistent"]


def test_identity_dedup_fused_into_group_partition(spark, tmp_path):
    """Duplicate identities are dropped by the sorted partition-local
    dedup (incl. across Arrow frame boundaries), exactly like the old
    identity-keyed dropDuplicates shuffle."""
    rows = []
    # 30 distinct events in one group, each duplicated 3x → with
    # maxRecordsPerBatch=10 the duplicates straddle frame boundaries
    for i in range(30):
        for _ in range(3):
            rows.append(("g1", 100 + i, 0, f"k{i}", "g1", f'{{"n":{i}}}'))
    df = spark.createDataFrame(
        rows,
        "group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string",
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        engine = DeliveryEngine(
            "benchmark", state_dir=str(tmp_path / "state"), partition_count=2
        )
        stats = engine.process_batch(df, 0)
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        else:
            # get(key, None) means "was unset" — restoring by set()
            # would LEAK 10-row Arrow frames into every later test in
            # the session (how the cross-frame group-blocking bug was
            # found, and also how it was masked in alphabetical runs)
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert stats["delivered"] == 30
    # ledger holds each identity at most once per task-write; a replay
    # of the same batch is fully filtered by the anti-join
    stats2 = engine.process_batch(df, 1)
    assert stats2["delivered"] == 0


def test_ledger_trim_bounds_antijoin_window(spark, tmp_path):
    """With ledger_trim_batches set (streaming), identities older than
    the watermark are dropped at compaction; identities within the
    window still dedup replays. lsn==0 (backfill-read) rows are never
    trimmed."""
    def batch(lsn, key="b"):
        return spark.createDataFrame(
            [("g1", lsn, 0, f"{key}{lsn}", "g1", '{"n":1}')],
            "group_id string, commit_lsn long, commit_idx long, "
            "idempotency_key string, key string, value string",
        )

    engine = DeliveryEngine(
        "benchmark", state_dir=str(tmp_path / "state"),
        ledger_trim_batches=2, ledger_compact_files=1,
    )
    backfill = spark.createDataFrame(
        [("g0", 0, 0, "bf-1", "g0", '{"n":0}')],
        "group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string",
    )
    engine.process_batch(backfill, 0)
    for bid, lsn in enumerate((10, 20, 30, 40), start=1):
        assert engine.process_batch(batch(lsn), bid)["delivered"] == 1
    # watermark = max lsn from 2 batches ago = 30
    assert engine._ledger_trim_lsn == 30
    # a replay INSIDE the window is still deduped
    assert engine.process_batch(batch(40), 5)["delivered"] == 0
    # backfill lsn==0 identity survives trimming forever
    assert engine.process_batch(backfill, 6)["delivered"] == 0
    # ledger on disk no longer carries the trimmed identities
    ledger = engine.read_ledger(spark).toPandas()
    assert 10 not in set(ledger["commit_lsn"])
    assert 0 in set(ledger["commit_lsn"])


def test_ledger_compaction(spark, tmp_path):
    df_schema = "group_id string, commit_lsn long, commit_idx long, idempotency_key string, key string, value string"
    engine = DeliveryEngine("benchmark", state_dir=str(tmp_path / "state"), ledger_compact_files=3)
    import os as _os

    for i in range(4):
        df = spark.createDataFrame([(f"g{i}", i, 0, f"k{i}", f"g{i}", "{}")], df_schema)
        engine.process_batch(df, i)
    files = _os.listdir(engine.ledger_dir)
    assert len(files) <= 2  # compacted
    assert engine.read_ledger(spark).count() == 4  # nothing lost


def test_ledger_left_in_partition_subdirs_still_dedupes(spark, tmp_path):
    """Older versions could write the ledger as per-partition
    subdirectories (ledger/p00000/*.parquet, with an extra group_id
    column).  After an upgrade those identities must still suppress
    redelivery, also once flat-ledger compaction has run beside them."""
    import os as _os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as papq

    df_schema = ("group_id string, commit_lsn long, commit_idx long, "
                 "idempotency_key string, key string, value string")
    rows = [(f"g{i % 3}", 100 + i, 0, f"k{i}", f"g{i % 3}", "{}")
            for i in range(6)]
    state = tmp_path / "state"
    slice_dir = state / "ledger" / "p00000"
    slice_dir.mkdir(parents=True)
    old = pd.DataFrame(
        [(lsn, idx, key, grp) for grp, lsn, idx, key, _k, _v in rows],
        columns=["commit_lsn", "commit_idx", "idempotency_key", "group_id"])
    papq.write_table(pa.Table.from_pandas(old, preserve_index=False),
                     str(slice_dir / "batch-0-old.parquet"))
    (state / "ledger" / "_layout.json").write_text('{"partition_count": 8}')

    engine = DeliveryEngine("benchmark", state_dir=str(state),
                            ledger_compact_files=2)
    assert engine.process_batch(
        spark.createDataFrame(rows, df_schema), 1)["delivered"] == 0
    # new identities still deliver, and their flat files compact
    for bid in (2, 3):
        fresh = [(f"g{bid}", 200 + bid, 0, f"n{bid}", f"g{bid}", "{}")]
        assert engine.process_batch(
            spark.createDataFrame(fresh, df_schema), bid)["delivered"] == 1
    assert any(f.startswith("compact-")
               for f in _os.listdir(engine.ledger_dir))
    assert engine.process_batch(
        spark.createDataFrame(rows, df_schema), 4)["delivered"] == 0


def test_yaml_plan_apply(tmp_path):
    doc = """
consumers:
  - name: orders-to-kafka
    sink_type: kafka
    source: {include_schemas: [public], include_tables: [orders]}
    actions: [insert, update]
    filter: "record['o_totalprice'] != ''"
    routing_overrides:
      topic: "'cdc.' + record['o_orderstatus']"
  - name: bad
    sink_type: no_such
    filter: "__import__('os')"
"""
    specs = load_yaml(doc)
    assert len(specs) == 2
    assert isinstance(specs[0].source, Source)
    report = plan(specs)
    assert report["consumers"][0]["name"] == "orders-to-kafka"
    assert "bad" in report["errors"]
    errs = " ".join(report["errors"]["bad"])
    assert "no_such" in errs and "MiniPy" in errs


def test_sink_registry_coverage():
    """All 17 reference sink types (+ internal test sinks) construct and
    validate; unavailable clients fail loudly at open()."""
    reference_sinks = [
        "http_push", "kafka", "sqs", "sns", "kinesis", "s2", "redis_stream",
        "redis_string", "gcp_pubsub", "nats", "rabbitmq", "azure_event_hub",
        "elasticsearch", "typesense", "meilisearch", "sequin_stream", "benchmark",
        "postgres",
    ]
    for st in reference_sinks:
        sink = create_sink(st)
        assert sink is not None
    # redis has a real RESP2 socket transport now: open() against a
    # port nothing listens on must fail loudly with a connection error,
    # not silently no-op.
    with pytest.raises(OSError):
        create_sink("redis_string").open()
    with pytest.raises(ValueError):
        create_sink("nope")


def test_pull_queue_crash_recovery_ack_log(spark, tmp_path):
    """The drain path's persistence model: full window snapshots only on
    composition changes, acks in an append-only log.  A rebuilt queue
    (crash analog) must (a) never resurrect acked messages — the log
    replays over the last snapshot — and (b) redeliver unacked LEASED
    messages after the visibility timeout (lease state is volatile,
    the reference's at-least-once restart contract)."""
    df = spark.createDataFrame(
        [("g1", 1, 0, '{"n":1}'), ("g2", 1, 1, '{"n":2}'),
         ("g3", 2, 0, '{"n":3}')],
        "group_id string, commit_lsn long, commit_idx long, value string",
    )
    state = str(tmp_path / "pq")
    q1 = PullQueue(state, ack_wait_s=0.2)
    q1.ingest(df)
    got = q1.receive(10)
    assert len(got) == 3
    acked = next(g for g in got if g["group_id"] == "g2")
    q1.ack([acked["ack_id"]])

    # crash: rebuild from disk only
    q2 = PullQueue(state, ack_wait_s=0.2)
    assert q2.depth() == 2  # g2 gone (ack log), g1+g3 survive
    time.sleep(0.25)        # leases were volatile → stale → redeliver
    redelivered = q2.receive(10)
    assert {json.loads(g["data"])["n"] for g in redelivered} == {1, 3}

    # ack both; a third rebuild starts empty
    q2.ack([g["ack_id"] for g in redelivered])
    q3 = PullQueue(state, ack_wait_s=0.2)
    assert q3.depth() == 0 and q3.receive(10) == []


def test_pull_queue_refill_snapshots_absorbed_chunks(spark, tmp_path):
    """_refill deletes the spill chunks it absorbs, so it must snapshot
    the window in the same call — a crash right after a refill may not
    lose the absorbed rows."""
    rows = [("g%d" % (i % 7), i, 0, '{"n":%d}' % i) for i in range(40)]
    df = spark.createDataFrame(
        rows, "group_id string, commit_lsn long, commit_idx long, "
              "value string")
    state = str(tmp_path / "pq")
    q1 = PullQueue(state, ack_wait_s=60.0, max_pending=10)
    q1.ingest(df)
    assert q1.spilled() > 0
    delivered = set()
    # drain half: acks trigger refills which absorb (and delete) chunks
    for _ in range(4):
        got = q1.receive(5)
        q1.ack([g["ack_id"] for g in got])
        delivered |= {json.loads(g["data"])["n"] for g in got}
    # crash: everything not acked must still be recoverable
    q2 = PullQueue(state, ack_wait_s=60.0, max_pending=10)
    remaining = set()
    for _ in range(40):
        got = q2.receive(5)
        if not got and q2.depth() == 0:
            break
        q2.ack([g["ack_id"] for g in got])
        remaining |= {json.loads(g["data"])["n"] for g in got}
    assert delivered | remaining == set(range(40))
    assert not (delivered & remaining)  # acked rows never resurrected


def test_pause_on_full_overflow_drains_fifo_exactly_once(spark, tmp_path):
    """r11: the pause_on_full overflow must ABSORB a burst (no raise,
    no loss), hold strict FIFO while non-empty (a newer row cannot
    overtake a spilled one), re-ingest oldest-first within pending
    headroom, and reap its dirs only after delivery so replays stay
    exactly-once via the ledger."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    attempt_dir = str(tmp_path / "attempts")
    os.makedirs(attempt_dir)
    engine = DeliveryEngine(
        "failing", {"fail_substring": "X", "attempt_dir": attempt_dir},
        state_dir=str(tmp_path / "state"),
        max_retry_count=5, backoff_base_s=120.0,  # deterministic: rewound by hand
        load_shedding_policy="pause_on_full", max_pending=2,
    )
    sch = ("group_id string, commit_lsn long, commit_idx long, "
           "idempotency_key string, key string, value string")

    def rows(*tups):
        return spark.createDataFrame(list(tups), sch)

    def rewind_pending_clock():
        pending = papq.read_table(engine.pending_path).to_pandas()
        pending["not_visible_until"] = time.time() - 1
        papq.write_table(pa.Table.from_pandas(pending, preserve_index=False),
                         engine.pending_path)

    # batch 0: two first-attempt failures fill pending to the cap
    s0 = engine.process_batch(
        rows(("gXa", 1, 0, "kXa", "Xa", "{}"),
             ("gXb", 1, 1, "kXb", "Xb", "{}")), 0)
    assert s0["failed"] == 2 and s0["pending"] == 2

    # batches 1-2: cap reached → new rows spill, nothing raises, and
    # the strict-FIFO rule routes EVERY new row through the spill
    s1 = engine.process_batch(rows(("gF", 2, 0, "kF1", "F1", "{}")), 1)
    assert s1["spilled"] == 1 and s1["overflow_backlog"] == 1
    assert s1["delivered"] == 0 and s1["shed"] == 0
    s2 = engine.process_batch(rows(("gF", 3, 0, "kF2", "F2", "{}")), 2)
    assert s2["spilled"] == 1 and s2["overflow_backlog"] == 2
    assert s2["delivered"] == 0

    # batch 3: backoff rewound → the retries drain pending, but the
    # batch STARTED with pending at the cap, so no headroom yet
    rewind_pending_clock()
    s3 = engine.process_batch(rows(), 3)
    assert s3["delivered"] == 2 and s3["pending"] == 0  # kXa, kXb
    assert s3["reingested"] == 0 and s3["overflow_backlog"] == 2

    # batch 4: headroom is back → oldest-first re-ingest delivers both
    # spilled rows (F1 before F2 inside the ordered delivery pass)
    s4 = engine.process_batch(rows(), 4)
    assert s4["reingested"] == 2 and s4["delivered"] == 2
    assert s4["overflow_backlog"] == 0

    # batch 5 reaps any idle empty spill; by batch 6 the overflow is
    # gone and the direct path resumes
    s5 = engine.process_batch(rows(), 5)
    assert s5["delivered"] == 0 and s5["overflow_backlog"] == 0
    s6 = engine.process_batch(rows(("gF", 4, 0, "kF3", "F3", "{}")), 6)
    assert s6["delivered"] == 1 and s6["spilled"] == 0

    # exactly-once: ledger holds each identity exactly once
    led = engine.read_ledger(spark).collect()
    ids = [(r["commit_lsn"], r["commit_idx"], r["idempotency_key"])
           for r in led]
    assert sorted(ids) == sorted(set(ids))
    assert {k for _, _, k in ids} == {"kXa", "kXb", "kF1", "kF2", "kF3"}


def test_pause_on_full_overflow_replay_is_exactly_once(spark, tmp_path):
    """A batch REPLAY while paused (crash before
    checkpoint) spills the same rows twice; the drain must deliver
    them once — the ledger anti-join drops the second copy."""
    import os

    attempt_dir = str(tmp_path / "attempts")
    os.makedirs(attempt_dir)
    import pyarrow as pa
    import pyarrow.parquet as papq

    engine = DeliveryEngine(
        "failing", {"fail_substring": "X", "attempt_dir": attempt_dir},
        state_dir=str(tmp_path / "state"),
        max_retry_count=5, backoff_base_s=120.0,
        load_shedding_policy="pause_on_full", max_pending=1,
    )
    sch = ("group_id string, commit_lsn long, commit_idx long, "
           "idempotency_key string, key string, value string")
    blocker = spark.createDataFrame([("gX", 1, 0, "kX", "X", "{}")], sch)
    burst = spark.createDataFrame([("gB", 2, 0, "kB", "B", "{}")], sch)

    assert engine.process_batch(blocker, 0)["pending"] == 1
    assert engine.process_batch(burst, 1)["spilled"] == 1
    # replay of batch 1 (same rows, same batch_id) — second spill copy
    assert engine.process_batch(burst, 1)["spilled"] == 1

    pending = papq.read_table(engine.pending_path).to_pandas()
    pending["not_visible_until"] = time.time() - 1
    papq.write_table(pa.Table.from_pandas(pending, preserve_index=False),
                     engine.pending_path)
    s2 = engine.process_batch(spark.createDataFrame([], sch), 2)
    assert s2["delivered"] == 1 and s2["pending"] == 0  # kX drains
    total = 0
    for b in (3, 4, 5):
        s = engine.process_batch(spark.createDataFrame([], sch), b)
        total += s["delivered"]
    assert total == 1  # kB exactly once despite two spill copies
    led = engine.read_ledger(spark).collect()
    keys = sorted(r["idempotency_key"] for r in led)
    assert keys == ["kB", "kX"]


def test_group_blocking_carries_across_arrow_frames(spark, tmp_path):
    """r11: `failed_groups` must be TASK-scoped, not frame-scoped —
    with small Arrow frames a failed group's later rows used to arrive
    in the next frame with the blocking set reset and deliver ahead of
    their failed head (per-group order violation, caught by the chaos
    sweep under maxRecordsPerBatch=10)."""
    rows = [("gX", 1000 + i, 0, f"kX{i}", "X", '{"n":%d}' % i)
            for i in range(12)]
    rows += [("gok", 2000 + i, 0, f"kok{i}", "ok", "{}") for i in range(3)]
    df = spark.createDataFrame(
        rows,
        "group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        engine = DeliveryEngine(
            "failing",
            {"fail_substring": "X"},
            state_dir=str(tmp_path / "state"),
            batch_size=3, max_retry_count=9, backoff_base_s=120.0,
            partition_count=1,
        )
        stats = engine.process_batch(df, 0)
    finally:
        if old is not None:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)
        else:
            spark.conf.unset(
                "spark.sql.execution.arrow.maxRecordsPerBatch")
    # the first gX chunk (3 rows) fails; EVERY later gX row —
    # including those in later Arrow frames — must be blocked, never
    # delivered
    assert stats["delivered"] == 3  # the gok rows only
    assert stats["failed"] == 3 and stats["blocked"] == 9
    # nothing from gX reached the ledger
    led = engine.read_ledger(spark)
    if led is not None:
        assert all(r["idempotency_key"].startswith("kok")
                   for r in led.collect())
