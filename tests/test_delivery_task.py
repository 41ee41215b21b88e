"""The delivery task (``deliver_partition``) run directly over hand-built
Arrow frames — no Spark job — and the redis_string routing ``key``
through ``ConsumerPipeline.run_batch``."""

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sequin_spark.plans.spec import ConsumerSpec
from sequin_spark.schema import EVENT_SCHEMA
from sequin_spark.sinks.base import SINK_REGISTRY, Sink
from sequin_spark.sinks.redis import build_string_commands
from sequin_spark.streaming.delivery import (
    LAT_BUCKETS_US, LAT_INF, deliver_partition, state_files)
from sequin_spark.streaming.pipeline import ConsumerPipeline
from tests.test_search_sinks import FakeRedis

ROW_SCHEMA = pa.schema([
    ("group_id", pa.string()), ("commit_lsn", pa.int64()),
    ("commit_idx", pa.int64()), ("idempotency_key", pa.string()),
    ("key", pa.string()), ("value", pa.string()),
    ("headers", pa.map_(pa.string(), pa.string())),
    ("expire_ms", pa.int64()), ("deliver_count", pa.int32()),
])


class RecordingSink(Sink):
    """Records every chunk it is handed (the task runs in-process here);
    fails a chunk that holds a row whose ``key`` is in ``fail_keys``."""

    sink_type = "test_recording"
    calls: list = []

    def deliver(self, batch):
        RecordingSink.calls.append(batch)
        if any(r["key"] in self.config.get("fail_keys", ()) for r in batch.rows):
            raise RuntimeError("injected failure")


@pytest.fixture(autouse=True)
def recording_sink(monkeypatch):
    """Registered for this module's tests only: other modules
    parametrize over the sink registry."""
    monkeypatch.setitem(SINK_REGISTRY, RecordingSink.sink_type, RecordingSink)


def row(group, lsn, key=None, *, headers=None, expire_ms=None, deliver_count=0):
    return {"group_id": group, "commit_lsn": lsn, "commit_idx": 0,
            "idempotency_key": f"k{lsn}", "key": key or group,
            "value": '{"n":%d}' % lsn, "headers": headers,
            "expire_ms": expire_ms, "deliver_count": deliver_count}


def frame(*rows):
    return pa.RecordBatch.from_pylist(list(rows), schema=ROW_SCHEMA)


def run(tmp_path, frames, *, fail_keys=(), ledger=frozenset(),
        blocked=frozenset()):
    """Run the task over ``frames``; return (summary rows, ledger rows,
    failure rows, failure-file schemas)."""
    RecordingSink.calls = []
    ledger_dir, fail_dir = str(tmp_path / "ledger"), str(tmp_path / "fail")
    out = list(deliver_partition(
        iter(frames), batch_id=0, sink_type=RecordingSink.sink_type,
        sink_config={"fail_keys": list(fail_keys)}, batch_cols=("headers",),
        batch_size=100, batch_bytes=None, ledger_dir=ledger_dir,
        fail_dir=fail_dir, ring_size=1000, ledger=ledger, blocked=blocked))
    summary = pa.Table.from_batches(out).to_pylist()
    led = [r for f in state_files(ledger_dir) for r in pq.read_table(f).to_pylist()]
    fail_tables = [pq.read_table(f) for f in state_files(fail_dir)]
    fails = sorted((r for t in fail_tables for r in t.to_pylist()),
                   key=lambda r: r["commit_lsn"])
    return summary, led, fails, [t.schema for t in fail_tables]


def counts(summary):
    out: dict = {}
    for s in summary:
        if s["kind"] == "agg":
            out[s["status"]] = out.get(s["status"], 0) + s["n"]
    return out


def identities(rows):
    return sorted((r["commit_lsn"], r["commit_idx"], r["idempotency_key"])
                  for r in rows)


def test_duplicate_straddling_frames_is_dropped(tmp_path):
    summary, led, fails, _ = run(tmp_path, [
        frame(row("g", 1), row("g", 2)),
        frame(row("g", 2), row("g", 3)),  # lsn 2 again, across the boundary
    ])
    assert counts(summary) == {"delivered": 3}
    assert identities(led) == [(1, 0, "k1"), (2, 0, "k2"), (3, 0, "k3")]
    assert fails == []
    sent = [r["commit_lsn"] for c in RecordingSink.calls for r in c.rows]
    assert sent == [1, 2, 3]
    ring = [s for s in summary if s["kind"] == "ring"]
    assert [(s["commit_lsn"], s["group_id"]) for s in ring] == [
        (1, "g"), (2, "g"), (3, "g")]
    # the task's closing summary: one task row and the latency histogram
    # of its two sink calls (one per frame)
    assert [s["n"] for s in summary if s["kind"] == "task"] == [1]
    lat = [s for s in summary if s["kind"] == "lat"]
    assert {s["status"] for s in lat} == {"true"}
    assert all(s["commit_lsn"] in (*LAT_BUCKETS_US, LAT_INF) for s in lat)
    assert [s["n"] for s in summary if s["kind"] == "lat_agg"] == [2]


def test_ledger_identity_is_dropped(tmp_path):
    summary, led, fails, _ = run(
        tmp_path, [frame(row("g", 1), row("g", 2), row("h", 3))],
        ledger=frozenset({(2, 0, "k2")}))
    assert counts(summary) == {"delivered": 2}
    assert identities(led) == [(1, 0, "k1"), (3, 0, "k3")]
    assert fails == []


def test_blocked_group_rows_are_deferred(tmp_path):
    summary, led, fails, _ = run(
        tmp_path, [frame(row("a", 1), row("a", 2), row("b", 3))],
        blocked=frozenset({"a"}))
    assert counts(summary) == {"delivered": 1, "deferred": 2}
    assert identities(led) == [(3, 0, "k3")]
    assert [(r["commit_lsn"], r["status"], r["error"]) for r in fails] == [
        (1, "deferred", "group blocked (backoff head)"),
        (2, "deferred", "group blocked (backoff head)")]
    # the payload rides in the failure row, as the task saw it
    assert fails[0]["value"] == '{"n":1}' and fails[0]["deliver_count"] == 0


def test_failed_chunk_blocks_its_group_in_the_next_frame(tmp_path):
    summary, led, fails, _ = run(tmp_path, [
        frame(row("x", 1, "bad", deliver_count=2)),
        frame(row("x", 2), row("y", 3)),
    ], fail_keys=("bad",))
    assert counts(summary) == {"failed": 1, "blocked": 1, "delivered": 1}
    assert identities(led) == [(3, 0, "k3")]
    assert [(r["commit_lsn"], r["status"], r["deliver_count"]) for r in fails] == [
        (1, "failed", 2), (2, "blocked", 0)]
    assert fails[0]["error"] == "injected failure"
    assert fails[1]["error"] == "group blocked"
    sent = [r["commit_lsn"] for c in RecordingSink.calls for r in c.rows]
    assert sent == [1, 3]  # the blocked row never reached the sink
    assert [s["n"] for s in summary
            if s["kind"] == "lat_agg" and s["status"] == "false"] == [1]


def test_null_long_routing_value_stays_none(tmp_path):
    summary, _, fails, _ = run(tmp_path, [frame(
        row("a", 1, "sequin:t:1"), row("b", 2, "sequin:t:2", expire_ms=500),
        row("c", 3, "bad"))], fail_keys=("bad",))
    assert counts(summary) == {"failed": 3}
    rows = RecordingSink.calls[0].rows
    assert [r["expire_ms"] for r in rows] == [None, 500, None]
    cmds = build_string_commands(rows)
    assert cmds[0] == ("SET", "sequin:t:1", '{"n":1}')
    assert cmds[1] == ("SET", "sequin:t:2", '{"n":2}', "PX", 500)
    assert [r["expire_ms"] for r in fails] == [None, 500, None]


def test_map_headers_reach_the_sink_as_dict_and_fail_as_map(tmp_path):
    hdrs = [("x-a", "1"), ("x-b", "2")]
    summary, _, fails, schemas = run(tmp_path, [frame(
        row("a", 1, "bad", headers=hdrs), row("b", 2, headers=None))],
        fail_keys=("bad",))
    assert counts(summary) == {"failed": 1, "delivered": 1}
    first = RecordingSink.calls[0]
    assert first.routing == {"headers": {"x-a": "1", "x-b": "2"}}
    assert first.rows[0]["headers"] == {"x-a": "1", "x-b": "2"}
    assert RecordingSink.calls[1].routing == {"headers": None}
    # the failure file is the frame's own schema plus status and error
    (schema,) = schemas
    assert schema.names == ROW_SCHEMA.names + ["status", "error"]
    assert pa.types.is_map(schema.field("headers").type)
    assert fails[0]["headers"] == hdrs


# --- redis_string routing through the pipeline ---------------------------
def _redis_events(spark):
    return spark.createDataFrame([{
        "action": "insert", "record": {"id": "1"}, "changes": None,
        "table_schema": "public", "table_name": "t", "table_oid": 1,
        "record_pks": ["1"], "group_id": "1", "commit_lsn": 100,
        "commit_idx": 0, "commit_timestamp": None, "idempotency_key": "k1",
        "trace_id": None, "transaction_annotations": None,
    }], EVENT_SCHEMA)


def _redis_pipe(tmp_path, srv, **spec_kw):
    spec = ConsumerSpec(name="r", sink_type="redis_string",
                        sink_config={"url": f"redis://127.0.0.1:{srv.port}"},
                        **spec_kw)
    return ConsumerPipeline(spec, state_dir=str(tmp_path / "state"))


@pytest.mark.parametrize("overrides, command", [
    # default routing: key sequin:<table>:<pk>, a null expire_ms, no PX
    ({}, ("SET", "sequin:t:1")),
    ({"expire_ms": "1000"}, ("SET", "sequin:t:1", "PX", "1000")),
    ({"key": "'custom:' + record['id']"}, ("SET", "custom:1")),
])
def test_redis_string_routing_key_wins(spark, tmp_path, overrides, command):
    srv = FakeRedis()
    try:
        pipe = _redis_pipe(tmp_path, srv, routing_overrides=overrides)
        stats = pipe.run_batch(_redis_events(spark), 0)
    finally:
        srv.close()
    assert stats["delivered"] == 1 and stats["failed"] == 0
    ((verb, key, value, *px),) = srv.commands
    assert (verb, key, *px) == command
    assert '"id":"1"' in value


def test_redis_string_failure_goes_pending_then_delivers_once(spark, tmp_path):
    ev = _redis_events(spark)
    bad = FakeRedis(fail_key="sequin:t:1")
    try:
        pipe = _redis_pipe(tmp_path, bad)
        stats = pipe.run_batch(ev, 0)
    finally:
        bad.close()
    assert stats["failed"] == 1 and stats["pending"] == 1
    assert stats["delivered"] == 0
    # the sink heals; once the 1 s backoff has passed, the retry and a
    # source redelivery of the same event deliver it once
    good = FakeRedis()
    try:
        pipe.engine.sink_config["url"] = f"redis://127.0.0.1:{good.port}"
        time.sleep(1.2)
        stats = pipe.run_batch(ev, 1)
    finally:
        good.close()
    assert stats["delivered"] == 1 and stats["pending"] == 0
    assert [c[:2] for c in good.commands] == [("SET", "sequin:t:1")]
    assert not os.path.exists(pipe.engine.pending_path)
