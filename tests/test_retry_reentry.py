"""Due retries re-enter delivery as one typed scan of pending.parquet.

Every state file the delivery engine writes (task failures, pending,
discards) carries the Arrow form of the rows' Spark schema, so a
map-typed routing column (http_push ``headers``) survives the round
trip, and any number of due retries comes back in as one parquet scan
with an explicit schema.
"""

import http.server
import json
import os
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sequin_spark.streaming.delivery import DeliveryEngine

ROW_SCHEMA = ("group_id string, commit_lsn long, commit_idx long, "
              "idempotency_key string, key string, value string")
ROW_SCHEMA_COLS = [c.split()[0] for c in ROW_SCHEMA.split(", ")]
HTTP_ROUTING = ("method", "endpoint_path", "headers")


@pytest.fixture
def flaky_receiver():
    """A local webhook that answers 500 to the first request for each
    body and 200 to every later one; records (body, X-A, X-B) of the
    200s."""
    got: list = []
    seen: set = set()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            body = self.rfile.read(int(self.headers["Content-Length"]))
            if body not in seen:
                seen.add(body)
                self.send_response(500)
            else:
                got.append((json.loads(body), self.headers.get("X-A"),
                            self.headers.get("X-B")))
                self.send_response(200)
            self.end_headers()

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_port}", got
    finally:
        srv.shutdown()
        srv.server_close()
        t.join()


def _http_rows(spark, headers=(("X-A", "1"),)):
    """One row per header pair, each in its own group, with a map
    ``headers`` routing value holding just that pair."""
    return spark.createDataFrame(
        [(f"g{i}", i, 0, f"k{i}", f"g{i}", json.dumps({"n": i}), hk, hv)
         for i, (hk, hv) in enumerate(headers, 1)],
        ROW_SCHEMA + ", hk string, hv string",
    ).select(*ROW_SCHEMA_COLS, F.lit("POST").alias("method"),
             F.lit("").alias("endpoint_path"),
             F.create_map("hk", "hv").alias("headers"))


def _http_engine(url, tmp_path, **kw):
    return DeliveryEngine(
        "http_push", {"url": url, "max_retries": 0},
        state_dir=str(tmp_path / "state"), routing_cols=HTTP_ROUTING,
        backoff_base_s=0.01, **kw)


def test_http_push_map_headers_retry_delivers_once(spark, tmp_path,
                                                   flaky_receiver):
    """Failed rows whose routing carries a map (http_push headers), with
    different keys per row, come back as maps holding just their own
    keys: the retry batch runs and each row reaches the receiver exactly
    once, with its header."""
    url, got = flaky_receiver
    engine = _http_engine(url, tmp_path)
    rows = _http_rows(spark, (("X-A", "1"), ("X-B", "2")))
    s0 = engine.process_batch(rows, 0)
    assert (s0["delivered"], s0["failed"], s0["pending"]) == (0, 2, 2)
    headers_type = pq.read_schema(engine.pending_path).field("headers").type
    assert pa.types.is_map(headers_type)
    time.sleep(0.05)
    s1 = engine.process_batch(rows.limit(0), 1)
    assert (s1["delivered"], s1["failed"], s1["pending"]) == (2, 0, 0)
    s2 = engine.process_batch(rows.limit(0), 2)
    assert s2["delivered"] == 0
    assert sorted(got, key=lambda g: g[0]["n"]) == [
        ({"n": 1}, "1", None), ({"n": 2}, None, "2")]


def test_http_push_map_headers_redeliver_discarded(spark, tmp_path,
                                                   flaky_receiver):
    """discard → redeliver_discarded → next batch: the admin ops keep
    the map type of the files they read, and the row is delivered once."""
    url, got = flaky_receiver
    engine = _http_engine(url, tmp_path, max_retry_count=0)
    rows = _http_rows(spark)
    s0 = engine.process_batch(rows, 0)
    assert (s0["failed"], s0["discarded"], s0["pending"]) == (1, 1, 0)
    assert engine.redeliver_discarded() == 1
    assert pa.types.is_map(
        pq.read_schema(engine.pending_path).field("headers").type)
    s1 = engine.process_batch(rows.limit(0), 1)
    assert (s1["delivered"], s1["failed"], s1["pending"]) == (1, 0, 0)
    assert got == [({"n": 1}, "1", None)]


def test_due_retries_reenter_in_one_scan(spark, tmp_path):
    """1,100 due retries in 10 groups come back in one batch: each is
    delivered exactly once, in commit order within its group, and the
    batch runs only the delivery job's two jobs (no schema-inference
    job, no copy of the pending rows)."""
    n_groups, per_group = 10, 110
    rows = [(f"g{g}", 1 + g * per_group + i, 0, f"k{g}-{i}", f"g{g}", "{}")
            for g in range(n_groups) for i in range(per_group)]
    engine = DeliveryEngine(
        "failing", {"fail_substring": "g"},
        state_dir=str(tmp_path / "state"), max_retry_count=5,
        backoff_base_s=120.0)
    s0 = engine.process_batch(spark.createDataFrame(rows, ROW_SCHEMA), 0)
    assert s0["delivered"] == 0 and s0["pending"] == len(rows)

    # expire every backoff and switch to a sink that logs what it gets
    pending = pq.read_table(engine.pending_path)
    pending = pending.set_column(
        pending.schema.get_field_index("not_visible_until"),
        "not_visible_until", pa.array([time.time() - 1] * pending.num_rows))
    pq.write_table(pending, engine.pending_path)
    log = tmp_path / "delivered.jsonl"
    engine.sink_type = "chaos"
    engine.sink_config = {"log_path": str(log), "fail_pct": 0,
                          "attempt_dir": str(tmp_path / "attempts")}

    sc = spark.sparkContext
    group = "reentry-" + uuid.uuid4().hex
    sc.setJobGroup(group, "process_batch")
    try:
        s1 = engine.process_batch(
            spark.createDataFrame([], ROW_SCHEMA), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (s1["delivered"], s1["pending"], s1["deferred"]) == (len(rows), 0, 0)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2

    seen = [json.loads(line) for line in log.read_text().splitlines()]
    assert sorted(r["idempotency_key"] for r in seen) == sorted(
        r[3] for r in rows)
    for g in range(n_groups):
        lsns = [r["commit_lsn"] for r in seen if r["group_id"] == f"g{g}"]
        assert lsns == sorted(lsns) and len(lsns) == per_group


def test_untyped_pending_file_still_reads(spark, tmp_path):
    """A pending file written with inferred types is rewritten once in
    the row schema, and its due rows are delivered: an int64
    deliver_count, an all-None column typed null, and a map routing
    value that inference wrote as a struct (the file an http_push
    consumer with map headers was left with after its first failure)."""
    engine = DeliveryEngine(
        "benchmark", {}, state_dir=str(tmp_path / "state"),
        routing_cols=("topic", "headers"))
    os.makedirs(os.path.dirname(engine.pending_path))
    pq.write_table(pa.table({
        "group_id": ["g1", "g2"], "commit_lsn": [1, 2], "commit_idx": [0, 0],
        "idempotency_key": ["k1", "k2"], "key": ["g1", "g2"],
        "value": ["{}", "{}"], "topic": pa.nulls(2),
        "headers": [{"X-A": "1"}, {"X-A": "2"}],
        "deliver_count": pa.array([1, 0], pa.int64()),
        "not_visible_until": [0.0, 4e9],
    }), engine.pending_path)
    empty = spark.createDataFrame(
        [], ROW_SCHEMA + ", topic string, headers map<string,string>")
    stats = engine.process_batch(empty, 0)
    assert (stats["delivered"], stats["pending"]) == (1, 1)
    kept = pq.read_table(engine.pending_path)
    assert kept.schema.field("deliver_count").type == pa.int32()
    assert kept.schema.field("topic").type == pa.string()
    assert pa.types.is_map(kept.schema.field("headers").type)
    assert kept["idempotency_key"].to_pylist() == ["k2"]
    assert kept["headers"].to_pylist() == [[("X-A", "2")]]
