"""Bytes-aware batch chunking (sink_pipeline.ex:413-434) and webhook
gzip compression (http_push_pipeline.ex:153-165,378-405)."""

import gzip
import http.server
import json
import threading

import pytest

from sequin_spark.plans.spec import ConsumerSpec
from sequin_spark.sinks.base import SINK_REGISTRY, SinkBatch, create_sink
from sequin_spark.streaming.delivery import DeliveryEngine
from sequin_spark.streaming.pipeline import ConsumerPipeline


def _mk_df(spark, n, value_size):
    return spark.createDataFrame(
        [
            (f"g{i}", 100 + i, 0, f"ik-{i}", f"k{i}", "x" * value_size)
            for i in range(n)
        ],
        "group_id string, commit_lsn long, commit_idx long, idempotency_key string, "
        "key string, value string",
    )


def _batches(log_dir):
    out = []
    for f in sorted(log_dir.iterdir()):
        out.append([json.loads(l) for l in f.read_text().splitlines()])
    return out


def test_byte_bound_splits_batches(spark, tmp_path):
    """10 × 100-byte rows with batch_bytes=250 → 2-row chunks, even
    though batch_size=200 would allow one chunk."""
    log = tmp_path / "log"
    engine = DeliveryEngine(
        "file_log",
        {"path": str(log)},
        state_dir=str(tmp_path / "state"),
        batch_size=200,
        batch_bytes=250,
        partition_count=1,
    )
    stats = engine.process_batch(_mk_df(spark, 10, 100), 0)
    assert stats["delivered"] == 10
    sizes = sorted(len(b) for b in _batches(log))
    assert sizes == [2, 2, 2, 2, 2]


def test_oversized_row_gets_own_batch(spark, tmp_path):
    """A row bigger than batch_bytes still delivers — alone."""
    log = tmp_path / "log"
    engine = DeliveryEngine(
        "file_log",
        {"path": str(log)},
        state_dir=str(tmp_path / "state"),
        batch_size=200,
        batch_bytes=250,
        partition_count=1,
    )
    df = spark.createDataFrame(
        [
            ("g0", 100, 0, "ik-0", "k0", "x" * 100),
            ("g1", 101, 0, "ik-1", "k1", "y" * 400),  # oversized
            ("g2", 102, 0, "ik-2", "k2", "z" * 100),
        ],
        "group_id string, commit_lsn long, commit_idx long, idempotency_key string, "
        "key string, value string",
    )
    stats = engine.process_batch(df, 0)
    assert stats["delivered"] == 3
    batches = _batches(log)
    big = [b for b in batches if any(len(r["value"]) == 400 for r in b)]
    assert len(big) == 1 and len(big[0]) == 1  # oversized row rode alone


def test_count_bound_still_applies(spark, tmp_path):
    log = tmp_path / "log"
    engine = DeliveryEngine(
        "file_log",
        {"path": str(log)},
        state_dir=str(tmp_path / "state"),
        batch_size=4,
        partition_count=1,
    )
    stats = engine.process_batch(_mk_df(spark, 10, 10), 0)
    assert stats["delivered"] == 10
    assert sorted(len(b) for b in _batches(log)) == [2, 4, 4]


def _mk_routed_df(spark, n, topic_of):
    return spark.createDataFrame(
        [
            (f"g{i}", 100 + i, 0, f"ik-{i}", f"k{i}", "x" * 10,
             topic_of(i), f"g{i}")
            for i in range(n)
        ],
        "group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string, "
        "topic string, message_key string",
    )


def test_per_message_routing_keys_do_not_close_chunks(spark, tmp_path):
    """kafka-style routing = (topic, message_key): message_key varies
    per ROW but is a per-message attribute, not a Broadway batch_key
    (sink_pipeline.ex:371-430) — 10 rows with 10 distinct keys and one
    topic must ride in ONE sink call, not 10.  Closing chunks on
    per-message keys degenerated to one-row sink calls at 100k-group
    cardinality (r11 chaos soak: ~700 rows/s delivery ceiling)."""
    log = tmp_path / "log"
    engine = DeliveryEngine(
        "file_log",
        {"path": str(log)},
        state_dir=str(tmp_path / "state"),
        batch_size=200,
        routing_cols=("topic", "message_key"),
        partition_count=1,
    )
    assert engine.batch_cols == ("topic",)
    stats = engine.process_batch(
        _mk_routed_df(spark, 10, lambda i: "t0"), 0)
    assert stats["delivered"] == 10
    assert sorted(len(b) for b in _batches(log)) == [10]


def test_batch_key_change_still_closes_chunks(spark, tmp_path):
    """The true batch key (topic) DOES bound the sink call: every call
    carries one topic.  Each topic keeps one open chunk (the reference's
    per-batch_key Broadway batchers, sink_pipeline.ex:371-430), so rows
    alternating between two topics ride in two calls, not ten."""
    log = tmp_path / "log"
    engine = DeliveryEngine(
        "file_log",
        {"path": str(log)},
        state_dir=str(tmp_path / "state"),
        batch_size=200,
        routing_cols=("topic", "message_key"),
        partition_count=1,
    )
    stats = engine.process_batch(
        _mk_routed_df(spark, 10, lambda i: f"t{i % 2}"), 0)
    assert stats["delivered"] == 10
    calls = _batches(log)
    assert sorted(len(b) for b in calls) == [5, 5]
    for b in calls:
        assert len({r["topic"] for r in b}) == 1
        cursors = [(r["commit_lsn"], r["commit_idx"]) for r in b]
        assert cursors == sorted(cursors)


# The Broadway batch key each registered row sink closes chunks on.
# Sinks without a reference routing schema route (and batch) like kafka.
_KAFKA = ("topic",)
EXPECTED_BATCH_COLS = {
    "kafka": _KAFKA,
    "benchmark": _KAFKA,
    "chaos": _KAFKA,
    "chaos_soak": _KAFKA,
    "failing": _KAFKA,
    "file_log": _KAFKA,
    "sequin_stream": _KAFKA,
    "postgres": _KAFKA,
    "postgres_replica": _KAFKA,
    "http_push": ("method", "endpoint_path", "headers"),
    "gcp_pubsub": ("topic_id", "group_id"),
    "nats": (),
    "redis_stream": (),
    "redis_string": (),
    "sqs": ("queue_url",),
    "sns": ("topic_arn",),
    "kinesis": ("stream_arn",),
    "s2": ("stream",),
    "azure_event_hub": ("event_hub_name",),
    "rabbitmq": ("exchange",),
    "typesense": ("collection", "index_action"),
    "elasticsearch": ("index_name", "index_action"),
    "meilisearch": ("index_name", "index_action", "filter", "function",
                    "context"),
}


@pytest.mark.parametrize(
    "sink_type",
    sorted(set(SINK_REGISTRY) - {"parquet_replica", "scd2_history"}))
def test_consumer_batch_cols_per_sink(sink_type, tmp_path):
    """A consumer's engine derives its chunk-closing batch key from the
    sink's routing schema alone; pin it for every registered row sink."""
    pipe = ConsumerPipeline(ConsumerSpec(name="x", sink_type=sink_type),
                            state_dir=str(tmp_path))
    assert pipe.engine.batch_cols == EXPECTED_BATCH_COLS[sink_type]


def test_pubsub_default_byte_cap():
    sink = create_sink("gcp_pubsub")
    assert sink.default_batch_bytes == int(10 * 1024 * 1024 * 0.9)


class _GzipCapture(http.server.BaseHTTPRequestHandler):
    received: list = []

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers["Content-Length"]))
        if (self.headers.get("Content-Encoding") or "").lower() == "gzip":
            body = gzip.decompress(body)
        _GzipCapture.received.append(
            (self.headers.get("Content-Encoding"), json.loads(body))
        )
        self.send_response(200)
        self.end_headers()

    def log_message(self, *args):
        pass


@pytest.fixture()
def gzip_server():
    _GzipCapture.received = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _GzipCapture)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield srv
    srv.shutdown()


def test_http_push_gzip(gzip_server):
    port = gzip_server.server_address[1]
    sink = create_sink(
        "http_push",
        {"url": f"http://127.0.0.1:{port}", "headers": {"Content-Encoding": "gzip"}},
    )
    sink.deliver(SinkBatch(routing={}, rows=[{"value": json.dumps({"n": 1})}]))
    # routing headers work too, and case-insensitively
    sink2 = create_sink("http_push", {"url": f"http://127.0.0.1:{port}"})
    sink2.deliver(SinkBatch(
        routing={"headers": {"content-encoding": "GZIP"}},
        rows=[{"value": json.dumps({"n": 2})}],
    ))
    # plain request stays uncompressed
    sink2.deliver(SinkBatch(routing={}, rows=[{"value": json.dumps({"n": 3})}]))
    assert _GzipCapture.received == [
        ("gzip", {"n": 1}),
        ("GZIP", {"n": 2}),
        (None, {"n": 3}),
    ]


class _Capture(http.server.BaseHTTPRequestHandler):
    """Webhook receiver: records (path, headers, events) per request,
    in arrival order; headers look up case-insensitively."""
    received: list = []

    def do_POST(self):  # noqa: N802
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        events = body["data"] if "data" in body else [body]
        _Capture.received.append((self.path, self.headers, events))
        self.send_response(200)
        self.end_headers()

    def log_message(self, *args):
        pass


@pytest.fixture()
def capture_url():
    _Capture.received = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Capture)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _mk_http_df(spark, rows):
    """rows: (group_id, commit_lsn, endpoint_path, headers)."""
    return spark.createDataFrame(
        [(g, lsn, 0, f"ik-{lsn}", f"k{lsn}", json.dumps({"lsn": lsn}),
          path, headers)
         for g, lsn, path, headers in rows],
        "group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string, "
        "endpoint_path string, headers map<string,string>",
    )


def test_group_switching_keys_keeps_commit_order(spark, tmp_path, capture_url):
    """One group's rows go to key A, then B, then A: the group's open
    chunk is sent before its next row joins another key's, so they
    arrive as three calls in commit order.  Another group's later row
    for A still joins the open A chunk."""
    engine = DeliveryEngine(
        "http_push", {"url": capture_url},
        state_dir=str(tmp_path / "state"), batch_size=100,
        routing_cols=("endpoint_path",))
    stats = engine.process_batch(_mk_http_df(spark, [
        ("g0", 100, "/a", None), ("g0", 101, "/b", None),
        ("g0", 102, "/a", None), ("g1", 103, "/a", None),
    ]), 0)
    assert stats["delivered"] == 4
    assert [(path, [e["lsn"] for e in events])
            for path, _, events in _Capture.received] == [
        ("/a", [100]), ("/b", [101]), ("/a", [102, 103])]


def test_failed_key_blocks_group_row_queued_for_other_key(spark, tmp_path):
    """A failing chunk for key A blocks its group's later row for key
    B: that row is blocked, never sent, while another group's rows on
    both keys deliver."""
    engine = DeliveryEngine(
        "failing", {"fail_substring": "bad"},
        state_dir=str(tmp_path / "state"), batch_size=100,
        routing_cols=("topic",))
    df = spark.createDataFrame(
        [("g0", 100, 0, "ik-100", "bad", "v", "tA"),
         ("g0", 101, 0, "ik-101", "ok", "v", "tB"),
         ("g1", 102, 0, "ik-102", "ok", "v", "tA"),
         ("g1", 103, 0, "ik-103", "ok", "v", "tB")],
        "group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string, topic string")
    stats = engine.process_batch(df, 0)
    assert (stats["delivered"], stats["failed"], stats["blocked"]) == (2, 1, 1)
    ledger = engine.read_ledger(spark)
    assert sorted(r.idempotency_key for r in ledger.collect()) == [
        "ik-102", "ik-103"]


def test_http_push_per_row_headers_key(spark, tmp_path, capture_url):
    """http_push batches on its headers map, which reaches the task as
    an unhashable value; headers set per row must key buffers, not
    crash them, and every call carries its own rows' headers."""
    engine = DeliveryEngine(
        "http_push", {"url": capture_url},
        state_dir=str(tmp_path / "state"), batch_size=100,
        routing_cols=("endpoint_path", "headers"))
    stats = engine.process_batch(_mk_http_df(spark, [
        (f"g{i}", 100 + i, "", {"X-Shard": str(i % 2)}) for i in range(6)
    ]), 0)
    assert stats["delivered"] == 6
    got = sorted((h["X-Shard"], [e["lsn"] for e in events])
                 for _, h, events in _Capture.received)
    assert got == [("0", [100, 102, 104]), ("1", [101, 103, 105])]


def test_small_batch_runs_one_delivery_task(spark, tmp_path):
    """The delivery exchange is sized to the batch, not to
    partition_count: a 10-row batch is one Python task."""
    engine = DeliveryEngine(
        "file_log", {"path": str(tmp_path / "log")},
        state_dir=str(tmp_path / "state"), partition_count=8)
    stats = engine.process_batch(_mk_df(spark, 10, 10), 0)
    assert stats["delivered"] == 10
    assert stats["delivery_tasks"] == 1


def test_lowered_coalescing_target_spreads_groups(spark, tmp_path):
    """With the adaptive coalescing target lowered, a multi-group batch
    runs more than one delivery task, and every group still arrives
    whole and in commit order."""
    conf = {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1b"}
    prev = {k: spark.conf.get(k, None) for k in conf}
    log = tmp_path / "delivered.jsonl"
    engine = DeliveryEngine(
        "chaos", {"log_path": str(log), "attempt_dir": str(tmp_path / "att"),
                  "fail_pct": 0},
        state_dir=str(tmp_path / "state"), batch_size=5)
    # 40 groups × 3 rows, commit order interleaved across groups
    df = spark.createDataFrame(
        [(f"g{g}", 1000 + j * 40 + g, 0, f"ik-{g}-{j}", f"k{g}", "v")
         for g in range(40) for j in range(3)],
        "group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string")
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        stats = engine.process_batch(df, 0)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert stats["delivered"] == 120
    assert stats["delivery_tasks"] > 1
    by_group: dict = {}
    for line in log.read_text().splitlines():
        r = json.loads(line)
        by_group.setdefault(r["group_id"], []).append(r["commit_lsn"])
    assert by_group == {
        f"g{g}": [1000 + j * 40 + g for j in range(3)] for g in range(40)}
