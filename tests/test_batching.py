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
    """The true batch key (topic) DOES bound the sink call: rows
    alternating between two topics close a chunk at every change —
    order within the sorted run is preserved, one call per run."""
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
    # rows sort by (group_id, ...): g0,g1,g2,... alternate topics, so
    # every adjacent pair differs → 10 single-row calls here (the sort
    # is group-major by design; same-topic runs batch when adjacent)
    assert sorted(len(b) for b in _batches(log)) == [1] * 10


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
