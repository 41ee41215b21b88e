"""GCP Pub/Sub REST + NATS wire-protocol sinks against fake local servers."""

import base64
import http.server
import json
import socket
import threading

import pytest

from sequin_spark.sinks.base import SinkBatch, create_sink

ROWS = [
    {"group_id": "g1", "value": '{"n":1}'},
    {"group_id": "g2", "value": '{"n":2}'},
]


def test_gcp_pubsub_publish():
    received = []

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            received.append((self.path, self.headers.get("Authorization"), body))
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            ids = [str(i) for i in range(len(body["messages"]))]
            self.wfile.write(json.dumps({"messageIds": ids}).encode())

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        sink = create_sink(
            "gcp_pubsub",
            {"endpoint": f"http://127.0.0.1:{srv.server_address[1]}",
             "project": "p1", "token": "tok"},
        )
        sink.open()
        sink.deliver(SinkBatch(routing={"topic_id": "events"}, rows=ROWS))
        path, auth, body = received[0]
        assert path == "/v1/projects/p1/topics/events:publish"
        assert auth == "Bearer tok"
        msgs = body["messages"]
        assert base64.b64decode(msgs[0]["data"]).decode() == '{"n":1}'
        assert msgs[0]["orderingKey"] == "g1"
    finally:
        srv.shutdown()


class FakeNats:
    """Minimal NATS server: greets with INFO, answers PING with PONG,
    records PUB frames."""

    def __init__(self):
        self.published = []
        self.sock = socket.socket()
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        threading.Thread(target=self._serve, daemon=True).start()

    def _serve(self):
        conn, _ = self.sock.accept()
        conn.sendall(b'INFO {"server_id":"fake"}\r\n')
        buf = conn.makefile("rb")
        while True:
            line = buf.readline()
            if not line:
                return
            if line.startswith(b"CONNECT"):
                continue
            if line.startswith(b"PUB"):
                _, subject, nbytes = line.strip().split(b" ")
                payload = buf.read(int(nbytes))
                buf.read(2)  # trailing \r\n
                self.published.append((subject.decode(), payload.decode()))
            elif line.strip() == b"PING":
                conn.sendall(b"PONG\r\n")


def test_nats_publish_wire_protocol():
    fake = FakeNats()
    sink = create_sink("nats", {"host": "127.0.0.1", "port": fake.port})
    sink.open()
    sink.deliver(
        SinkBatch(routing={"subject": "sequin.public.orders.insert"}, rows=ROWS)
    )
    assert fake.published == [
        ("sequin.public.orders.insert", '{"n":1}'),
        ("sequin.public.orders.insert", '{"n":2}'),
    ]
    sink.close()


def test_nats_bad_greeting_fails():
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    s.listen(1)

    def serve():
        conn, _ = s.accept()
        conn.sendall(b"NOT-NATS\r\n")

    threading.Thread(target=serve, daemon=True).start()
    sink = create_sink("nats", {"host": "127.0.0.1", "port": s.getsockname()[1]})
    with pytest.raises(RuntimeError, match="unexpected greeting"):
        sink.open()


def test_gcp_pubsub_ordering_key_e2e_via_engine(spark, tmp_path):
    """r12 verdict task #8 (Broadway parity of the r12 batch-key fix):
    through the real DeliveryEngine configured exactly as a gcp_pubsub
    ConsumerSpec wires it — chunks close on {topic_id, group_id} =
    Broadway's {topic_id, ordering_key} — (a) no publish call ever
    mixes ordering keys, and (b) per-key order survives a MID-BATCH
    failure + retry: the failed key's later chunk is group-blocked
    behind the retry, never published out of order."""
    from sequin_spark.plans.spec import ConsumerSpec
    from sequin_spark.streaming.delivery import DeliveryEngine

    published = []          # (orderingKey set, payload ns) per publish
    fail_once = {"armed": True}

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = json.loads(
                self.rfile.read(int(self.headers["Content-Length"])))
            msgs = body["messages"]
            keys = {m.get("orderingKey") for m in msgs}
            ns = [json.loads(base64.b64decode(m["data"]))["n"]
                  for m in msgs]
            if fail_once["armed"] and "g1" in keys:
                fail_once["armed"] = False
                self.send_response(500)
                self.end_headers()
                self.wfile.write(b"transient")
                return
            published.append((keys, ns))
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(json.dumps(
                {"messageIds": [str(i) for i in range(len(msgs))]}
            ).encode())

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        spec = ConsumerSpec(
            name="pubsub-e2e", sink_type="gcp_pubsub",
            sink_config={"endpoint":
                         f"http://127.0.0.1:{srv.server_address[1]}",
                         "project": "p1", "topic_id": "events"})
        rows = []
        for g, n_vals in (("g1", [1, 2, 3, 4]), ("g2", [1, 2])):
            for n in n_vals:
                rows.append((g, 100, n, f"{g}:{n}", g,
                             json.dumps({"g": g, "n": n}), "events"))
        df = spark.createDataFrame(
            rows,
            "group_id string, commit_lsn long, commit_idx long, "
            "idempotency_key string, key string, value string, "
            "topic_id string")
        engine = DeliveryEngine(
            "gcp_pubsub", dict(spec.sink_config),
            state_dir=str(tmp_path / "state"),
            batch_size=2,                      # g1 spans TWO chunks
            routing_cols=tuple(spec.routing_keys()),
            max_retry_count=5, backoff_base_s=0.0,
        )
        assert engine.batch_cols == ("topic_id", "group_id")
        stats = engine.process_batch(df, 0)
        # g1's first chunk failed mid-batch; its second chunk must be
        # group-blocked, g2 unaffected
        assert stats["delivered"] == 2 and stats["pending"] >= 2
        for _bid in (1, 2):
            engine.process_batch(df.limit(0), _bid)
        assert not fail_once["armed"]         # the injected failure FIRED
        # (a) every publish call carries exactly ONE ordering key
        assert published and all(len(keys) == 1 for keys, _ in published)
        # (b) concatenated per-key payloads are in order despite the
        # failure+retry — and complete
        per_key = {}
        for keys, ns in published:
            per_key.setdefault(next(iter(keys)), []).extend(ns)
        assert per_key["g1"] == [1, 2, 3, 4]
        assert per_key["g2"] == [1, 2]
    finally:
        srv.shutdown()
