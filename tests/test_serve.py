"""`sequin serve` e2e: YAML config + events directory → running
engine (REST API + supervised streams); REST-applied changes picked up
by the reconcile loop."""

import io
import json
import threading
import time
import urllib.request

from sequin_spark.cdc import eventize_orders
from sequin_spark.cli import main


def _count(out_dir):
    if not out_dir.exists():
        return 0
    return sum(len(f.read_text().splitlines()) for f in out_dir.iterdir())


def test_serve_once_applies_and_drains(spark, sf_dir, tmp_path):
    src = tmp_path / "events"
    ev = eventize_orders(spark, sf_dir).limit(60).localCheckpoint()
    ev.coalesce(1).write.mode("append").parquet(str(src))
    out_dir = tmp_path / "delivered"
    cfg = tmp_path / "sequin.yaml"
    cfg.write_text(
        "consumers:\n"
        "  - name: orders-log\n"
        "    sink_type: file_log\n"
        f"    sink_config: {{path: \"{out_dir}\"}}\n"
        "    transform: record_only\n"
    )
    out = io.StringIO()
    rc = main(["serve", "--config", str(cfg), "--events", str(src),
               "--state-dir", str(tmp_path / "state"), "--once"], out=out)
    assert rc == 0
    text = out.getvalue()
    assert "Applied 1 resources" in text
    assert "orders-log" in text and "Management API" in text
    assert _count(out_dir) == 60


def test_serve_once_boots_on_empty_events_dir(spark, tmp_path):
    """A fresh deploy before the first WAL flush: the events directory
    is empty, and serve opens it with the fixed event schema."""
    src = tmp_path / "events"
    src.mkdir()
    out_dir = tmp_path / "delivered"
    cfg = tmp_path / "sequin.yaml"
    cfg.write_text(
        "consumers:\n"
        "  - name: orders-log\n"
        "    sink_type: file_log\n"
        f"    sink_config: {{path: \"{out_dir}\"}}\n"
    )
    out = io.StringIO()
    rc = main(["serve", "--config", str(cfg), "--events", str(src),
               "--state-dir", str(tmp_path / "state"), "--once"], out=out)
    assert rc == 0
    assert "orders-log" in out.getvalue()
    assert _count(out_dir) == 0


def test_serve_once_with_rocksdb_state(spark, sf_dir, tmp_path):
    """--rocksdb-state boots the engine with the disk-backed state
    store and delivers identically; the provider conf is restored so
    later tests keep the default."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    src = tmp_path / "events"
    ev = eventize_orders(spark, sf_dir).limit(40).localCheckpoint()
    ev.coalesce(1).write.mode("append").parquet(str(src))
    out_dir = tmp_path / "delivered"
    cfg = tmp_path / "sequin.yaml"
    cfg.write_text(
        "consumers:\n"
        "  - name: orders-log\n"
        "    sink_type: file_log\n"
        f"    sink_config: {{path: \"{out_dir}\"}}\n"
        "    transform: record_only\n"
    )
    out = io.StringIO()
    try:
        rc = main(["serve", "--config", str(cfg), "--events", str(src),
                   "--state-dir", str(tmp_path / "state"), "--once",
                   "--rocksdb-state"], out=out)
        assert rc == 0
        assert "State store: RocksDB" in out.getvalue()
        assert _count(out_dir) == 40
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_serve_picks_up_rest_applied_consumer(spark, sf_dir, tmp_path):
    src = tmp_path / "events"
    ev = eventize_orders(spark, sf_dir).limit(40).localCheckpoint()
    ev.coalesce(1).write.mode("append").parquet(str(src))
    out_a = tmp_path / "out_a"
    out_b = tmp_path / "out_b"
    cfg = tmp_path / "sequin.yaml"
    cfg.write_text(
        "consumers:\n"
        "  - name: log-a\n"
        "    sink_type: file_log\n"
        f"    sink_config: {{path: \"{out_a}\"}}\n"
        "    transform: record_only\n"
    )
    out = io.StringIO()
    rc_box = {}

    def run():
        rc_box["rc"] = main(
            ["serve", "--config", str(cfg), "--events", str(src),
             "--state-dir", str(tmp_path / "state"),
             "--max-seconds", "25", "--reconcile-interval", "1"], out=out)

    t = threading.Thread(target=run)
    t.start()
    try:
        # wait for the API to come up and find its port
        deadline = time.time() + 20
        port = None
        while time.time() < deadline and port is None:
            m = [line for line in out.getvalue().splitlines()
                 if "Management API" in line]
            if m:
                port = int(m[0].rsplit(":", 1)[1])
            else:
                time.sleep(0.2)
        assert port, out.getvalue()
        # add a second consumer over REST
        body = json.dumps({
            "name": "log-b", "sink_type": "file_log",
            "sink_config": {"path": str(out_b)},
            "transform": "record_only",
        }).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/sinks", data=body,
            headers={"Content-Type": "application/json"}, method="POST")
        with urllib.request.urlopen(req, timeout=10) as resp:
            assert resp.status == 200
        # the reconcile loop starts it and it delivers the same events
        deadline = time.time() + 20
        while time.time() < deadline and _count(out_b) < 40:
            time.sleep(0.5)
        assert _count(out_b) == 40
        assert _count(out_a) == 40
    finally:
        t.join(timeout=40)
    assert rc_box.get("rc") == 0
