"""Streaming metrics — the Prometheus-surface analog.

Reference: lib/sequin/metrics/prometheus.ex exposes per-consumer
throughput/latency counters. Spark's StreamingQueryListener delivers the
same signals per micro-batch (input rows, processed rows/s, batch
duration); we fold them into a driver-side registry that a scrape
endpoint (or test) can read.
"""

from __future__ import annotations

import json
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class MetricsListener(StreamingQueryListener):
    def __init__(self):
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.totals: dict[str, dict] = defaultdict(
            lambda: {"batches": 0, "rows": 0, "duration_ms": 0}
        )

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = json.loads(event.progress.json)
        name = p.get("name") or p["id"]
        self.progress[name].append(p)
        t = self.totals[name]
        t["batches"] += 1
        t["rows"] += p.get("numInputRows", 0)
        t["duration_ms"] += p.get("durationMs", {}).get("triggerExecution", 0)

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def snapshot(self) -> dict:
        out = {}
        for name, t in self.totals.items():
            dur_s = t["duration_ms"] / 1000.0
            out[name] = {
                **t,
                "rows_per_sec": (t["rows"] / dur_s) if dur_s > 0 else 0.0,
            }
        return out


class ConsumerMetrics:
    """Per-consumer delivery counters (prometheus.ex:308-325
    increment_message_deliver_{attempt,success,failure} and the
    :378-387 buffered/in-delivery gauges), fed by process_batch stats."""

    # delivery_tasks / batches = Python delivery tasks per batch, which
    # follow the batch's size
    COUNTERS = ("delivered", "failed", "blocked", "discarded", "shed",
                "delivery_tasks")
    GAUGES = ("pending",)

    def __init__(self):
        self.counters: dict[tuple[str, str], int] = defaultdict(int)
        self.gauges: dict[tuple[str, str], int] = defaultdict(int)
        # (consumer, success) → {"buckets": {le_us: n}, "sum_us": int,
        # "count": int} — sequin_delivery_latency_us (prometheus.ex:23-29)
        self.latency: dict[tuple[str, str], dict] = {}
        # consumer → age of the oldest pending message, ms
        # (prometheus.ex:39-45 sequin_oldest_message_age_ms)
        self.oldest_pending_ms: dict[str, float] = {}
        # slot → ingestion latency µs (prometheus.ex:9-13,334-338: wall
        # clock minus the server's keepalive send timestamp)
        self.ingestion_latency_us: dict[str, float] = {}

    def record_batch(self, consumer: str, stats: dict) -> None:
        for k in self.COUNTERS:
            self.counters[(k, consumer)] += int(stats.get(k, 0))
        self.counters[("batches", consumer)] += 1
        for k in self.GAUGES:
            self.gauges[(k, consumer)] = int(stats.get(k, 0))
        if "oldest_pending_age_ms" in stats:
            self.oldest_pending_ms[consumer] = float(stats["oldest_pending_age_ms"])
        for success, h in (stats.get("delivery_latency_us") or {}).items():
            agg = self.latency.setdefault(
                (consumer, success), {"buckets": defaultdict(int), "sum_us": 0, "count": 0}
            )
            for le, n in h.get("buckets", {}).items():
                agg["buckets"][int(le)] += int(n)
            agg["sum_us"] += int(h.get("sum_us", 0))
            agg["count"] += int(h.get("count", 0))

    def observe_ingestion_latency(self, slot: str, latency_us: float) -> None:
        self.ingestion_latency_us[slot] = float(latency_us)


def prometheus_text(metrics: ConsumerMetrics, listener: MetricsListener | None = None) -> str:
    """Prometheus text exposition format v0.0.4 (what prometheus_exporter
    .ex serves at /metrics) over the delivery counters + streaming
    listener throughput."""
    lines: list[str] = []
    names = {
        "delivered": "sequin_message_deliver_success_total",
        "failed": "sequin_message_deliver_failure_total",
        "blocked": "sequin_message_blocked_total",
        "discarded": "sequin_message_discarded_total",
        "shed": "sequin_message_shed_total",
        "batches": "sequin_delivery_batches_total",
    }
    by_metric: dict[str, list[tuple[str, float]]] = defaultdict(list)
    for (k, consumer), v in sorted(metrics.counters.items()):
        by_metric[names.get(k, f"sequin_{k}_total")].append((consumer, v))
    for mname, samples in by_metric.items():
        lines.append(f"# TYPE {mname} counter")
        for consumer, v in samples:
            lines.append(f'{mname}{{consumer="{consumer}"}} {v}')
    lines.append("# TYPE sequin_messages_pending gauge")
    for (k, consumer), v in sorted(metrics.gauges.items()):
        lines.append(f'sequin_messages_pending{{consumer="{consumer}"}} {v}')
    if metrics.oldest_pending_ms:
        lines.append("# TYPE sequin_oldest_message_age_ms gauge")
        for consumer, v in sorted(metrics.oldest_pending_ms.items()):
            lines.append(f'sequin_oldest_message_age_ms{{consumer="{consumer}"}} {v:.1f}')
    if metrics.ingestion_latency_us:
        lines.append("# TYPE sequin_ingestion_latency_us gauge")
        for slot, v in sorted(metrics.ingestion_latency_us.items()):
            lines.append(f'sequin_ingestion_latency_us{{slot="{slot}"}} {v:.0f}')
    if metrics.latency:
        from sequin_spark.streaming.delivery import LAT_BUCKETS_US, LAT_INF
        lines.append("# TYPE sequin_delivery_latency_us histogram")
        for (consumer, success), h in sorted(metrics.latency.items()):
            labels = f'consumer="{consumer}",success="{success}"'
            cum = 0
            for le in LAT_BUCKETS_US:
                cum += h["buckets"].get(le, 0)
                lines.append(
                    f'sequin_delivery_latency_us_bucket{{{labels},le="{le}"}} {cum}'
                )
            cum += h["buckets"].get(LAT_INF, 0)
            lines.append(
                f'sequin_delivery_latency_us_bucket{{{labels},le="+Inf"}} {cum}'
            )
            lines.append(f'sequin_delivery_latency_us_sum{{{labels}}} {h["sum_us"]}')
            lines.append(f'sequin_delivery_latency_us_count{{{labels}}} {h["count"]}')
    if listener is not None:
        snap = listener.snapshot()
        lines.append("# TYPE sequin_stream_rows_per_sec gauge")
        for name, t in sorted(snap.items()):
            lines.append(
                f'sequin_stream_rows_per_sec{{query="{name}"}} {t["rows_per_sec"]:.1f}'
            )
        lines.append("# TYPE sequin_stream_rows_total counter")
        for name, t in sorted(snap.items()):
            lines.append(f'sequin_stream_rows_total{{query="{name}"}} {t["rows"]}')
    return "\n".join(lines) + "\n"


class MetricsServer:
    """GET /metrics scrape endpoint (prometheus_exporter.ex analog) —
    stdlib http.server like the pull/config API shims."""

    def __init__(self, metrics: ConsumerMetrics,
                 listener: MetricsListener | None = None,
                 host: str = "127.0.0.1", port: int = 0):
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        outer_metrics, outer_listener = metrics, listener

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # silence
                pass

            def do_GET(self):  # noqa: N802
                if self.path.split("?")[0] != "/metrics":
                    self.send_response(404)
                    self.end_headers()
                    return
                body = prometheus_text(outer_metrics, outer_listener).encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; version=0.0.4")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    def start(self) -> "MetricsServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
