"""Prometheus metrics surface (prometheus.ex / prometheus_exporter.ex
analog): delivery counters fold into text exposition served at /metrics."""

import json
import urllib.request

from sequin_spark.plans.spec import ConsumerSpec
from sequin_spark.streaming.metrics import (
    ConsumerMetrics,
    MetricsServer,
    prometheus_text,
)
from sequin_spark.streaming.pipeline import ConsumerPipeline


def test_counters_accumulate_and_render():
    m = ConsumerMetrics()
    m.record_batch("c1", {"delivered": 10, "failed": 2, "pending": 5})
    m.record_batch("c1", {"delivered": 7, "failed": 0, "pending": 3})
    m.record_batch("c2", {"delivered": 1})
    text = prometheus_text(m)
    assert '# TYPE sequin_message_deliver_success_total counter' in text
    assert 'sequin_message_deliver_success_total{consumer="c1"} 17' in text
    assert 'sequin_message_deliver_failure_total{consumer="c1"} 2' in text
    assert 'sequin_messages_pending{consumer="c1"} 3' in text  # gauge: last wins
    assert 'sequin_delivery_batches_total{consumer="c2"} 1' in text


def test_delivery_tasks_counter_renders():
    """Tasks per batch: process_batch's delivery_tasks accumulates into
    sequin_delivery_tasks_total beside sequin_delivery_batches_total."""
    m = ConsumerMetrics()
    m.record_batch("c1", {"delivered": 3, "delivery_tasks": 1})
    m.record_batch("c1", {"delivered": 9, "delivery_tasks": 2})
    text = prometheus_text(m)
    assert '# TYPE sequin_delivery_tasks_total counter' in text
    assert 'sequin_delivery_tasks_total{consumer="c1"} 3' in text
    assert 'sequin_delivery_batches_total{consumer="c1"} 2' in text


def test_latency_histogram_and_age_gauges_render():
    """Metric breadth (prometheus.ex:9-13,23-29,39-45): delivery-latency
    histogram per (consumer, success), oldest-pending-age and
    ingestion-latency gauges."""
    m = ConsumerMetrics()
    m.record_batch("c1", {
        "delivered": 3, "failed": 1, "pending": 1,
        "oldest_pending_age_ms": 1234.5,
        "delivery_latency_us": {
            "true": {"buckets": {1000: 2, 25000: 1}, "sum_us": 27000, "count": 3},
            "false": {"buckets": {2**62: 1}, "sum_us": 9_000_000, "count": 1},
        },
    })
    # second batch accumulates into the same histogram
    m.record_batch("c1", {
        "delivered": 1, "pending": 0, "oldest_pending_age_ms": 0.0,
        "delivery_latency_us": {
            "true": {"buckets": {1000: 1}, "sum_us": 500, "count": 1},
        },
    })
    m.observe_ingestion_latency("slot-a", 2500.0)
    text = prometheus_text(m)
    assert '# TYPE sequin_delivery_latency_us histogram' in text
    # cumulative buckets: le=1000 → 3, le=25000 → 4 (2+1 then +1)
    assert 'sequin_delivery_latency_us_bucket{consumer="c1",success="true",le="1000"} 3' in text
    assert 'sequin_delivery_latency_us_bucket{consumer="c1",success="true",le="25000"} 4' in text
    assert 'sequin_delivery_latency_us_bucket{consumer="c1",success="true",le="+Inf"} 4' in text
    assert 'sequin_delivery_latency_us_sum{consumer="c1",success="true"} 27500' in text
    assert 'sequin_delivery_latency_us_count{consumer="c1",success="true"} 4' in text
    assert 'sequin_delivery_latency_us_bucket{consumer="c1",success="false",le="+Inf"} 1' in text
    # gauges: oldest-age last-wins, ingestion latency per slot
    assert 'sequin_oldest_message_age_ms{consumer="c1"} 0.0' in text
    assert 'sequin_ingestion_latency_us{slot="slot-a"} 2500' in text


def test_oldest_pending_age_survives_redelivery(spark, tmp_path):
    """first_seen_at is preserved for rows that ride pending across
    batches (incl. the Spark redelivery leg), so the oldest-age gauge
    measures since first failure, not since last retry."""
    import time as _t

    import pyarrow as pa
    import pyarrow.parquet as papq

    from sequin_spark.streaming.delivery import DeliveryEngine

    df = spark.createDataFrame(
        [("g1", 1, 0, "k1", "g1", '{"n":1}')],
        "group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string",
    )
    engine = DeliveryEngine(
        "failing", {"fail_substring": "g1"},
        state_dir=str(tmp_path / "state"), max_retry_count=10,
        backoff_base_s=120.0,
    )
    stats0 = engine.process_batch(df, 0)
    assert stats0["failed"] == 1
    pending = papq.read_table(engine.pending_path).to_pandas()
    first_seen = float(pending["first_seen_at"].iloc[0])
    assert first_seen <= _t.time()
    # expire the backoff → row re-enters delivery, fails again
    pending["not_visible_until"] = _t.time() - 1
    papq.write_table(pa.Table.from_pandas(pending, preserve_index=False),
                     engine.pending_path)
    stats1 = engine.process_batch(df.limit(0), 1)
    assert stats1["failed"] == 1 and stats1["pending"] == 1
    pending1 = papq.read_table(engine.pending_path).to_pandas()
    assert float(pending1["first_seen_at"].iloc[0]) == first_seen
    assert stats1["oldest_pending_age_ms"] >= (_t.time() - first_seen) * 1000.0 - 2000.0


def test_pipeline_feeds_metrics_and_scrape(spark, sf_dir, tmp_path):
    from sequin_spark.cdc import eventize_orders

    spec = ConsumerSpec(name="orders-noop", sink_type="benchmark", batch_size=100)
    pipe = ConsumerPipeline(spec, state_dir=str(tmp_path / "state"))
    ev = eventize_orders(spark, sf_dir).limit(200)
    stats = pipe.run_batch(ev, 0)
    assert stats["delivered"] > 0
    server = MetricsServer(pipe.metrics).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/metrics", timeout=10
        ) as resp:
            assert resp.headers["Content-Type"].startswith("text/plain")
            body = resp.read().decode()
    finally:
        server.stop()
    assert f'sequin_message_deliver_success_total{{consumer="orders-noop"}} {stats["delivered"]}' in body
    assert 'sequin_delivery_batches_total{consumer="orders-noop"} 1' in body
    # delivery-latency histogram flows executor→driver→scrape
    assert 'sequin_delivery_latency_us_bucket{consumer="orders-noop",success="true",le="+Inf"}' in body
    assert 'sequin_delivery_latency_us_count{consumer="orders-noop",success="true"}' in body
