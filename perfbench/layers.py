"""Per-layer metrics of a traced run, named after the engine's modules.

Each metric is reported on every workload; where a layer does no work
on a workload (the WAL source in a backfill, the streaming trigger in a
batch run) its metrics read 0.  ``trace.*`` repeat the end-to-end
metrics as measured in the traced run; subtracting the untraced run's
values gives the tracing overhead.
"""

from __future__ import annotations

from tracing import percentile

# name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "sources.pgoutput.decode_us_per_event": "us",
    "sources.replication.flush_ms_p50": "ms",
    "sources.replication.events_per_file": "count",
    "sources.replication.busy_frac": "ratio",
    "sources.replication.lag_ms_p50": "ms",
    "sources.backfill.paging_s": "s",
    "sources.backfill.pages": "count",
    "plans.apply_ms": "ms",
    "streaming.supervisor.reconcile_ms": "ms",
    "streaming.pipeline.trigger_ms_p50": "ms",
    "streaming.pipeline.trigger_ms_p99": "ms",
    "streaming.pipeline.add_batch_ms_p50": "ms",
    "streaming.pipeline.overhead_ms_p50": "ms",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.rows_per_batch": "count",
    "streaming.delivery.process_batch_ms_p50": "ms",
    "streaming.delivery.jobs_per_batch": "count",
    "streaming.delivery.sink_call_ms_p50": "ms",
    "streaming.delivery.failed": "count",
    "streaming.delivery.blocked": "count",
    "operators.chain_s": "s",
    "operators.rows_out_frac": "ratio",
    "sinks.http_push.requests": "count",
    "sinks.http_push.events_per_request": "count",
    "sinks.http_push.connections_per_request": "ratio",
    "sinks.http_push.bytes_per_event": "B",
    "host.cpu.engine_jvm": "cores",
    "host.cpu.python_workers": "cores",
    "host.cpu.engine_driver": "cores",
    "host.cpu.ingest": "cores",
    "host.cpu.load": "cores",
    "host.cpu.steal": "cores",
    "load.gen_late_ms_p99": "ms",
    "check.failed_frac": "ratio",
    "trace.setup_s": "s",
    "trace.lat_p50_ms": "ms",
    "trace.lat_p99_ms": "ms",
    "trace.delivered_eps": "1/s",
    "trace.peak_rss_mb": "MB",
}


def _hist_p50_ms(hists: list[dict]) -> float:
    """Median of merged delivery-latency histograms (bucket upper bounds
    in µs, as ``DeliveryEngine.process_batch`` returns them), linear
    within the bucket."""
    buckets: dict[int, int] = {}
    for h in hists:
        for le, n in (h.get("buckets") or {}).items():
            buckets[int(le)] = buckets.get(int(le), 0) + int(n)
    total = sum(buckets.values())
    if not total:
        return 0.0
    seen, lo = 0, 0
    for le in sorted(buckets):
        n = buckets[le]
        if seen + n >= total / 2:
            hi = le if le < 2**61 else lo * 2
            return (lo + (hi - lo) * (total / 2 - seen) / n) / 1000
        seen += n
        lo = le
    return lo / 1000


def per_layer_metrics(summary, setup, out, ingest, windows, result, e2e,
                      sampler) -> dict:
    m = dict.fromkeys(UNITS, 0.0)
    if ingest:
        m["sources.pgoutput.decode_us_per_event"] = \
            ingest["decode_us_per_event"]
        m["sources.replication.flush_ms_p50"] = ingest["flush_ms_p50"]
        m["sources.replication.events_per_file"] = ingest["events_per_file"]
        m["sources.replication.busy_frac"] = ingest["busy_frac"]
        m["sources.replication.lag_ms_p50"] = ingest["lag_ms_p50"]
    cycles = summary.get("cycles") or []
    if cycles:
        m["sources.backfill.paging_s"] = sum(c["paging_s"] for c in cycles)
        # the last keyset page of each cycle comes back empty
        m["sources.backfill.pages"] = summary["keyset_pages"] - len(cycles)
    m["plans.apply_ms"] = setup["apply_ms"]
    m["streaming.supervisor.reconcile_ms"] = setup["reconcile_ms"]
    # warm-up batches (before the measured window) are left out
    t_from = windows[0][0] if windows else 0.0
    data = [p for p in summary.get("progress", [])
            if p["rows"] > 0 and p["start"] >= t_from]
    if data:
        trig = [p["ms"].get("triggerExecution", 0) for p in data]
        add = [p["ms"].get("addBatch", 0) for p in data]
        m["streaming.pipeline.trigger_ms_p50"] = percentile(trig, 50)
        m["streaming.pipeline.trigger_ms_p99"] = percentile(trig, 99)
        m["streaming.pipeline.add_batch_ms_p50"] = percentile(add, 50)
        m["streaming.pipeline.overhead_ms_p50"] = percentile(
            [t - a for t, a in zip(trig, add)], 50)
        m["streaming.pipeline.batches"] = len(data)
        m["streaming.pipeline.rows_per_batch"] = (
            sum(p["rows"] for p in data) / len(data))
    batches = [b for b in summary.get("delivery", [])
               if (b["delivered"] or b["failed"] or b["blocked"])
               and b["start"] >= t_from]
    if batches:
        m["streaming.delivery.process_batch_ms_p50"] = percentile(
            [b["ms"] for b in batches], 50)
        m["streaming.delivery.jobs_per_batch"] = (
            sum(b["jobs"] for b in batches) / len(batches))
        m["streaming.delivery.sink_call_ms_p50"] = _hist_p50_ms(
            [b["latency"] for b in batches])
        m["streaming.delivery.failed"] = sum(b["failed"] for b in batches)
        m["streaming.delivery.blocked"] = sum(b["blocked"] for b in batches)
    chain = summary.get("chain") or {}
    m["operators.chain_s"] = chain.get("chain_s", 0.0)
    m["operators.rows_out_frac"] = chain.get("rows_out_frac", 0.0)
    reqs = out["requests"]
    if reqs:
        n_bytes = sum(len(r[3].encode()) for r in reqs)
        m["sinks.http_push.requests"] = len(reqs)
        m["sinks.http_push.events_per_request"] = result["items"] / len(reqs)
        m["sinks.http_push.connections_per_request"] = (
            len({r[2] for r in reqs}) / len(reqs))
        m["sinks.http_push.bytes_per_event"] = (
            n_bytes / result["items"] if result["items"] else 0.0)
    if windows:
        t0, t1 = windows[0][0], windows[-1][1]
        for role in ("engine_jvm", "python_workers", "engine_driver",
                     "ingest", "load", "steal"):
            m[f"host.cpu.{role}"] = sampler.cores(role, t0, t1)
    m["load.gen_late_ms_p99"] = out["gen_late_ms_p99"]
    m["check.failed_frac"] = (result["failed"] / result["attempted"]
                              if result["attempted"] else 0.0)
    for k, v in e2e.items():
        m[f"trace.{k}"] = v
    return {k: {"value": float(v), "unit": UNITS[k]} for k, v in m.items()}
