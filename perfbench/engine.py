"""Engine process, wired the way ``sequin serve`` wires it.

Once set up, the process writes ``<ctl-dir>/ready.json`` with the unix
time it got there, which the orchestrator counts from process launch.

``stream`` mode: ``ConfigRegistry.apply`` of the benchmark YAML, then a
``ConsumerSupervisor`` over ``readStream.parquet(<CDC log>)`` on
``local[<cores>]``; set up once every query has left initialisation.
The queries then run until ``<ctl-dir>/stop`` appears; meanwhile
``<ctl-dir>/status.json`` holds each consumer's cumulative input rows,
from Spark's public ``StreamingQueryListener``.

``backfill`` mode: set up once the config is applied and the pipeline's
plan over the table is analysed.  Then cycles of ``run_backfill`` over
the parquet table and ``ConsumerPipeline.run_batch`` of the resulting
``read`` events, each with fresh consumer state: ``WARM_CYCLES`` untimed
ones (receiver path ``/w<cycle>``), then timed ones (receiver path
``/c<cycle>``) until ``--seconds`` have passed, at least ``MIN_CYCLES``.

Every engine knob stays at its shipped default.

Run: ``python3 perfbench/engine.py stream --consumers a,b --log-dir L
--work-dir W --receiver-url U --ctl-dir C --seconds 10``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from sequin_spark.plans.config_api import ConfigRegistry  # noqa: E402
from sequin_spark.plans.spec import load_config  # noqa: E402
from sequin_spark.schema import EVENT_SCHEMA  # noqa: E402
from sequin_spark.session import get_spark  # noqa: E402
from sequin_spark.sources import backfill as backfill_mod  # noqa: E402
from sequin_spark.streaming.delivery import DeliveryEngine  # noqa: E402
from sequin_spark.streaming.pipeline import ConsumerPipeline  # noqa: E402
from sequin_spark.streaming.supervisor import ConsumerSupervisor  # noqa: E402

import consumers as consumer_specs  # noqa: E402
from workload import MIN_CYCLES, WARM_CYCLES  # noqa: E402


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class Progress(StreamingQueryListener):
    """Per-run-id progress events (batch id, input rows, phase times)."""

    def __init__(self):
        self.events: list[dict] = []
        self.rows: dict[str, int] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        run_id = str(p.runId)
        self.rows[run_id] = self.rows.get(run_id, 0) + int(p.numInputRows)
        self.events.append({"run_id": run_id, "batch": p.batchId,
                            "start": datetime.fromisoformat(
                                p.timestamp.replace("Z", "+00:00")
                            ).timestamp(),
                            "rows": int(p.numInputRows),
                            "ms": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _running(query) -> bool:
    """A query runs once its source is initialised and it waits for or
    processes data."""
    if not query.isActive:
        raise RuntimeError(f"query {query.id} died: {query.exception()}")
    return not query.status["message"].startswith("Initializing")


class DeliveryTrace:
    """Spans around ``DeliveryEngine.process_batch`` with its returned
    stats and the exact number of Spark jobs each call ran."""

    def __init__(self, spark, spans):
        self.batches: list[dict] = []
        inner = DeliveryEngine.process_batch
        tracker = spark.sparkContext.statusTracker()
        sc = spark.sparkContext

        def process_batch(engine, batch_df, batch_id):
            group = f"bench-{engine.consumer_id}-{batch_id}-{time.time_ns()}"
            sc.setJobGroup(group, "benchmark trace")
            start = time.time()
            t0 = time.perf_counter()
            stats = inner(engine, batch_df, batch_id)
            t1 = time.perf_counter()
            spans.add("process_batch", t0, t1)
            self.batches.append({
                "consumer": engine.consumer_id, "start": start,
                "ms": (t1 - t0) * 1000,
                "jobs": len(tracker.getJobIdsForGroup(group)),
                "delivered": stats["delivered"], "failed": stats["failed"],
                "blocked": stats["blocked"],
                "latency": stats["delivery_latency_us"].get("true", {}),
            })
            return stats

        DeliveryEngine.process_batch = process_batch


def chain_cost(spark, specs, events_df, work_dir: str) -> dict:
    """Each consumer's compiled operator chain over the workload's own
    input, written to Spark's noop sink."""
    total_s, rows_in, rows_out = 0.0, 0, 0
    n_in = events_df.count()
    for spec in specs:
        pipe = ConsumerPipeline(spec, state_dir=os.path.join(
            work_dir, "chain", spec.name))
        out = pipe.compile(events_df)
        t0 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        total_s += time.perf_counter() - t0
        rows_in += n_in
        rows_out += out.count()
    return {"chain_s": total_s,
            "rows_out_frac": rows_out / rows_in if rows_in else 0.0}


def ready(args, summary: dict) -> None:
    """Report set-up as done, with the unix time it was done at."""
    summary["ready_t"] = time.time()
    write_json(os.path.join(args.ctl_dir, "ready.json"), summary)


def run_stream(args, spark, functions, specs, spans, summary) -> None:
    progress = Progress()
    spark.streams.addListener(progress)

    def stream_factory():
        return spark.readStream.schema(EVENT_SCHEMA).parquet(args.log_dir)

    t0 = time.perf_counter()
    registry = ConfigRegistry()
    result = registry.apply(specs, functions)
    if result.get("errors"):
        raise SystemExit(f"invalid config: {result['errors']}")
    t1 = time.perf_counter()
    sup = ConsumerSupervisor(
        spark, registry, stream_factory=stream_factory,
        state_root=os.path.join(args.work_dir, "state"),
        checkpoint_root=os.path.join(args.work_dir, "_checkpoints"))
    sup.reconcile()
    t2 = time.perf_counter()
    while not all(_running(r.query) for r in sup.running.values()):
        time.sleep(0.01)
    summary["apply_ms"] = (t1 - t0) * 1000
    summary["reconcile_ms"] = (t2 - t1) * 1000
    ready(args, summary)

    run_ids = {str(r.query.runId): name for name, r in sup.running.items()}
    stop_file = os.path.join(args.ctl_dir, "stop")
    status_file = os.path.join(args.ctl_dir, "status.json")
    while not os.path.exists(stop_file):
        for r in sup.running.values():
            _running(r.query)
        write_json(status_file, {name: progress.rows.get(rid, 0)
                                 for rid, name in run_ids.items()})
        time.sleep(0.05)
    sup.shutdown()
    summary["progress"] = [dict(e, consumer=run_ids[e["run_id"]])
                           for e in progress.events
                           if e["run_id"] in run_ids]
    if spans is not None:
        events = spark.read.schema(EVENT_SCHEMA).parquet(args.log_dir)
        resolved = [registry.resolved_consumer(n) for n in registry.consumers]
        summary["chain"] = chain_cost(spark, resolved, events, args.work_dir)


def run_backfill_cycles(args, spark, functions, specs, spans,
                        summary) -> None:
    t0 = time.perf_counter()
    registry = ConfigRegistry()
    result = registry.apply(specs, functions)
    if result.get("errors"):
        raise SystemExit(f"invalid config: {result['errors']}")
    t1 = time.perf_counter()
    table = spark.read.parquet(args.table_path)
    snapshot = backfill_mod.backfill_snapshot(table, "orders", ["id"])
    base = registry.resolved_consumer(specs[0].name)
    pipe = ConsumerPipeline(base, state_dir=os.path.join(
        args.work_dir, "setup"))
    pipe.compile(snapshot).schema  # noqa: B018 — analyse the plan
    summary["apply_ms"] = (t1 - t0) * 1000
    ready(args, summary)

    def cycle(tag: str) -> dict:
        spec = dataclasses.replace(base, sink_config={
            "url": f"{args.receiver_url}/{tag}/{base.name}"})
        pipe = ConsumerPipeline(spec, state_dir=os.path.join(
            args.work_dir, tag))
        source = spark.read.parquet(args.table_path)
        t0 = time.time()
        bf, events = backfill_mod.run_backfill(
            spark, source, "orders", ["id"], source_path=args.table_path)
        t1 = time.time()
        stats = pipe.run_batch(events)
        t2 = time.time()
        return {"start": t0, "paging_s": t1 - t0, "batch_s": t2 - t1,
                "end": t2, "rows": bf.rows_processed_count,
                "delivered": stats["delivered"], "failed": stats["failed"]}

    # the first cycles run slower while the JIT and the Python workers
    # warm up; they are delivered and checked like the others, not timed
    summary["warm"] = [cycle(f"w{i}") for i in range(WARM_CYCLES)]
    pages_before = len(spans.spans.get("keyset_page", [])) if spans else 0
    cycles = summary["cycles"] = []
    start = time.time()
    while len(cycles) < MIN_CYCLES or time.time() - start < args.seconds:
        cycles.append(cycle(f"c{len(cycles)}"))
    if spans is not None:
        summary["keyset_pages"] = (len(spans.spans.get("keyset_page", []))
                                   - pages_before)
        summary["chain"] = chain_cost(spark, [base], snapshot, args.work_dir)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="benchmark engine process")
    ap.add_argument("mode", choices=("stream", "backfill"))
    ap.add_argument("--consumers", required=True)
    ap.add_argument("--receiver-url", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--ctl-dir", required=True)
    ap.add_argument("--log-dir")
    ap.add_argument("--table-path")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    summary: dict = {}
    spans = None
    delivery = None
    if args.trace:
        from tracing import Spans

        spans = Spans()
        delivery = DeliveryTrace(spark, spans)
        spans.wrap(backfill_mod, "keyset_page", "keyset_page")

    names = args.consumers.split(",")
    functions, specs = load_config(
        consumer_specs.yaml_for(names, args.receiver_url))
    run = run_stream if args.mode == "stream" else run_backfill_cycles
    try:
        run(args, spark, functions, specs, spans, summary)
        if delivery is not None:
            summary["delivery"] = delivery.batches
        write_json(os.path.join(args.ctl_dir, "summary.json"), summary)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
