"""Native-path latency measurement (VERDICT r8 task #5).

The Python delivery engine (foreachBatch: Arrow hop + ledger +
checkpoint-commit-is-ack) has a measured ~0.65-0.7 s micro-batch floor
(tools/bench_lowlat.py, SCALE.md).  A pure-JVM path would send the
compiled operator chain straight into a native writeStream sink with no
Python in the hot loop (a Kafka writeStream, which needs the
spark-sql-kafka package; the engine does not ship one).  This tool
measures THAT path's floor.

Honesty note on the sink: the sandbox has no spark-sql-kafka connector
jar (and no network to fetch one), so the terminal Kafka socket write
cannot run here.  The measured sink is Spark's native streaming `noop`
— the chain is byte-identical up to and including the Kafka-writer
projection (topic / key-as-binary / value-as-binary), so the numbers
isolate the ENGINE-side floor of the native path; a real broker adds
its produce round-trip on top.

Semantics trade (why this path isn't the default): no idempotency
ledger, no per-group ordered delivery/ack discipline, no retry
policies — Spark's own checkpointing gives at-least-once to the sink,
and it is Kafka-only (the other 17 transports need the Python sink
clients).  Use it when raw latency/throughput to Kafka matters more
than the delivery-engine guarantees.

Usage: python tools/bench_native.py [trigger_ms ...]  (default 1000 500 250 100)
Each point runs in a fresh JVM (trigger interval is fixed at plan
build; JIT residue would leak between points otherwise).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SNIPPET = """
import json, sys, tempfile, time
sys.path.insert(0, {root!r})
from pyspark.sql import functions as F
from sequin_spark.session import get_spark
from sequin_spark.plans.spec import ConsumerSpec
from sequin_spark.sources.rate_cdc import benchmark_stream
from sequin_spark.streaming.metrics import MetricsListener
from sequin_spark.streaming.pipeline import ConsumerPipeline

spark = get_spark("bench_native")
spark.sparkContext.setLogLevel("ERROR")


def run(seconds, rows_per_second, trigger_s, prefix):
    listener = MetricsListener()
    spark.streams.addListener(listener)
    tmp = tempfile.mkdtemp(prefix="native_bench_")
    stream = benchmark_stream(spark, rows_per_second=rows_per_second,
                              num_partitions=8, row_bytes=100)
    name = f"native_{{prefix}}"
    spec = ConsumerSpec(name=name, sink_type="kafka",
                        sink_config={{"topic": "bench"}})
    pipe = ConsumerPipeline(spec, state_dir=f"{{tmp}}/state")
    # the Kafka-writer projection, terminated in the native noop sink
    compiled = pipe.compile(stream).select(
        F.col("topic"),
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
    )
    q = (compiled.writeStream.format("noop").queryName(name)
         .option("checkpointLocation", f"{{tmp}}/ckpt")
         .trigger(processingTime=f"{{int(trigger_s * 1000)}} milliseconds")
         .start())
    try:
        time.sleep(seconds)
    finally:
        q.stop()
    spark.streams.removeListener(listener)
    prog = (listener.progress.get(name)
            or next(iter(listener.progress.values()), []))
    durs = sorted(p["durationMs"]["triggerExecution"]
                  for p in prog if p.get("numInputRows", 0) > 0)
    rows = sum(p.get("numInputRows", 0) for p in prog)
    total_s = sum(durs) / 1000.0
    if not durs:
        return {{}}
    return {{
        "rows_per_sec": int(rows / total_s) if total_s > 0 else 0,
        "batches": len(durs),
        "p50_ms": durs[len(durs) // 2],
        "p99_ms": durs[min(len(durs) - 1, int(len(durs) * 0.99))],
    }}


run(10, 5_000, {trig}, "warmup")
r = run(35, 50_000, {trig}, "measure")
print("NATIVE_RESULT " + json.dumps(r))
"""


def run_point(trigger_ms: int) -> dict:
    snippet = _SNIPPET.format(root=HERE, trig=trigger_ms / 1000.0)
    out = subprocess.run([sys.executable, "-c", snippet], cwd=HERE,
                         capture_output=True, text=True, timeout=600)
    for line in out.stdout.splitlines():
        if line.startswith("NATIVE_RESULT "):
            return json.loads(line[len("NATIVE_RESULT "):])
    raise RuntimeError(f"trigger={trigger_ms}ms: no result "
                       f"(exit {out.returncode})\n{out.stderr[-1500:]}")


def main() -> int:
    points = [int(x) for x in sys.argv[1:]] or [1000, 500, 250, 100]
    print("| trigger | sustained rows/s | p50 ms | p99 ms | batches |")
    print("|---|---|---|---|---|")
    results = {}
    for ms in points:
        r = run_point(ms)
        results[ms] = r
        print(f"| {ms} ms | {r.get('rows_per_sec', 0):,} "
              f"| {r.get('p50_ms', -1)} | {r.get('p99_ms', -1)} "
              f"| {r.get('batches', 0)} |")
    print(json.dumps({"metric": "native_path_latency",
                      "points": results}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
