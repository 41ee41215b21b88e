"""Benchmark harness — headline queries + full-pipeline throughput.

Runs every registry query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], forcing full
materialization through the noop sink (no driver collect), and measures
the CDC pipeline operator-chain throughput (eventize → filter → changes →
route → order → serialize → noop), the analog of the reference's
BenchmarkSource → benchmark-sink harness (lib/sequin/benchmark/).

Output contract (the driver reads stdout through a bounded tail buffer,
so the 65-entry per-query map must not ride on the final line — r3's
single long line got its front cut and parsed as null):
  line 1: full JSON incl. the per-query map (for whole-stdout parsers)
  last line: compact summary JSON (totals + pipeline + stream stats)
The full per-query map is also written to BENCH_QUERIES.json next to
this script.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


# quiet-host reference for the sentinel kernel below (settled median
# after JIT warm-up, r12 calibration: quiet samples 0.68-1.0 s once
# codegen stabilizes).  host_speed_factor = measured/baseline; a busy
# host reads >1 and the normalized per-query map divides it out.  The
# absolute value only anchors factor=1.0 - cross-round comparisons
# need the CONSTANT fixed, not perfect.
SENTINEL_BASELINE_SEC = 0.85
SENTINEL_CHECKSUM = 51546647322539864


def sentinel_kernel(spark) -> float:
    """Fixed-work host-speed probe (r11 verdict task #3): 24M synthetic
    rows through an md5→crc32 codegen chain — no IO, no shuffle, no
    data dependence, deterministic checksum.  BENCH_r11 read a uniform
    ~1.4–1.7× over r10 including pure-CPU kernels (busy driver host,
    not a regression); interleaving this kernel with the sweep reps
    lets the artifact carry its own drift correction instead of
    needing a manual A/B to exonerate host noise each round."""
    from pyspark.sql import functions as F

    df = spark.range(0, 24_000_000, 1, 32)
    out = df.select(F.md5(F.col("id").cast("string")).alias("h")).select(
        F.sum(F.crc32(F.col("h"))).alias("s"))
    t0 = time.perf_counter()
    val = out.collect()[0][0]
    dt = time.perf_counter() - t0
    assert val == SENTINEL_CHECKSUM, f"sentinel checksum drift: {val}"
    return dt


def interp_factor(samples: list[tuple[float, float]], t: float,
                  baseline: float = SENTINEL_BASELINE_SEC) -> float:
    """Host-speed factor at wall time ``t`` (relative seconds): >1 =
    slower than the quiet-host baseline.  Linear interpolation between
    the bracketing timestamped sentinel samples, clamped at the ends —
    the r12 task-#3 fix: one scalar factor per sweep can't represent a
    host whose speed changes mid-sweep."""
    if not samples:
        return 1.0
    if t <= samples[0][0]:
        s = samples[0][1]
    elif t >= samples[-1][0]:
        s = samples[-1][1]
    else:
        s = samples[-1][1]
        for (ta, sa), (tb, sb) in zip(samples, samples[1:]):
            if ta <= t <= tb:
                w = (t - ta) / (tb - ta) if tb > ta else 0.0
                s = sa + w * (sb - sa)
                break
    return max(s / baseline, 0.05)


def pipeline_throughput(spark, sf_dir: str) -> tuple[float, int]:
    """Full operator chain over the eventized stream, rows/sec."""
    from pyspark.sql import functions as F

    from sequin_spark.cdc import eventize_lineitem, eventize_orders
    from sequin_spark.functions.routing import route
    from sequin_spark.operators.grouping import sort_for_delivery
    from sequin_spark.operators.source_filter import Source, apply_action_filter, apply_source_filter

    ev = eventize_orders(spark, sf_dir).unionByName(eventize_lineitem(spark, sf_dir))
    n = ev.count()
    # size the group shuffle to the data (~128 MB per partition at
    # ~300 B/serialized row) — the r10 decade fix: fixed 32 partitions
    # spilled the per-partition sort at sf10 (15.6x for 10x rows)
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
                  (n * 300) // (128 << 20) + 1)
    t0 = time.time()
    out = apply_source_filter(ev, Source(include_schemas=["public"]))
    out = apply_action_filter(out, ["insert", "update", "delete"])
    out = route(out, "kafka")
    out = sort_for_delivery(out, num_partitions=n_parts)
    out = out.select(
        F.col("topic"),
        F.col("message_key").alias("key"),
        F.to_json(F.struct("action", "record", "changes", "commit_lsn", "commit_idx")).alias("value"),
    )
    _force(out)
    return time.time() - t0, n


def streaming_latency(spark, seconds: int = 35,
                      rows_per_second: int = 50_000,
                      prefix: str = "stream",
                      row_bytes: int = 200,
                      trigger_seconds: float = 1.0) -> dict:
    """Synthetic-source → full pipeline → noop sink as a real streaming
    query (the reference's BenchmarkSource → benchmark-sink harness):
    sustained rows/s + per-microbatch p50/p99 trigger latency.

    The default 50k rows/s matches the reference's published headline
    (docs/performance.mdx) so the latency numbers are comparable; the
    separate capacity probe drives the source faster to find the
    pipeline's actual ceiling (the 50k run's rows/s is source-capped).
    """
    import tempfile

    from sequin_spark.plans.spec import ConsumerSpec
    from sequin_spark.sources.rate_cdc import benchmark_stream
    from sequin_spark.streaming.metrics import MetricsListener
    from sequin_spark.streaming.pipeline import ConsumerPipeline

    listener = MetricsListener()
    spark.streams.addListener(listener)
    tmp = tempfile.mkdtemp(prefix="sequin_bench_")
    stream = benchmark_stream(spark, rows_per_second=rows_per_second,
                              num_partitions=8, row_bytes=row_bytes)
    name = f"bench_{prefix}_{rows_per_second}"
    spec = ConsumerSpec(name=name, sink_type="benchmark", batch_size=200)
    pipe = ConsumerPipeline(spec, state_dir=f"{tmp}/state")
    q = pipe.start_stream(stream, checkpoint_dir=f"{tmp}/ckpt",
                          trigger_seconds=trigger_seconds)
    try:
        time.sleep(seconds)
    finally:
        q.stop()
    spark.streams.removeListener(listener)
    prog = listener.progress.get(name) or next(iter(listener.progress.values()), [])
    durations = sorted(
        p["durationMs"]["triggerExecution"] for p in prog if p.get("numInputRows", 0) > 0
    )
    rows = sum(p.get("numInputRows", 0) for p in prog)
    total_s = sum(d for d in durations) / 1000.0
    if not durations:
        return {"stream_rows_per_sec": 0, "stream_p50_ms": -1, "stream_p99_ms": -1}
    return {
        "stream_rows_per_sec": int(rows / total_s) if total_s > 0 else 0,
        "stream_batches": len(durations),
        "stream_p50_ms": durations[len(durations) // 2],
        "stream_p99_ms": durations[min(len(durations) - 1, int(len(durations) * 0.99))],
    }


def decode_throughput(spark, n_docs: int = 256) -> dict:
    """Realistic-encoding decode arms (r10 verdict task #3): the
    registry's multimodal_gif_decode is a deliberate WORST-CASE stream
    (clear-per-pixel LZW — every pixel crosses the decoder's reset
    path), so its seconds measure a pathological constant, not common-
    path decode cost.  These arms feed the decoders typical encodings
    — standard dictionary-growth LZW GIF and entropy-dense multi-AC
    JPEG — and report decode MB/s per format, with the worst-case GIF
    arm kept and labeled so both regressions stay visible.  Blobs are
    materialized and persisted FIRST so the timed pass is decode-only."""
    import pandas as _pd
    from pyspark.sql import functions as F

    from sequin_spark.datapipe.multimodal import decode_pixels

    out: dict = {}
    arms = {
        "gif_realistic": "synth_textured_gif",
        "jpeg_realistic": "synth_textured_jpeg",
        "gif_worstcase": "synth_gray_gif",
    }
    docs = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    docs = docs.repartition(int(spark.conf.get(
        "spark.sql.shuffle.partitions", "32")))
    for tag, synth_name in arms.items():
        def encode(batches, _s=synth_name):
            import sequin_spark.datapipe.multimodal as _mm
            synth = getattr(_mm, _s)
            for b in batches:
                blobs = [synth(int(d)) for d in b["doc_id"]]
                yield _pd.DataFrame({
                    "doc_id": b["doc_id"],
                    "media_type": "image",
                    "blob": blobs,
                    "meta_format": _s.rsplit("_", 1)[-1],
                    "n_bytes": [len(x) for x in blobs],
                })

        media = docs.mapInPandas(
            encode,
            schema=("doc_id long, media_type string, blob binary, "
                    "meta_format string, n_bytes long")).persist()
        n_bytes = media.agg(F.sum("n_bytes")).collect()[0][0] or 0
        t0 = time.time()
        _force(decode_pixels(media).select("doc_id", "status",
                                           "mean_luma_x1000"))
        dt = time.time() - t0
        media.unpersist()
        out[f"decode_{tag}_mb_s"] = round(n_bytes / dt / 1e6, 2) \
            if dt > 0 else -1.0
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0

    from sequin_spark.queries import QUERIES
    from sequin_spark.session import get_spark

    spark = get_spark("sequin_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM/codegen on the smallest sf
    warm_dir = "/root/testdata/sf0.001"
    try:
        _force(QUERIES["pipeline_flagship"](spark, warm_dir))
    except Exception:  # noqa: BLE001
        pass

    # Streaming latency FIRST, in a clean JVM: r3 measured it after 65
    # queries in-process and recorded p50 3275 ms; the same pipeline
    # measured warm-but-uncontaminated is ~1.2-1.3 s. A short discarded
    # warmup run absorbs first-batch codegen/python-worker spin-up so the
    # measured window is steady state.
    # Best-of-2 protocol (r5 lesson: this host's noisy-neighbor swings
    # hit ±50% on p50 within minutes — an interleaved HEAD-vs-r4 A/B
    # showed identical code measuring 845 ms and 1291 ms p50 five
    # minutes apart; see docs/perf_notes_r06.md): two measured windows,
    # keep the one with higher sustained throughput, same as the
    # operator-chain section.
    try:
        streaming_latency(spark, seconds=12, rows_per_second=5_000,
                          prefix="warmup")
        runs = [streaming_latency(spark, prefix=f"stream{i}")
                for i in range(2)]
        stream_stats = max(
            runs, key=lambda r: r.get("stream_rows_per_sec", 0))
        # variance band across the measured windows (r8 task #2): the
        # raw per-window rates ship with the recording so drift shows
        # in the artifact instead of needing a manual A/B each round
        rates = [r.get("stream_rows_per_sec", 0) for r in runs]
        stream_stats["stream_runs_rows_per_sec"] = rates
        if min(rates) > 0:
            stream_stats["stream_band_pct"] = round(
                100.0 * (max(rates) - min(rates)) / min(rates), 1)
    except Exception:  # noqa: BLE001
        stream_stats = {}
    # 100 ms triggers: the per-trigger fixed-cost floor
    try:
        runs2 = [streaming_latency(spark, seconds=15, prefix="llsync",
                                   trigger_seconds=0.1)
                 for _ in range(2)]
        best = min((r for r in runs2 if r.get("stream_p50_ms", -1) > 0),
                   key=lambda r: r["stream_p50_ms"], default=None)
        if best:
            stream_stats["stream_sync_100ms_p50_ms"] = best["stream_p50_ms"]
            stream_stats["stream_sync_100ms_p99_ms"] = best["stream_p99_ms"]
    except Exception:  # noqa: BLE001
        pass
    # capacity probe: drive the source at 2x the reference headline to
    # measure the pipeline's ceiling rather than the source rate
    try:
        cap = streaming_latency(spark, seconds=25, rows_per_second=100_000,
                                prefix="cap")
        stream_stats["stream_capacity_rows_per_sec"] = cap.get(
            "stream_rows_per_sec", 0)
    except Exception:  # noqa: BLE001
        pass
    # row-size sensitivity sweep, mirroring the reference's published
    # table (docs/performance.mdx:36-39: 100 B / 200 B / 400 B / 1.6 kB
    # rows on a 16-vCPU box): capacity-driven so the figure is the
    # pipeline ceiling at that row size, reported as rows/s and MB/s
    try:
        for rb in (100, 400, 1600):  # 200 B ≈ the capacity probe above
            r = streaming_latency(spark, seconds=15,
                                  rows_per_second=100_000,
                                  prefix=f"rb{rb}", row_bytes=rb)
            rps = r.get("stream_rows_per_sec", 0)
            stream_stats[f"stream_rows_per_sec_{rb}B"] = rps
            stream_stats[f"stream_mb_per_sec_{rb}B"] = round(
                rps * rb / 1e6, 2)
    except Exception:  # noqa: BLE001
        pass

    # Multi-sweep protocol (VERDICT r8 task #2): the registry sweep runs
    # SPARK_GRAFT_BENCH_REPS times end-to-end (rep-major order, so the
    # two measurements of one query sit minutes apart — an interleaved
    # arm against host drift, the same protocol the r7/r8 A/Bs used
    # manually).  Reported per query: MIN across sweeps (the host-noise-
    # free estimate) plus a variance band (max−min)/min; the per-sweep
    # totals go out raw so round-over-round comparisons can see drift
    # directly instead of exonerating it by hand each round.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    # drift sentinel (r11 task #3, reworked per r12 task #3): the r12
    # artifacts disagreed 1.49× AFTER normalization because one scalar
    # factor per ~100 s sweep can't represent a host whose speed
    # changed 1.8× MID-sweep (driver sentinels read 0.743/1.213/1.342).
    # Now the sentinel interleaves INSIDE the sweep (every
    # SENTINEL_EVERY queries, plus sweep boundaries), each sample is
    # timestamped, and every query measurement is normalized by the
    # factor linearly interpolated between its two time-nearest
    # samples — drift is tracked at ~10-query granularity instead of
    # assumed constant per rep.
    t_origin = time.time()
    samples: list[tuple[float, float]] = []   # (t_rel_sec, sentinel_sec)

    def _sample() -> None:
        try:
            s = sentinel_kernel(spark)
            samples.append((round(time.time() - t_origin, 1), round(s, 3)))
        except Exception:  # noqa: BLE001
            pass

    try:
        for _ in range(3):      # codegen/JIT warm-up, discarded (the
            sentinel_kernel(spark)  # kernel keeps speeding up for ~3 runs)
        _sample()
    except Exception:  # noqa: BLE001
        pass
    have_sentinel = bool(samples)
    sentinel_every = max(
        1, int(os.environ.get("SPARK_GRAFT_SENTINEL_EVERY", "12")))

    sweeps: list[dict[str, float]] = []
    mids: list[dict[str, float]] = []   # per rep: query → midpoint t_rel
    for _ in range(reps):
        one: dict[str, float] = {}
        mid: dict[str, float] = {}
        n_run = 0
        for name, fn in QUERIES.items():
            t0 = time.time()
            try:
                _force(fn(spark, sf_dir))
                dt = time.time() - t0
            except Exception:  # noqa: BLE001
                dt = -1.0
            one[name] = dt
            mid[name] = (t0 + time.time()) / 2.0 - t_origin
            # per-query isolation: several operators cache/persist index
            # structures (IVF assignments, LSH band indexes, LM bigram
            # streams); letting 60+ of them accumulate turns the tail of
            # the run into a GC benchmark instead of a query benchmark
            spark.catalog.clearCache()
            n_run += 1
            if have_sentinel and n_run % sentinel_every == 0:
                _sample()
        sweeps.append(one)
        mids.append(mid)
        if have_sentinel:
            _sample()

    def factor_at(t: float) -> float:
        return interp_factor(samples, t)

    per_query: dict[str, float] = {}
    per_query_norm: dict[str, float] = {}
    band_pct: dict[str, float] = {}
    total = 0.0
    total_norm = 0.0
    for name in QUERIES:
        vals = [s[name] for s in sweeps if s.get(name, -1) > 0]
        if not vals:
            per_query[name] = -1.0
            per_query_norm[name] = -1.0
            continue
        lo, hi = min(vals), max(vals)
        per_query[name] = round(lo, 3)
        norm = min(s[name] / factor_at(mids[i][name])
                   for i, s in enumerate(sweeps) if s.get(name, -1) > 0)
        per_query_norm[name] = round(norm, 3)
        band_pct[name] = round(100.0 * (hi - lo) / lo, 1) if lo > 0 else 0.0
        total += lo
        total_norm += norm
    sweep_totals = [round(sum(v for v in s.values() if v > 0), 3)
                    for s in sweeps]
    bands = sorted(band_pct.values())
    band_median = bands[len(bands) // 2] if bands else 0.0
    sentinels = [s for _, s in samples]
    sent_sorted = sorted(sentinels)
    host_factor = round(
        sent_sorted[len(sent_sorted) // 2] / SENTINEL_BASELINE_SEC, 3) \
        if sentinels else -1.0

    # bucketed co-located join, steady state (VERDICT r7 task #6): the
    # per-query number above includes the ONE-TIME bucket build when the
    # cache is cold; re-running measures the number that matters at
    # 100× — reading the already-bucketed tables and joining with zero
    # Exchange.  Reported separately, not added to the headline total.
    try:
        t0 = time.time()
        _force(QUERIES["bucketed_colocated_join"](spark, sf_dir))
        steady = round(time.time() - t0, 3)
        spark.catalog.clearCache()
    except Exception:  # noqa: BLE001
        steady = -1.0

    # realistic-encoding decode arms (r10 verdict task #3): MB/s per
    # format on typical streams, plus the labeled worst-case GIF arm
    try:
        decode_stats = decode_throughput(spark)
    except Exception:  # noqa: BLE001
        decode_stats = {}

    # JIT/codegen warmup pass at the smallest sf, then measure: the
    # operator-chain classes are cold after 60 unrelated queries and a
    # single unwarmed run understates sustained throughput by ~40%.
    # Best of two measured runs: this host has noisy-neighbor load
    # spikes, and a single 3-4 s window landing in one halves the figure
    try:
        pipeline_throughput(spark, warm_dir)
    except Exception:  # noqa: BLE001
        pass
    pipe_sec, pipe_rows = pipeline_throughput(spark, sf_dir)
    sec2, _ = pipeline_throughput(spark, sf_dir)
    pipe_sec = min(pipe_sec, sec2)
    ops_per_sec = int(pipe_rows / pipe_sec) if pipe_sec > 0 else 0

    summary = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(per_query),
        "sweep_reps": reps,
        "sweep_totals": sweep_totals,
        "query_band_median_pct": band_median,
        "sentinel_sec": sentinels,
        "sentinel_every": sentinel_every,
        "sentinel_baseline_sec": SENTINEL_BASELINE_SEC,
        "host_speed_factor": host_factor,
        "total_norm_sec": round(total_norm, 3),
        "bucketed_join_first_sec": per_query.get(
            "bucketed_colocated_join", -1.0),
        "bucketed_join_steady_sec": steady,
        "queries_file": "BENCH_QUERIES.json",
        "pipeline_rows": pipe_rows,
        "pipeline_sec": round(pipe_sec, 3),
        "pipeline_ops_per_sec": ops_per_sec,
        **decode_stats,
        **stream_stats,
    }
    full = {**summary, "sentinel_t_sec": [t for t, _ in samples],
            "queries": per_query,
            "queries_norm": per_query_norm, "query_band_pct": band_pct}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_QUERIES.json"), "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass
    # the driver captures exactly the LAST 2000 chars of stdout (r3 and
    # r4 both had the final line front-cut => BENCH_r0{3,4}.json
    # "parsed": null).  Contract: the full per-query map goes to an
    # earlier line + BENCH_QUERIES.json; the FINAL line is ALWAYS the
    # compact ~350-char summary, unconditionally.
    print(json.dumps(full, separators=(",", ":")))
    slowest = dict(sorted(per_query.items(), key=lambda kv: -kv[1])[:10])
    final = {**summary, "queries": slowest}
    line = json.dumps(final, separators=(",", ":"))
    if len(line) > 1800:  # belt-and-braces: never exceed the window
        line = json.dumps(summary, separators=(",", ":"))
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
