"""Chaos-under-load soak (r10 verdict task #7): chaos and bench were
separate harnesses — this marries them.  One sustained streaming run at
the reference's headline rate (50k rows/s) with seeded fault injection
firing LIVE:

* ChaosSoakSink fails a seeded ~1% sample of delivery chunks (half the
  chunk appended first — the documented at-least-once window), with
  per-key attempt caps so the engine's retry/backoff path drains them;
* the streaming query is stopped and restarted from its checkpoint
  mid-load (worker-crash analog; a trigger in flight at the stop has
  no committed offsets, so restarts REPLAY it and the ledger must
  dedupe);
* the backfill-fence and pull-queue chaos schedules
  (tests/test_chaos_state.py) run concurrently on the same JVM, their
  own invariants asserted inside;
* (r12 task #6) the two STANDING paths run under the same chaos: a
  parquet_replica consumer (its foreachBatch dual-writes a
  rename-committed raw batch log) and the SCD2 stateful twin reading
  that raw log as a file stream — both restarted at every incarnation
  boundary.  Invariant 5: at every boundary and at the end, the
  replica equals the batch last-wins materialization of the raw log
  (modulo the documented append-vs-marker crash window, retried with
  the marker-less batch included).  Invariant 6: after a final drain,
  the SCD2 twin's collapsed emission log equals the batch lead(seq)
  oracle's closed intervals over the raw log.

After the drain, the delivered log (unique-file appends, time_ns
ordered) is checked against the rate source's closed-form identity
space (value v <-> (commit_lsn, commit_idx); group = v mod
pk_cardinality):

1. per-group first-appearance order is monotone in v;
2. per-group delivered set is a contiguous prefix of the group's
   arithmetic progression (no interior gaps — group blocking held
   across faults and restarts);
3. exactly-once modulo the documented windows — identities appearing
   more than once must have a partial-append occurrence OR straddle a
   restart boundary (the replay window: delivered in a
   trigger whose offset/ledger commit the kill destroyed — the
   reference's delivered-then-crashed-before-ack at-least-once
   contract).  Same-incarnation full-append duplicates are real bugs;
4. ledger identities are unique and a subset of delivered.

Usage: python tools/soak_chaos.py [--seconds 600] [--rate 50000]
       [--seed 20260815] [--out docs/soak_r11.json]
Writes the soak artifact (seeds, invariant results, sustained rows/s,
restart count, fault count) as JSON.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tests"))

PK_CARD = 100_000
TXN = 8


def _replica_matches_log(spark, applier, raw_dir: str) -> tuple[bool, int]:
    """Invariant #5 (r12 verdict task #6): the standing replica equals
    the batch-relational last-wins materialization of the raw batch
    log it applied.  The raw log is the dual-write the soak's replica
    foreachBatch makes (rename-committed per batch), so the comparison
    is applier-machinery vs a trivially-correct append.  One
    documented skew: a stop can land between the applier's data append
    and its marker write (the module's crash window) — the replica
    then holds one marker-less batch the committed raw set excludes,
    so a mismatch retries with the uncommitted raw batches included
    before failing."""
    from pyspark.sql import functions as F

    # raw_dir holds only rename-committed batch dirs (staging lives
    # outside it); the defensive filter guards older layouts
    dirs = sorted(d for d in glob.glob(os.path.join(raw_dir, "b*"))
                  if re.fullmatch(r"b\d+", os.path.basename(d)))
    if not dirs:
        return True, 0

    def batch_id(d):
        return int(os.path.basename(d)[1:])

    committed = [d for d in dirs
                 if os.path.exists(os.path.join(
                     applier.path, "_batches", f"_batch_{batch_id(d)}"))]
    uncommitted = [d for d in dirs if d not in committed]
    if not spark.catalog.tableExists(applier.table_name):
        return False, len(committed)   # raw batches exist, replica absent
    spark.sql(f"REFRESH TABLE {applier.table_name}")
    cur = applier.current(spark).select(
        "pk", "seq", F.col("record")["n"].alias("n"))

    def expected(ds):
        raw = spark.read.parquet(*ds)
        g = raw.groupBy("pk").agg(
            F.max("seq").alias("seq"),
            F.max_by("action", F.col("seq")).alias("action"),
            F.max_by(F.col("record")["n"], F.col("seq")).alias("n"))
        return (g.where(F.col("action") != "delete")
                 .select("pk", "seq", "n"))

    def diff(ds) -> int:
        e = expected(ds)
        return e.exceptAll(cur).count() + cur.exceptAll(e).count()

    if committed and diff(committed) == 0:
        return True, len(committed)
    if uncommitted and diff(committed + uncommitted) == 0:
        return True, len(dirs)
    return bool(not committed and not uncommitted), len(committed)


def run_soak(seconds: int, rate: int, seed: int, out_path: str,
             no_restart: bool = False, no_side: bool = False,
             no_standing: bool = False,
             fail_permille: int = 10) -> dict:
    from pyspark.sql import functions as F  # noqa: F401

    from sequin_spark.plans.spec import ConsumerSpec
    from sequin_spark.session import get_spark
    from sequin_spark.sources.rate_cdc import benchmark_stream
    from sequin_spark.streaming.metrics import MetricsListener
    from sequin_spark.streaming.pipeline import ConsumerPipeline

    spark = get_spark("sequin_chaos_soak")
    spark.sparkContext.setLogLevel("ERROR")
    # bound q.stop() so a dead execution thread can never hang the
    # harness (it records a stop error and proceeds to the invariants)
    spark.conf.set("spark.sql.streaming.stopTimeout", "30s")
    tmp = tempfile.mkdtemp(prefix="sequin_soak_")
    log_dir = os.path.join(tmp, "delivered")
    attempt_dir = os.path.join(tmp, "attempts")
    listener = MetricsListener()
    spark.streams.addListener(listener)

    spec = ConsumerSpec(
        name="soak", sink_type="chaos_soak",
        sink_config={"log_dir": log_dir, "attempt_dir": attempt_dir,
                     "seed": seed, "fail_permille": fail_permille,
                     "max_fails_per_key": 2, "partial": True},
        batch_size=200,
    )

    def start():
        stream = benchmark_stream(spark, rows_per_second=rate,
                                  num_partitions=8,
                                  pk_cardinality=PK_CARD, txn_size=TXN)
        pipe = ConsumerPipeline(spec, state_dir=os.path.join(tmp, "state"))
        return pipe.start_stream(stream,
                                 checkpoint_dir=os.path.join(tmp, "ckpt"),
                                 trigger_seconds=1.0)

    # --- the two STANDING paths under the same chaos (r12 task #6):
    # a parquet_replica consumer with a dual raw-batch log (feeds
    # invariant #5) and the SCD2 stateful twin reading that raw log as
    # a file stream (feeds invariant #6); both restart at every
    # incarnation boundary alongside the main query.
    REP_PK_CARD = 5_000
    rep_spec = ConsumerSpec(
        name="soak-replica", sink_type="parquet_replica",
        sink_config={"path": os.path.join(tmp, "replica"),
                     "n_buckets": 8, "compact_every": 7})
    rep_pipe = ConsumerPipeline(rep_spec,
                                state_dir=os.path.join(tmp, "rep_state"))
    raw_dir = os.path.join(tmp, "replica_raw")
    os.makedirs(raw_dir, exist_ok=True)

    def rep_apply(df, bid):
        frame = rep_pipe._replica_frame(rep_pipe.compile(df))
        d = os.path.join(raw_dir, f"b{bid}")
        if not os.path.exists(d):
            # rename-committed dual write FIRST: a crash before apply
            # replays the batch (raw skip + marker-driven apply).  The
            # staging dir lives OUTSIDE raw_dir so readers of raw_dir
            # (the boundary check, the SCD2 file stream, the final
            # oracle) can never see a half-written batch.
            stage = os.path.join(os.path.dirname(raw_dir),
                                 "replica_raw_stage", f"b{bid}")
            frame.write.mode("overwrite").parquet(stage)
            os.rename(stage, d)
        rep_pipe.replica.process_batch(frame, bid)

    def start_replica():
        stream = benchmark_stream(spark, rows_per_second=max(rate // 5, 1000),
                                  num_partitions=4,
                                  pk_cardinality=REP_PK_CARD, txn_size=TXN)
        return (stream.writeStream.foreachBatch(rep_apply)
                .option("checkpointLocation", os.path.join(tmp, "rep_ckpt"))
                .trigger(processingTime="1 second").start())

    def start_scd2():
        from sequin_spark.streaming.stateful import scd2_history_stream

        raw_schema = ("pk string, "
                      "seq struct<commit_lsn: long, commit_idx: long>, "
                      "action string, record map<string,string>")
        src = (spark.readStream.schema(raw_schema)
               .option("maxFilesPerTrigger", 16)
               .parquet(os.path.join(raw_dir, "b*")))
        ev = src.select(
            "pk",
            ((F.col("seq.commit_lsn") - 5_000_000) * TXN
             + F.col("seq.commit_idx")).alias("seq"),
            "action",
            F.col("record")["n"].cast("long").alias("n"))
        hist = scd2_history_stream(ev, pk_col="pk", seq_col="seq",
                                   action_col="action")
        return (hist.writeStream.format("parquet")
                .option("path", os.path.join(tmp, "scd2_out"))
                .option("checkpointLocation", os.path.join(tmp, "scd2_ckpt"))
                .trigger(processingTime="2 seconds").start())

    # concurrent fence + pull-queue chaos schedules (their invariants
    # assert inside; a failure propagates out of the thread via `errs`)
    from test_chaos_state import _run_backfill_seed, _run_pull_seed

    errs: list[str] = []
    stop_side = threading.Event()

    def side_schedules():
        import pathlib
        k = 0
        while not stop_side.is_set():
            try:
                _run_backfill_seed(spark, seed + k)
                pdir = pathlib.Path(tempfile.mkdtemp(
                    prefix="soak_pull_", dir=tmp))
                _run_pull_seed(spark, pdir, seed + k)
            except Exception as e:  # noqa: BLE001
                errs.append(f"side schedule seed {seed + k}: {e!r}")
                return
            k += 1

    side = threading.Thread(target=side_schedules, daemon=True)
    if not no_side:
        side.start()

    # the load: restart the query from its checkpoint every ~1/3 of the
    # run (worker-crash analog, replays the uncommitted trigger)
    t0 = time.time()
    restarts = 0
    # incarnation boundaries (time_ns after each mid-run stop returns):
    # appends on either side of a boundary belong to different query
    # incarnations — the replay window between them is
    # the engine's documented at-least-once surface (same contract as
    # the reference: delivered-then-crashed-before-ack redelivers)
    boundaries_ns: list[int] = []
    q = start()
    rep_q = scd2_q = None
    replica_checks: list[bool] = []
    if not no_standing:
        rep_q = start_replica()
        scd2_q = start_scd2()
    segment = (seconds + 60 if no_restart
               else max(seconds // 3, 10))
    while time.time() - t0 < seconds:
        time.sleep(min(segment, max(1, seconds - (time.time() - t0))))
        if time.time() - t0 < seconds - 5:
            try:
                q.stop()
            except Exception as e:  # noqa: BLE001
                errs.append(f"mid-run stop: {e!r}")
            if rep_q is not None:
                try:
                    rep_q.stop()
                    scd2_q.stop()
                except Exception as e:  # noqa: BLE001
                    errs.append(f"standing stop: {e!r}")
                # invariant #5 at the incarnation boundary: replica ==
                # batch materialization of the raw log applied so far
                try:
                    ok5, nb = _replica_matches_log(
                        spark, rep_pipe.replica, raw_dir)
                    replica_checks.append(ok5)
                except Exception as e:  # noqa: BLE001
                    errs.append(f"replica boundary check: {e!r}")
            boundaries_ns.append(time.time_ns())
            q = start()
            if rep_q is not None:
                rep_q = start_replica()
                scd2_q = start_scd2()
            restarts += 1
    # drain: let in-flight work land, then STOP — no processAllAvailable
    # (a rate source always has newer offsets, so "all available" chases
    # its tail for as long as the backlog equilibrium lasts; the
    # invariants below are prefix-safe by construction, so a hard stop
    # after a bounded drain is the correct harness shape).  stop() is
    # bounded by spark.sql.streaming.stopTimeout set in run_soak; a
    # zombie query (the pre-r11 StackOverflowError mode) surfaces as a
    # recorded stop error instead of hanging the harness forever.
    time.sleep(15)
    stop_err = None
    try:
        q.stop()
    except Exception as e:  # noqa: BLE001
        stop_err = repr(e)[:300]
    scd2_ok = None
    if rep_q is not None:
        try:
            rep_q.stop()
        except Exception as e:  # noqa: BLE001
            errs.append(f"replica final stop: {e!r}")
        # final invariant #5 over the full raw log
        try:
            ok5, _ = _replica_matches_log(spark, rep_pipe.replica, raw_dir)
            replica_checks.append(ok5)
        except Exception as e:  # noqa: BLE001
            errs.append(f"replica final check: {e!r}")
        # invariant #6: drain the SCD2 twin over the now-frozen raw
        # log (one availableNow incarnation from the shared
        # checkpoint), then the collapsed emission log must equal the
        # batch lead(seq) oracle's CLOSED rows over the raw log (open
        # intervals have no close event — compared as the oracle's
        # is_current set against the replica-live PKs instead)
        try:
            try:
                scd2_q.stop()
            except Exception as e:  # noqa: BLE001
                errs.append(f"scd2 mid stop: {e!r}")
            from pyspark.sql import Window

            from sequin_spark.streaming.stateful import scd2_collapse

            # final incarnation: availableNow over the same checkpoint
            from sequin_spark.streaming.stateful import scd2_history_stream

            raw_schema = ("pk string, "
                          "seq struct<commit_lsn: long, commit_idx: long>, "
                          "action string, record map<string,string>")
            src = (spark.readStream.schema(raw_schema)
                   .parquet(os.path.join(raw_dir, "b*")))
            ev = src.select(
                "pk",
                ((F.col("seq.commit_lsn") - 5_000_000) * TXN
                 + F.col("seq.commit_idx")).alias("seq"),
                "action",
                F.col("record")["n"].cast("long").alias("n"))
            hist = scd2_history_stream(ev, pk_col="pk", seq_col="seq",
                                       action_col="action")
            dq = (hist.writeStream.format("parquet")
                  .option("path", os.path.join(tmp, "scd2_out"))
                  .option("checkpointLocation",
                          os.path.join(tmp, "scd2_ckpt"))
                  .trigger(availableNow=True).start())
            dq.awaitTermination(300)
            emitted = scd2_collapse(
                spark.read.parquet(os.path.join(tmp, "scd2_out")),
                pk_col="pk")
            raw = spark.read.parquet(os.path.join(raw_dir, "b*")).select(
                "pk",
                ((F.col("seq.commit_lsn") - 5_000_000) * TXN
                 + F.col("seq.commit_idx")).alias("seq"),
                "action",
                F.col("record")["n"].cast("long").alias("n"))
            w = Window.partitionBy("pk").orderBy("seq")
            oracle = (raw.withColumn("valid_to_seq",
                                     F.lead("seq").over(w))
                      .where(F.col("action") != "delete")
                      .select("pk", F.col("seq").alias("valid_from_seq"),
                              "n", "valid_to_seq"))
            got_closed = emitted.where(
                F.col("valid_to_seq").isNotNull()).select(
                "pk", "valid_from_seq", "n", "valid_to_seq")
            want_closed = oracle.where(F.col("valid_to_seq").isNotNull())
            d = (got_closed.exceptAll(want_closed).count()
                 + want_closed.exceptAll(got_closed).count())
            scd2_ok = d == 0
        except Exception as e:  # noqa: BLE001
            errs.append(f"scd2 final check: {e!r}")
            scd2_ok = False
    stop_side.set()
    if side.is_alive():
        side.join(timeout=120)
    spark.streams.removeListener(listener)

    # quiesce: orphaned Python workers keep appending for tens of
    # seconds after q.stop() returns (task cancellation kills the JVM
    # thread; the pyspark daemon worker only notices at its next pipe
    # write — the BrokenPipeError tail in the logs).  Reading the log
    # mid-trail raced invariant #4 in the first r11 full run: the log
    # snapshot predated the trailing appends while the ledger read
    # postdated them.  Wait for no-new-files-for-10s (bounded 120s),
    # and below read the LEDGER before the LOG — the subset direction
    # makes any further trailing append harmless.
    def log_count() -> int:
        return len(glob.glob(os.path.join(log_dir, "part-*.jsonl")))

    quiet_since, last_n = time.time(), log_count()
    t_q = time.time()
    while time.time() - t_q < 120:
        time.sleep(2)
        n = log_count()
        if n != last_n:
            last_n, quiet_since = n, time.time()
        elif time.time() - quiet_since >= 10:
            break

    # ledger snapshot FIRST (invariant #4's subset side): any append
    # that still trails lands in the log only, which cannot break
    # ledger ⊆ delivered
    import pyarrow.parquet as papq

    ledger_ids: set = set()
    for p in glob.glob(os.path.join(tmp, "state", "**", "*.parquet"),
                       recursive=True):
        if "ledger" not in p:
            continue
        t = papq.read_table(p, columns=["commit_lsn", "commit_idx"])
        df = t.to_pandas().drop_duplicates()
        ledger_ids |= {(int(a), int(b))
                       for a, b in zip(df["commit_lsn"], df["commit_idx"])}
    led_vs = {(lsn - 5_000_000) * TXN + idx for lsn, idx in ledger_ids}

    # listener-side throughput — a diagnostic (triggers cut by a stop
    # carry no progress event), not the headline
    rows = 0
    exec_ms = 0
    for prog in listener.progress.values():
        for p in prog:
            if p.get("numInputRows", 0) > 0:
                rows += p["numInputRows"]
                exec_ms += p["durationMs"]["triggerExecution"]
    listener_rows_s = int(rows / (exec_ms / 1000.0)) if exec_ms else 0

    # ---- invariants over the delivered log ------------------------------
    files = sorted(glob.glob(os.path.join(log_dir, "part-*.jsonl")))
    # headline throughput = delivered rows over the delivery window,
    # reconstructed from the appends' time_ns filename stamps — the
    # only observer that works across restarts
    append_ns = []
    for fp in files:
        m = re.search(r"part-(\d+)-", os.path.basename(fp))
        if m:
            append_ns.append(int(m.group(1)))
    first_seen: dict[int, list[int]] = {}
    seen_v: set[int] = set()
    dup_v: set[int] = set()
    partial_v: set[int] = set()
    per_group: dict[int, set[int]] = {}
    first_ts: dict[int, int] = {}
    dup_occ: dict[int, list[int]] = {}
    delivered_rows_total = 0
    for fp in files:
        m = re.search(r"part-(\d+)-", os.path.basename(fp))
        fts = int(m.group(1)) if m else 0
        with open(fp) as f:
            for line in f:
                e = json.loads(line)
                delivered_rows_total += 1
                v = (int(e["commit_lsn"]) - 5_000_000) * TXN \
                    + int(e["commit_idx"])
                g = v % PK_CARD
                if e.get("partial"):
                    partial_v.add(v)
                if v in seen_v:
                    dup_v.add(v)
                    dup_occ.setdefault(v, [first_ts[v]]).append(fts)
                    continue
                seen_v.add(v)
                first_ts[v] = fts
                first_seen.setdefault(g, []).append(v)
                per_group.setdefault(g, set()).add(v)

    inv = {}
    # 1: per-group first-appearance monotone
    bad_order = [g for g, vs in first_seen.items() if vs != sorted(vs)]
    inv["per_group_order"] = not bad_order
    # 2: contiguous prefix per group
    bad_gap = []
    for g, vs in per_group.items():
        want = set(range(g, max(vs) + 1, PK_CARD))
        if vs != want:
            bad_gap.append(g)
    inv["per_group_prefix_contiguous"] = not bad_gap
    # 3: duplicates only via a DOCUMENTED at-least-once surface —
    # either the sink's injected partial-append window, or the
    # cross-incarnation replay window (delivered in a trigger whose
    # offset/ledger commit the mid-run kill destroyed, redelivered by
    # the replay after restart; the reference's delivered-then-
    # crashed-before-ack contract).  WITHIN one query incarnation the
    # ledger + sort-adjacent dedup must be exact: two full
    # appends of one identity in the same incarnation is a real bug.
    import bisect

    # Bound the excuse to the trigger(s) the kill actually destroyed:
    # a replayed identity must have FIRST appeared inside the
    # uncommitted-progress window right before the boundary it crossed
    # (trigger cadence + in-flight trigger, sized by the worst
    # trigger actually measured — under load a trigger can run far past
    # its 1 s cadence, widening the genuinely-uncommitted window).  A
    # duplicate first delivered long before the kill (e.g. a ledger-trim
    # bug resurfacing old identities) is NOT a documented replay.
    max_trig_s = max(
        [p["durationMs"]["triggerExecution"] / 1000.0
         for prog in listener.progress.values() for p in prog
         if p.get("numInputRows", 0) > 0] or [1.0])
    replay_horizon_ns = int((1.0 + 2.0 * max(1.0, max_trig_s) + 1.0) * 1e9)
    undocumented_dups = []
    for v, times in dup_occ.items():
        if v in partial_v:
            continue
        ts = sorted(times)
        inc = [bisect.bisect(boundaries_ns, t) for t in ts]
        if len(set(inc)) < len(inc):
            undocumented_dups.append(v)
            continue
        # distinct incarnations: tie the first occurrence to the
        # boundary that ended ITS incarnation
        if inc[0] < len(boundaries_ns):
            gap = boundaries_ns[inc[0]] - ts[0]
            if gap > replay_horizon_ns:
                undocumented_dups.append(v)
    undocumented_dups = set(undocumented_dups)
    cross_incarnation = len(dup_v - partial_v) - len(undocumented_dups)
    inv["dups_only_partial_or_crash_window"] = not undocumented_dups
    # 4: ledger unique + subset (ledger snapshot taken BEFORE the log
    # walk above — see _read_ledger_ids at the quiesce site)
    inv["ledger_subset_of_delivered"] = led_vs <= seen_v
    if not no_standing:
        # 5: at every incarnation boundary AND at the end, the standing
        # replica equals the batch-relational materialization of the
        # raw batch log it applied (r12 task #6)
        inv["replica_equals_log_at_boundaries"] = (
            bool(replica_checks) and all(replica_checks))
        # 6: the SCD2 stateful twin's collapsed emission log equals the
        # batch lead(seq) oracle's closed intervals over the raw log
        inv["scd2_matches_batch_oracle"] = bool(scd2_ok)

    window_s = ((max(append_ns) - min(append_ns)) / 1e9
                if len(append_ns) > 1 else 0.0)
    sustained = (int(delivered_rows_total / window_s) if window_s else 0)
    result = {
        "seconds": seconds, "rate_target": rate, "seed": seed,
        "sustained_rows_per_sec": sustained,
        "delivery_window_s": round(window_s, 1),
        "delivered_rows_total": delivered_rows_total,
        "listener_rows_per_sec": listener_rows_s,
        "listener_rows_seen": rows,
        "delivered_unique": len(seen_v),
        "restarts": restarts,
        "faults_scheduled": len(os.listdir(attempt_dir))
        if os.path.isdir(attempt_dir) else 0,
        "duplicate_identities": len(dup_v),
        "partial_window_identities": len(partial_v),
        "cross_incarnation_replays": cross_incarnation,
        "replay_horizon_s": round(replay_horizon_ns / 1e9, 1),
        "side_schedule_errors": errs,
        "replica_boundary_checks": replica_checks,
        "invariants": inv,
        "bad_order_groups": bad_order[:5],
        "bad_gap_groups": bad_gap[:5],
        "undocumented_dups": sorted(undocumented_dups)[:5],
        "mode": "default",
        "stop_error": stop_err,
    }
    ok = all(inv.values()) and not errs
    result["ok"] = ok
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items()
                      if k not in ("bad_order_groups",)},
                     separators=(",", ":")))
    return result


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int,
                    default=int(os.environ.get("SOAK_SECONDS", "600")))
    ap.add_argument("--rate", type=int, default=50_000)
    ap.add_argument("--seed", type=int, default=20260815)
    ap.add_argument("--out", default=os.path.join(HERE, "docs",
                                                  "soak_r11.json"))
    # diagnosis knobs: isolate engine-internal decay from the chaos
    ap.add_argument("--no-restart", action="store_true")
    ap.add_argument("--no-side", action="store_true")
    ap.add_argument("--no-standing", action="store_true",
                    help="skip the standing replica/SCD2 queries "
                         "(isolate the delivery path)")
    ap.add_argument("--fail-permille", type=int, default=10)
    a = ap.parse_args()
    r = run_soak(a.seconds, a.rate, a.seed, a.out,
                 no_restart=a.no_restart, no_side=a.no_side,
                 no_standing=a.no_standing,
                 fail_permille=a.fail_permille)
    sys.exit(0 if r["ok"] else 1)
