"""Plan-quality gate: every registry query must compile to a
scale-safe physical plan — no cartesian products or nested-loop joins
outside the operators that are all-pairs BY DESIGN, and pushed filters
must reach the parquet scan where the operator depends on it.

This is the automated form of the `.explain("formatted")` audit: a
regression here means an operator silently degraded to a plan that
dies at 100 TB even though its sf0.01 results stay correct.
"""

import contextlib
import io
import json
import os

import pytest

from pyspark.sql import functions as F

from sequin_spark.queries import ORACLES, QUERIES

# All-pairs by design (documented): the exact baseline or tiny
# broadcast-cross search shapes (queries × 8 centroids, etc.).
ALLOW_NESTED_LOOP = {
    "ann_topk_bruteforce",   # the O(nq·n) exact baseline, by definition
    "ann_lsh_topk",          # query-side × probe-plan constants (tiny broadcast)
    "ann_ivf_topk",          # query-side × n_centroids=8 centroid table
    "backfill_keyset_page",  # driver-built single-row cursor predicate
    "ann_pq_adc",            # ADC scan: corpus codes × broadcast query LUTs
    "ann_ivfpq_topk",        # query-side × n_centroids=8 coarse-centroid table
    "ann_recall_eval",       # ground truth IS the exact all-pairs baseline
    "select_hard_negatives",  # exact triplet mining = the all-pairs eval
                              # baseline (scale path mines IVF candidates)
    "embed_matryoshka_recall",  # 4 bounded exact-baseline passes by design
    # 1×1 global-aggregate joins by design: the sketch estimate (1 row)
    # is combined with the exact countDistinct baseline (1 row); Catalyst
    # folds any literal equi-key to `true`, so a nested-loop join is the
    # only shape this can take — and it is O(1) by construction.
    "sketch_kmv_distinct",
    "sketch_hll_distinct",
    "sketch_vocab_overlap",  # 1-row estimate × 1-row exact baseline
    "sketch_hll_setops",     # three 1-row estimates combined
    "sketch_bloom_probe",    # 1-row probe summary × 1-row bit count
    "sketch_ams_f2",         # 1-row median estimator × 1-row exact F2
}


# Single-partition (unpartitioned) windows allowed ONLY over inputs
# bounded by construction — each justified; anything else is THE
# scale-killer plan class (the whole table funnels through one task).
ALLOW_SINGLE_PARTITION_WINDOW = {
    "corpus_shard_skew_audit",   # window over the 8 aggregated shard rows
    "hw_cursor_advancement",     # window over 12 consumer×partition agg rows
    "privacy_kanon_risk",        # window over <=4 aggregated band rows
    "privacy_ldp_frequency",     # windows over the bounded category table
    "sketch_sample_quantiles",   # windows over the 256-row sketch sample
                                 # (the exact baseline is two-pass ranked)
    "text_filter_funnel",        # window over the bounded rule table
}


def _single_partition_windows(plan: str) -> list:
    """Window nodes whose first child Exchange is SinglePartition —
    i.e. windows Spark could only satisfy by collapsing the input to
    one task (unpartitioned window spec)."""
    import re

    lines = plan.splitlines()

    def depth(ln):
        return re.match(r"^[\s+:|-]*", ln).end()

    hits = []
    for i, ln in enumerate(lines):
        if not re.search(r"\bWindow\b", ln):
            continue
        d = depth(ln)
        for j in range(i + 1, len(lines)):
            if lines[j].strip() and depth(lines[j]) <= d:
                break
            if "Exchange" in lines[j]:
                if "SinglePartition" in lines[j]:
                    hits.append(ln.strip()[:160])
                break
    return hits


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan_baseline() -> dict:
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "data",
                        "plan_stats_baseline.json")
    with open(path) as f:
        return json.load(f)


_BASELINE = _plan_baseline()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_shape_gate(spark, sf_dir, name):
    """One construction, three plan-shape invariants per registry
    query:

    1. No accidental cartesian/nested-loop join (all-pairs only where
       documented in ALLOW_NESTED_LOOP).
    2. No unpartitioned unbounded window over a corpus-sized input
       (Exchange SinglePartition feeding a Window = the whole table
       through ONE task at 100 TB) — r9 verdict task #1's gate;
       global orders use curation.global_row_number /
       prefix_max_exclusive.
    3. Plan-stat regression (r9 verdict task #8): shuffle / join node
       counts must not GROW past tests/data/plan_stats_baseline.json
       (regenerate with `python tools/plan_stats.py --write` ONLY
       with a written justification in the same commit).  The
       baseline stores the max over cold and index-warm
       constructions, so shrinkage from cached indexes never fails.
    """
    from tools.plan_stats import plan_stats

    from sequin_spark.plan_capture import capture_plans

    # r14 (verdict task #4): build with see-through plan checkpoints so
    # the gate sees the full child plan behind the evaluate-once
    # localCheckpoint sites (funnel_conversion read 0 Exchanges after
    # r13 — a LogicalRDD leaf hid the whole subtree from the gate).
    # Iterative fits keep their load-bearing truncation (their raw
    # localCheckpoint calls are not routed through plan_capture).
    with capture_plans():
        df = QUERIES[name](spark, sf_dir)
    plan = _physical_plan(df)
    if name not in ALLOW_NESTED_LOOP:
        assert "CartesianProduct" not in plan, \
            f"{name}: cartesian product in plan"
        assert "BroadcastNestedLoopJoin" not in plan, \
            f"{name}: nested-loop join in plan"
    if name not in ALLOW_SINGLE_PARTITION_WINDOW:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        hits = _single_partition_windows(buf.getvalue())
        assert not hits, (
            f"{name}: single-partition window(s) in plan — a one-task "
            f"global funnel at scale. Use the two-pass helpers or "
            f"justify in ALLOW_SINGLE_PARTITION_WINDOW:\n"
            + "\n".join(hits))
    stats = plan_stats(plan)
    base = _BASELINE.get(name)
    assert base is not None, (
        f"{name}: no plan-stat baseline — run "
        f"`python tools/plan_stats.py --write` and commit the file")
    grew = {k: (base[k], stats[k]) for k in stats if stats[k] > base[k]}
    assert not grew, (
        f"{name}: plan-stat regression (baseline, current) = {grew} — "
        f"fix the plan or update tests/data/plan_stats_baseline.json "
        f"with a written justification")


def test_keyset_page_pushes_down(spark, sf_dir):
    """The backfill page predicate must reach the parquet scan."""
    from sequin_spark.cdc import load_table
    from sequin_spark.sources.backfill import keyset_page

    cust = load_table(spark, sf_dir, "customer")
    page = keyset_page(cust, ["c_custkey"], [500], 100)
    plan = _physical_plan(page)
    assert "PushedFilters" in plan and "c_custkey" in plan.split("PushedFilters")[1][:200]


def test_enrichment_broadcasts(spark, sf_dir):
    """The enrichment join must broadcast the dimension side, never
    shuffle the event stream."""
    plan = _physical_plan(QUERIES["enrichment_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_registry_bucketed_join_is_shuffle_free(spark, sf_dir):
    """The REGISTRY query `bucketed_colocated_join` (not just the
    recipe below) must plan as SortMergeJoin with zero Exchange: join
    key = bucket key on both sides, group-by key = bucket key, so
    neither the join nor the aggregate shuffles.  This is the plan a
    100 TB fact-to-fact join needs — a conf drift or bucketed-table
    cache bug that silently reinstates the shuffle fails here, not at
    the cluster."""
    plan = _physical_plan(QUERIES["bucketed_colocated_join"](spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, (
        "bucketed registry join shuffled anyway:\n" + plan)


def test_bucketed_table_redeclare_roundtrip(spark, sf_dir):
    """A fresh catalog (new process) must re-declare the persisted
    bucketed files as an external bucketed table and keep the
    shuffle-free plan AND the rows.  Simulated by dropping the catalog
    entry (external table: files survive) and re-resolving."""
    from sequin_spark.operators.bucketed import bucketed_table

    ob = bucketed_table(spark, sf_dir, "orders", "o_custkey")
    n_before = ob.count()
    assert n_before > 0
    # find the registered name and drop ONLY the catalog entry
    names = [t.name for t in spark.catalog.listTables()
             if t.name.startswith("bkt_orders_")]
    assert names
    for t in names:
        spark.sql(f"DROP TABLE {t}")
    ob2 = bucketed_table(spark, sf_dir, "orders", "o_custkey")
    assert ob2.count() == n_before, "external files lost on DROP TABLE"
    eb = bucketed_table(spark, sf_dir, "events", "user_id")
    j = (ob2.hint("merge")
         .join(eb.hint("merge"), ob2["o_custkey"] == eb["user_id"]))
    plan = _physical_plan(j)
    assert "SortMergeJoin" in plan and "Exchange" not in plan, plan


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Co-located join via bucketing — the 100 TB recipe when BOTH join
    sides are too big to broadcast: bucketBy(join key) + sortBy at
    write time lets a later sort-merge join read both sides already
    partitioned, with NO Exchange (shuffle) in the plan.  This pins the
    recipe docs/SCALE.md prescribes for the fact-to-fact joins
    (events↔orders) so a Spark upgrade or conf drift that silently
    reinstates the shuffle fails the build."""
    from sequin_spark.cdc import load_table

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}'")
    try:
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
         .sortBy("o_orderkey").saveAsTable("bkt.orders_b"))
        (lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
         .sortBy("l_orderkey").saveAsTable("bkt.lineitem_b"))
        joined = (
            spark.table("bkt.orders_b")
            .join(spark.table("bkt.lineitem_b"),
                  spark.table("bkt.orders_b").o_orderkey
                  == spark.table("bkt.lineitem_b").l_orderkey)
            .select("o_orderkey", "l_quantity")
        )
        plan = _physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, (
            "bucketed join shuffled anyway:\n" + plan)
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt.orders_b")
        spark.sql("DROP TABLE IF EXISTS bkt.lineitem_b")
        spark.sql("DROP DATABASE IF EXISTS bkt")


def test_bucketed_stream_writer_keeps_colocated_plan(spark, sf_dir, tmp_path):
    """CDC→analytics bridge: micro-batches appended through
    bucketed_stream_writer land pre-bucketed, so a fact-to-fact join
    against another bucketed table keeps the zero-Exchange
    SortMergeJoin WHILE the stream grows; a replayed micro-batch (crash
    recovery) is appended exactly once (marker idempotence)."""
    from sequin_spark.operators.bucketed import (
        bucketed_stream_writer,
        bucketed_table,
    )

    src = str(tmp_path / "src")
    tbl_path = str(tmp_path / "facts")
    name = "bkt_stream_facts_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    def write_batch(lo, hi):
        spark.createDataFrame(
            [(i, i % 150, float(i)) for i in range(lo, hi)],
            "order_id long, cust_id long, amount double",
        ).coalesce(1).write.mode("append").parquet(src)

    write_batch(0, 500)
    stream = (spark.readStream
              .schema("order_id long, cust_id long, amount double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (bucketed_stream_writer(stream, name, tbl_path, "cust_id")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        write_batch(500, 900)
        q.processAllAvailable()
    finally:
        q.stop()

    t = spark.table(name)
    assert t.count() == 900

    # crash-replay simulation: re-running a committed batch id is a no-op
    import glob as _glob

    from sequin_spark.operators.bucketed import append_bucketed_batch

    markers = _glob.glob(str(tmp_path / "facts" / "_batches" / "_batch_*"))
    assert len(markers) >= 2
    batch0 = spark.createDataFrame([(0, 0, 0.0)],
                                   "order_id long, cust_id long, amount double")
    assert append_bucketed_batch(batch0, name, tbl_path, "cust_id",
                                 8, 0) is False
    assert spark.table(name).count() == 900  # nothing appended

    # the join against an independently bucketed dim-fact stays
    # shuffle-free as the streamed table grows
    eb = bucketed_table(spark, sf_dir, "events", "user_id")
    j = (t.hint("merge")
         .join(eb.hint("merge"), t["cust_id"] == eb["user_id"]))
    plan = _physical_plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert j.count() > 0
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_compact_bucketed_preserves_rows_and_plan(spark, tmp_path):
    """Compaction rewrites the appended bucketed table to ~1 file per
    bucket with identical rows, clears the batch markers, and the
    re-registered table still joins shuffle-free."""
    import os

    from sequin_spark.operators.bucketed import (
        append_bucketed_batch,
        compact_bucketed,
    )

    name = "bkt_compact_t"
    path = str(tmp_path / "facts")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    for b in range(5):
        df = spark.createDataFrame(
            [(i + 200 * b, (i + 200 * b) % 40) for i in range(200)],
            "order_id long, cust_id long")
        assert append_bucketed_batch(df, name, path, "cust_id", 8, b)
    data_dir = os.path.join(path, "data")
    files_before = len([f for f in os.listdir(data_dir)
                        if not f.startswith(("_", "."))])
    before = sorted(r["order_id"] for r in spark.table(name).collect())

    n_files = compact_bucketed(spark, name, path, "cust_id", 8)
    assert n_files < files_before
    after = sorted(r["order_id"] for r in spark.table(name).collect())
    assert after == before
    assert not os.path.exists(os.path.join(path, "_batches"))

    # still co-located: self-shaped join against another bucketed table
    other = spark.createDataFrame(
        [(i, i % 40) for i in range(100)], "k long, cust2 long")
    spark.sql("DROP TABLE IF EXISTS bkt_compact_o")
    (other.write.mode("overwrite").bucketBy(8, "cust2").sortBy("cust2")
     .option("path", str(tmp_path / "other")).saveAsTable("bkt_compact_o"))
    t = spark.table(name)
    o = spark.table("bkt_compact_o")
    j = t.hint("merge").join(o.hint("merge"), t["cust_id"] == o["cust2"])
    plan = _physical_plan(j)
    assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
    assert j.count() > 0
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql("DROP TABLE IF EXISTS bkt_compact_o")


def test_compact_bucketed_self_heals_interrupted_swap(spark, tmp_path):
    """ADVICE r7: a crash between the two swap renames used to leave no
    registered table.  Now the registration is never dropped and a
    re-run promotes the surviving directory, so every crash point
    recovers to a queryable table with the original rows."""
    import os
    import shutil

    from sequin_spark.operators.bucketed import (
        append_bucketed_batch,
        compact_bucketed,
    )

    name = "bkt_heal_t"
    path = str(tmp_path / "facts")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    for b in range(3):
        df = spark.createDataFrame(
            [(i + 100 * b, (i + 100 * b) % 16) for i in range(100)],
            "order_id long, cust_id long")
        assert append_bucketed_batch(df, name, path, "cust_id", 8, b)
    before = sorted(r["order_id"] for r in spark.table(name).collect())
    data_dir = os.path.join(path, "data")

    # simulate the crash window between rename(data→old) and
    # rename(stage→data): live dir gone, original parked at data_old
    os.rename(data_dir, os.path.join(path, "data_old"))
    assert not os.path.isdir(data_dir)

    # recovery IS re-running compaction
    n_files = compact_bucketed(spark, name, path, "cust_id", 8)
    assert n_files >= 1
    after = sorted(r["order_id"] for r in spark.table(name).collect())
    assert after == before

    # simulate the other side: stage survived instead of the original
    shutil.copytree(data_dir, os.path.join(path, "data_compacting"))
    shutil.rmtree(data_dir)
    n_files = compact_bucketed(spark, name, path, "cust_id", 8)
    assert sorted(r["order_id"]
                  for r in spark.table(name).collect()) == before
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_delivery_plan_fingerprint(spark, tmp_path):
    """r10 verdict task #9: the batch registry has a plan-stat gate,
    but the DELIVERY job's physical plan (the foreachBatch body's
    repartition + sort ahead of the Arrow deliver pass) had no
    baseline — a silent extra shuffle in arrange_for_delivery would
    only surface as trigger-latency drift.  Fingerprint the plan
    against a committed baseline: exactly
    ONE group-hash Exchange and ONE in-partition Sort, no joins — also
    for the frame prepare() builds when a ledger, blocked groups and
    due pending retries all exist."""
    from sequin_spark.streaming.delivery import DeliveryEngine

    base_path = os.path.join(os.path.dirname(__file__), "data",
                             "delivery_plan_baseline.json")
    with open(base_path) as f:
        baseline = json.load(f)

    rows = spark.createDataFrame(
        [("g1", 10, 0, "k1", "key", "val", "t")],
        "group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string, "
        "topic string").withColumn("deliver_count", F.lit(0))
    eng = DeliveryEngine(
        sink_type="benchmark", sink_config={},
        state_dir=str(tmp_path / "sync"), routing_cols=("topic",))
    _assert_delivery_plan(eng.arrange_for_delivery(rows), baseline["sync"])

    # the frame prepare() hands to the delivery task when a ledger,
    # a backing-off pending head (blocked group g3) and a due retry
    # (group g2) all exist: the ledger and blocked-group checks run in
    # the task, so the plan keeps the same shape — no join
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as papq

    os.makedirs(eng.ledger_dir)
    papq.write_table(pa.table({
        "commit_lsn": [10], "commit_idx": [0], "idempotency_key": ["k1"]}),
        os.path.join(eng.ledger_dir, "batch-0-seed.parquet"))
    os.makedirs(os.path.dirname(eng.pending_path))
    papq.write_table(pa.Table.from_pandas(pd.DataFrame({
        "group_id": ["g2", "g3"], "commit_lsn": [5, 6], "commit_idx": [0, 0],
        "idempotency_key": ["k5", "k6"], "key": ["key", "key"],
        "value": ["val", "val"], "topic": ["t", "t"],
        "deliver_count": [1, 1], "not_visible_until": [0.0, 4e9],
    }), preserve_index=False), eng.pending_path)
    prep = eng.prepare(rows, 1)
    assert prep["ledger"] == {(10, 0, "k1")}
    assert prep["blocked"] == {"g3"}
    _assert_delivery_plan(prep["arranged"], baseline["sync"])


def _assert_delivery_plan(arranged, expected: dict) -> None:
    import re as _re

    from tools.plan_stats import plan_stats

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        arranged.explain("formatted")
    plan = buf.getvalue()
    # the exchange names no partition count, so adaptive execution may
    # size it to the batch: a fixed-width repartition(n, col) plans as
    # REPARTITION_BY_NUM, a rebalance as REBALANCE_PARTITIONS_BY_COL
    assert _re.search(
        r"hashpartitioning\(group_id#\d+, \d+\), REPARTITION_BY_COL\b",
        plan), plan
    got = plan_stats(plan)
    got["sorts"] = len(_re.findall(r"\(\d+\) Sort\b", plan))
    assert got == expected, (
        f"delivery plan fingerprint drifted: {got} != committed {expected} — a new shuffle or "
        f"sort on the trigger path needs a justified baseline "
        f"update in the same commit")
