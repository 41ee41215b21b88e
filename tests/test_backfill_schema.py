"""Backfill protocol + canonical schema tests (table_reader_test.exs analog)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from sequin_spark.cdc import eventize_orders, load_table
from sequin_spark.schema import EVENT_COLUMNS
from sequin_spark.sources.backfill import (
    PageSizeOptimizer,
    backfill_snapshot,
    fence_merge,
    keyset_page,
    keyset_predicate,
)


def test_eventize_schema(spark, sf_dir):
    ev = eventize_orders(spark, sf_dir)
    assert set(EVENT_COLUMNS) == set(ev.columns)
    row = ev.filter(F.col("action") == "update").limit(1).collect()[0]
    assert row.changes is not None and "o_orderstatus" in row.changes
    assert row.group_id == row.record_pks[0]
    ins = ev.filter(F.col("action") == "insert").limit(1).collect()[0]
    assert ins.changes is None


def test_keyset_predicate_composite(spark):
    df = spark.createDataFrame(
        [Row(a=1, b=1), Row(a=1, b=2), Row(a=2, b=0), Row(a=0, b=9)]
    )
    out = df.filter(keyset_predicate(["a", "b"], [1, 1])).collect()
    assert sorted((r.a, r.b) for r in out) == [(1, 2), (2, 0)]


def test_keyset_page_pushdown(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    page = keyset_page(cust, ["c_custkey"], [50], 10)
    keys = [r.c_custkey for r in page.select("c_custkey").collect()]
    assert keys == list(range(51, 61))
    # the keyset predicate must reach the parquet scan
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(c_custkey,50)" in plan


def test_fence_merge_cdc_wins(spark):
    snapshot = spark.createDataFrame(
        [Row(table_oid=1, group_id="1", v="stale"), Row(table_oid=1, group_id="2", v="ok")]
    )
    cdc = spark.createDataFrame(
        [
            Row(table_oid=1, group_id="1", commit_lsn=5),   # before fence → snapshot dropped
            Row(table_oid=1, group_id="2", commit_lsn=50),  # after fence → snapshot kept
        ]
    )
    out = fence_merge(snapshot, cdc, fence_lsn=10)
    assert [r.v for r in out.collect()] == ["ok"]


def test_backfill_snapshot_shape(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").limit(5)
    snap = backfill_snapshot(cust, "customer", ["c_custkey"])
    rows = snap.collect()
    assert all(r.action == "read" for r in rows)
    assert all(r.group_id == r.record["c_custkey"] for r in rows)


def test_page_size_optimizer_aimd():
    opt = PageSizeOptimizer(initial=1000, max_timeout_ms=1000)
    opt.record(1000, 100)   # fast → grow
    assert opt.size == 1500
    opt.record(1500, 5000)  # timeout → halve
    assert opt.size == 750


def test_fast_count_estimate(spark, sf_dir):
    """reltuples analog (table_reader.ex:333-360): parquet-footer sum
    equals the true count without scanning column data."""
    import os

    from sequin_spark.sources.fast_count import count_or_estimate, fast_count_estimate

    path = os.path.join(sf_dir, "customer.parquet")
    cust = load_table(spark, sf_dir, "customer")
    assert fast_count_estimate(path) == cust.count()
    assert fast_count_estimate(path, fraction=0.5) == cust.count() // 2
    # unknown path falls back to a distributed count
    assert count_or_estimate(cust, None) == cust.count()
    assert count_or_estimate(cust, "/nonexistent") == cust.count()


# -- cursor-column policy (keyset_cursor_test.exs ports) --------------------

def test_cursor_columns_sort_column_leads():
    """Sort column first, then PKs (where_sql/order_by_sql ports:
    ("updated_at","id1","id2") > (?,?,?))."""
    from sequin_spark.sources.backfill import cursor_columns

    assert cursor_columns(["id1", "id2"], "updated_at") == [
        "updated_at", "id1", "id2"]


def test_cursor_columns_sort_column_is_pk():
    """A sort column that is itself a PK is not repeated
    (keyset_cursor_test 'handles sort column as primary key')."""
    from sequin_spark.sources.backfill import cursor_columns

    assert cursor_columns(["id1", "id2"], "id1") == ["id1", "id2"]


def test_cursor_columns_no_sort_column():
    """nil sort column ⇒ PKs only (keyset_cursor_test 'handles nil
    sort column by using only primary keys')."""
    from sequin_spark.sources.backfill import cursor_columns

    assert cursor_columns(["id1", "id2"], None) == ["id1", "id2"]


def test_cursor_round_trip_pages(spark):
    """Each walked page's last cursor feeds the next page's keyset
    predicate: walking pages by (sort_col, pk), each read back as its
    keyset range, covers every row exactly once even with duplicate
    sort values (the reason PKs tail the cursor)."""
    from sequin_spark.sources.backfill import (
        cursor_columns,
        keyset_range,
        walk_pages,
    )

    # duplicate updated_at values across ids — sort alone is ambiguous
    df = spark.createDataFrame(
        [(ts, i) for i in range(30) for ts in [i // 3]],
        "updated_at long, id long",
    )
    cols = cursor_columns(["id"], "updated_at")
    seen, prev = [], None
    for n, cursor in walk_pages(df, cols, PageSizeOptimizer(initial=7, max_size=7)):
        page = keyset_range(df, cols, prev, cursor).collect()
        assert len(page) == n
        seen += [r["id"] for r in page]
        prev = cursor
    assert sorted(seen) == sorted(r["id"] for r in df.collect())
    assert len(seen) == len(set(seen))  # exactly once


def test_eventize_escapes_identifiers_and_literals(spark):
    """Column, table and schema names reach eventize's one parsed
    projection escaped: backticks doubled inside quoted identifiers,
    quotes doubled and backslashes escaped inside string literals."""
    from sequin_spark.cdc import eventize

    name = "we'ird`na`me"
    df = spark.createDataFrame([(1, "a"), (6, "b")], ["id", name])
    ev = eventize(df, "o'brien\\t", ["id"], order_expr="id",
                  table_schema="sch'ema", changed_col=name, group_cols=[name])
    rows = {r.record["id"]: r for r in ev.collect()}
    assert rows["1"].record == {"id": "1", name: "a"}
    assert rows["1"].action == "insert" and rows["1"].changes is None
    assert rows["6"].action == "update"
    assert rows["6"].changes == {name: "old:b"}
    assert rows["6"].group_id == "b"
    assert {(r.table_schema, r.table_name) for r in rows.values()} == {
        ("sch'ema", "o'brien\\t")}
