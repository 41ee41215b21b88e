"""The backfill page walker, the whole-table bound, and the keyset-range
events they feed.

``BackfillJob`` walks keyset pages (``walk_pages``) only to find cursor
boundaries; ``run_backfill`` finds the whole table's bound in one
aggregate.  Either way the events are one range scan between cursors.
These tests pin that a range is exactly the union of the pages a walk
stepped over, that the walk costs one Spark job per page and the bound
one, that neither plan re-sorts anything, one rule for NULL cursors,
and that a partial backfill keysets over ``(sort_column, pk)`` so
sort-value ties survive a page boundary.
"""

import contextlib
import io
import time
import uuid

import pytest

from sequin_spark.plans.backfill_api import BackfillManager
from sequin_spark.sources.backfill import (
    PageSizeOptimizer,
    backfill_snapshot,
    cursor_columns,
    fence_merge,
    keyset_page,
    keyset_range,
    run_backfill,
    walk_pages,
)

N_ROWS = 60


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A 60-row single-file parquet table; ``s`` has 10 values, so sort
    ties straddle page boundaries."""
    path = str(tmp_path_factory.mktemp("walker") / "t.parquet")
    (spark.range(N_ROWS)
     .selectExpr("id", "id % 10 AS s", "concat('v-', id) AS v")
     .coalesce(1).write.parquet(path))
    return path, spark.read.parquet(path)


def _walk(df, cursor_cols, page_size=7, max_pages=None):
    """``(n, cursor)`` of each page ``walk_pages`` yields, stopping after
    ``max_pages`` (a walk that ``BackfillJob`` pauses or cancels)."""
    pages = []
    for n, cursor in walk_pages(df, cursor_cols, PageSizeOptimizer(page_size)):
        pages.append((n, list(cursor)))
        if len(pages) == max_pages:
            break
    return pages


def _cdc(spark, fence):
    """CDC touches ids 0..9 at/below the fence and 10..19 after it."""
    return spark.createDataFrame(
        [(0, str(i), fence - 1 if i < 10 else fence + 1) for i in range(20)],
        "table_oid long, group_id string, commit_lsn long")


def _event_rows(df) -> list:
    return [(r.group_id, r.idempotency_key, tuple(sorted(r.record.items())))
            for r in df.select("group_id", "idempotency_key", "record").collect()]


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _jobs(spark, fn):
    """(fn(), Spark job ids it ran)."""
    sc = spark.sparkContext
    group = "walker-" + uuid.uuid4().hex
    sc.setJobGroup(group, "backfill walker test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


SORT_PK = cursor_columns(["id"], "s")
CASES = {
    "pk": dict(cursor_cols=["id"]),
    "sort_pk": dict(cursor_cols=SORT_PK),
    # the walk over the PK + cursor columns only: same boundaries
    "pk_prescan": dict(cursor_cols=SORT_PK, prescan=True),
    # a walk stopped early, as a paused or cancelled BackfillJob's is
    "max_pages": dict(cursor_cols=SORT_PK, max_pages=2),
    "fence": dict(cursor_cols=SORT_PK, fence=True),
}


@pytest.mark.parametrize("case", list(CASES))
def test_range_events_equal_union_of_walked_pages(spark, table, case):
    """The one range scan up to a walk's last cursor emits, as a set of
    (group_id, idempotency_key, record), exactly the union of the pages
    rebuilt here with ``keyset_page`` from the walked cursors — each
    row once."""
    _, df = table
    kw = CASES[case]
    cols = kw["cursor_cols"]
    keys = df.select(*dict.fromkeys([*cols, "id"])) if kw.get("prescan") else df
    walked = _walk(keys, cols, max_pages=kw.get("max_pages"))
    events = backfill_snapshot(
        keyset_range(df, cols, None, walked[-1][1]), "t", ["id"])
    cdc = _cdc(spark, 100) if kw.get("fence") else None

    assert len(walked) >= 2
    prev, pages = None, []
    for n, cursor in walked:
        pages.append(keyset_page(df, cols, prev, n))
        prev = cursor
    expected = backfill_snapshot(pages[0], "t", ["id"])
    for p in pages[1:]:
        expected = expected.unionByName(backfill_snapshot(p, "t", ["id"]))
    if cdc is not None:
        events = fence_merge(events, cdc, 100)
        expected = fence_merge(expected, cdc, 100)

    got = _event_rows(events)
    assert len(got) == len(set(got))
    assert set(got) == set(_event_rows(expected))
    walked_rows = sum(n for n, _ in walked)
    if case == "max_pages":
        assert len(walked) == 2 and walked_rows < N_ROWS
    else:
        assert walked_rows == N_ROWS
        assert len(got) == N_ROWS - (10 if cdc is not None else 0)


@pytest.mark.parametrize("case", ["pk", "sort_pk", "fence"])
def test_run_backfill_emits_every_row_once(spark, table, case):
    """``run_backfill`` emits each row of the table once — the CDC-won
    rows dropped under a fence — and ends ``completed`` at the table's
    last cursor, the cursor a full walk ends on."""
    _, df = table
    cols = CASES[case]["cursor_cols"]
    cdc = _cdc(spark, 100) if CASES[case].get("fence") else None
    bf, events = run_backfill(spark, df, "t", ["id"], cursor_cols=cols,
                              cdc_events=cdc, fence_lsn=100)
    got = _event_rows(events)
    expected = backfill_snapshot(df, "t", ["id"])
    if cdc is not None:
        expected = fence_merge(expected, cdc, 100)
    assert len(got) == len(set(got))
    assert set(got) == set(_event_rows(expected))
    assert bf.state == "completed"
    assert bf.rows_processed_count == N_ROWS
    assert bf.rows_ingested_count == len(got)
    assert bf.cursor == _walk(df, cols)[-1][1]


@pytest.mark.parametrize("fence", [False, True])
def test_range_events_plan_has_no_sort_or_limit(spark, table, fence):
    """The events are one pushed-down scan: nothing re-sorts or limits
    the range up to the bound."""
    _, df = table
    bf, events = run_backfill(
        spark, df, "t", ["id"], cursor_cols=SORT_PK,
        cdc_events=_cdc(spark, 100) if fence else None, fence_lsn=100)
    plan = _plan(events)
    for node in ("Sort", "GlobalLimit", "TakeOrderedAndProject"):
        assert node not in plan, plan
    assert "PushedFilters: [" in plan and "LessThanOrEqual(s," in plan, plan


def test_paging_runs_one_job_per_page(spark, table):
    """One Spark job per walked page plus the final empty one.  The
    table is one parquet split, so a page's agg needs no shuffle."""
    _, df = table
    walked, jobs = _jobs(spark, lambda: _walk(df, ["id"]))
    assert sum(n for n, _ in walked) == N_ROWS
    assert len(jobs) == len(walked) + 1


@pytest.mark.parametrize("rows,files", [(N_ROWS, 1), (5000, 5)])
def test_run_backfill_bound_is_one_aggregate(spark, tmp_path, rows, files):
    """``run_backfill`` finds its bound in one aggregate whatever the
    table's size: two Spark jobs (its partial-aggregate stage and its
    result, as adaptive execution runs them), where a walk at page size
    7 ran one per page.  No count runs when there is no fence
    (rows_ingested = rows_processed, rows_initial from the footers)."""
    path = str(tmp_path / "t")
    (spark.range(rows).selectExpr("id", "id % 10 AS s")
     .repartition(files).write.parquet(path))
    df = spark.read.parquet(path)
    (bf, _), jobs = _jobs(spark, lambda: run_backfill(
        spark, df, "t", ["id"], cursor_cols=SORT_PK, source_path=path))
    assert bf.state == "completed"
    assert bf.rows_initial_count == bf.rows_ingested_count == \
        bf.rows_processed_count == rows
    assert bf.cursor == [9, rows - 1]
    assert len(jobs) == 2


def test_null_cursor_rows_are_neither_paged_nor_emitted(spark):
    """One rule for NULL sort values, wherever the page boundaries fall
    and in the whole-table bound: a row whose cursor is NULL is not
    counted and not emitted.  (Before, such rows leaked in only when
    they sorted onto the first page.)"""
    df = spark.createDataFrame(
        [(i, None if i % 4 == 0 else i % 5) for i in range(40)],
        "id long, s long")
    cols = cursor_columns(["id"], "s")
    bf, events = run_backfill(spark, df, "t", ["id"], cursor_cols=cols)
    ids = sorted(int(r.group_id) for r in events.select("group_id").collect())
    assert ids == [i for i in range(40) if i % 4]
    assert bf.rows_processed_count == bf.rows_ingested_count == 30
    for size in (3, 1000):
        walked = _walk(df, cols, page_size=size)
        assert sum(n for n, _ in walked) == 30, size
        assert walked[-1][1] == bf.cursor, size


def _wait_completed(job, timeout=60.0):
    deadline = time.time() + timeout
    while job.state == "active" and time.time() < deadline:
        time.sleep(0.05)
    assert job.state == "completed", job.to_external()


def test_partial_backfill_keeps_sort_ties_across_pages(spark):
    """A sort_column backfill pages on (sort_column, pk): with 30 rows
    over 10 sort values and 2-row first pages, every row arrives exactly
    once (paging on the sort column alone skipped the tied rows past a
    page boundary: 27 of 30).  start_position still starts strictly
    after the given sort value."""
    df = spark.range(30).selectExpr("id", "id % 10 AS s").cache()
    df.count()
    received = []
    mgr = BackfillManager(
        lambda ref: (df, ["id"]), initial_page_size=2,
        out_writer=lambda snap: received.extend(
            int(r.group_id) for r in snap.select("group_id").collect()))
    try:
        job = mgr.create("sink", "public.t", sort_column="s")
        _wait_completed(job)
        assert sorted(received) == list(range(30))
        ext = job.to_external()
        assert ext["rows_processed_count"] == ext["rows_ingested_count"] == 30
        assert ext["sort_column"] == "s"

        received.clear()
        job = mgr.create("sink", "public.t", sort_column="s", start_position=6)
        _wait_completed(job)
        assert sorted(received) == [i for i in range(30) if i % 10 > 6]
        assert job.to_external()["rows_processed_count"] == 9
    finally:
        df.unpersist()


def test_backfill_job_writes_each_page_as_its_range(spark):
    """``BackfillJob`` hands ``out_writer`` one range per page: the
    ranges are disjoint, in cursor order, and cover the table."""
    df = spark.range(50).selectExpr("id", "id % 7 AS s")
    pages = []
    mgr = BackfillManager(
        lambda ref: (df, ["id"]), initial_page_size=4,
        out_writer=lambda snap: pages.append(sorted(
            (int(r.record["s"]), int(r.group_id))
            for r in snap.select("group_id", "record").collect())))
    job = mgr.create("sink", "public.t", sort_column="s")
    _wait_completed(job)
    flat = [k for p in pages for k in p]
    assert len(pages) >= 3 and all(pages)
    assert flat == sorted((i % 7, i) for i in range(50))


def test_backfill_job_counts_rows_from_footers(spark, tmp_path):
    """``BackfillJob`` sizes ``rows_initial_count`` from the parquet
    footers of the table's files, as ``run_backfill`` does: creating a
    job over a 12-file table runs no Spark job."""
    from sequin_spark.plans.backfill_api import BackfillJob

    path = str(tmp_path / "t12")
    spark.range(120).repartition(12).write.parquet(path)
    df = spark.read.parquet(path)
    sc = spark.sparkContext
    group = "bf-create-" + uuid.uuid4().hex
    sc.setJobGroup(group, "backfill create")
    try:
        job = BackfillJob("sink", "public.t", df, ["id"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert job.to_external()["rows_initial_count"] == 120
    assert sc.statusTracker().getJobIdsForGroup(group) == []
