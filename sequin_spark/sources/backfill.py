"""Backfill — bounded snapshot scans merged consistently into the stream.

Reference protocol (SURVEY §2.10; lib/sequin/runtime/table_reader.ex):

1. keyset-paginated scan: ``WHERE (sort_col, pk...) > (cursor...) ORDER BY
   sort_col, pk LIMIT page_size`` (table_reader.ex:265-298,
   keyset_cursor.ex:93-113) — pure predicate pushdown;
2. consistency fence: a batch is only merged after the high-watermark
   returns through the WAL, and snapshot rows whose PK appeared in CDC
   before the fence are dropped (CDC wins — message_handler.ex:130-148);
3. snapshot rows enter the stream as ``action='read'`` events.

Spark mapping: (1) splits in two — the bound (one pushed-down ``agg``
row: the whole table's last cursor for ``run_backfill``, each page's
for ``walk_pages``), then the events as ONE keyset-range scan
``lo < cursor <= last`` with no sort and no limit; (2) is a left_anti
join against the CDC keys at/below the fence LSN (broadcast — that key
set is small), run once on the range; (3) is a union into the canonical
stream.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def cursor_columns(pk_cols: list[str],
                   sort_col: str | None = None) -> list[str]:
    """Cursor column order (keyset_cursor.ex cursor_columns/1): the
    sort column leads, then the PKs in attnum order; a sort column that
    IS a PK isn't repeated; no sort column ⇒ PKs alone. The pages this
    cursor walks are then strictly ordered and restartable regardless
    of which column carries the user-visible progress."""
    if sort_col is None:
        return list(pk_cols)
    return [sort_col] + [c for c in pk_cols if c != sort_col]


def keyset_predicate(cursor_cols: list[str], cursor_vals: list) -> Column:
    """Row-wise ``(c1, c2, ...) > (v1, v2, ...)`` as a Catalyst predicate.

    Expanded lexicographic form (keyset_cursor.ex:93-113) so every
    conjunct can push down to the scan:
    c1 > v1 OR (c1 = v1 AND c2 > v2) OR ...
    """
    if len(cursor_cols) != len(cursor_vals):
        raise ValueError("cursor_cols and cursor_vals must align")
    pred = None
    for i in range(len(cursor_cols)):
        eq = F.lit(True)
        for j in range(i):
            eq = eq & (F.col(cursor_cols[j]) == F.lit(cursor_vals[j]))
        clause = eq & (F.col(cursor_cols[i]) > F.lit(cursor_vals[i]))
        pred = clause if pred is None else (pred | clause)
    return pred


def keyset_page(
    df: DataFrame,
    cursor_cols: list[str],
    cursor_vals: list | None,
    page_size: int,
) -> DataFrame:
    """One backfill page: keyset filter → cursor order → limit."""
    out = df
    if cursor_vals is not None:
        out = out.filter(keyset_predicate(cursor_cols, cursor_vals))
    return out.orderBy(*[F.col(c) for c in cursor_cols]).limit(page_size)


def keyset_range(df: DataFrame, cursor_cols: list[str], lo: list | None, hi: list) -> DataFrame:
    """Rows with ``lo < cursor <= hi`` (``lo=None``: from the start): the
    pages a walk stepped over, as one filter with no sort and no limit."""
    pred = ~keyset_predicate(cursor_cols, hi)
    if lo is not None:
        pred = keyset_predicate(cursor_cols, lo) & pred
    return df.dropna(subset=cursor_cols).filter(pred)


def walk_pages(df: DataFrame, cursor_cols: list[str], opt: "PageSizeOptimizer"):
    """Page walker: yield ``(n, last_cursor)`` for each non-empty keyset
    page of ``df``, sized by ``opt`` (AIMD), with one
    ``agg(count, max(struct(cursor)))`` job per page — the page is in
    cursor order, so the struct max IS its last cursor.  Nothing is
    cached; callers read the rows as ``keyset_range`` between cursors."""
    # NULL never compares greater than a cursor, so only the first page
    # could reach a NULL-cursor row: such rows are neither paged nor emitted
    df = df.dropna(subset=cursor_cols)
    cursor = None
    while True:
        t0 = time.time()
        last = keyset_page(df, cursor_cols, cursor, opt.size).agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.struct(*[F.col(c) for c in cursor_cols])).alias("last_cursor"),
        ).collect()[0]
        if not last["n"]:
            return
        opt.record(opt.size, (time.time() - t0) * 1000)
        cursor = [last["last_cursor"][c] for c in cursor_cols]
        yield int(last["n"]), cursor


def backfill_snapshot(df: DataFrame, table_name: str, pk_cols: list[str], table_schema: str = "public") -> DataFrame:
    """Shape a snapshot page as canonical `read` events
    (table_reader.ex:381-409 builds ConsumerEvent(action: :read))."""
    from sequin_spark.cdc import TABLE_OIDS
    from sequin_spark.schema import group_id_from_pks

    record_entries = []
    for c in df.columns:
        record_entries.append(F.lit(c))
        record_entries.append(F.col(c).cast("string"))
    pks = F.array(*[F.col(c).cast("string") for c in pk_cols])
    out = df.select(
        F.lit("read").alias("action"),
        F.create_map(*record_entries).alias("record"),
        F.lit(None).cast("map<string,string>").alias("changes"),
        F.lit(table_schema).alias("table_schema"),
        F.lit(table_name).alias("table_name"),
        F.lit(TABLE_OIDS.get(table_name, 0)).cast("long").alias("table_oid"),
        pks.alias("record_pks"),
        F.lit(0).cast("long").alias("commit_lsn"),
        F.lit(0).cast("long").alias("commit_idx"),
        F.lit(None).cast("timestamp").alias("commit_timestamp"),
        F.lit(None).cast("string").alias("trace_id"),
        F.lit(None).cast("string").alias("transaction_annotations"),
    ).withColumn("group_id", group_id_from_pks(F.col("record_pks")))
    # backfill idempotency: base64("backfill:{table}:{pks}") —
    # table_reader.ex:405 (base64(backfill_id:pk1:pk2…))
    return out.withColumn(
        "idempotency_key",
        F.base64(
            F.concat(F.lit(f"backfill:{table_name}:"), F.array_join(F.col("record_pks"), ":")).cast(
                "binary"
            )
        ),
    )


def fence_merge(snapshot: DataFrame, cdc: DataFrame, fence_lsn: int) -> DataFrame:
    """Drop snapshot rows whose PK was touched by CDC at/below the fence.

    CDC wins over the (possibly stale) snapshot read —
    message_handler.ex:66-94 (pks_seen) + 130-148 (flush on watermark).
    The CDC key set for one fence window is bounded → broadcast anti-join,
    so the snapshot side never shuffles.
    """
    seen = (
        cdc.filter(F.col("commit_lsn") <= F.lit(fence_lsn))
        .select(F.col("table_oid"), F.col("group_id").alias("_seen_gid"))
        .dropDuplicates()
    )
    return snapshot.join(
        broadcast(seen),
        (snapshot["table_oid"] == seen["table_oid"]) & (snapshot["group_id"] == seen["_seen_gid"]),
        "left_anti",
    )


# backfill.ex:92-98 @state_transitions: the states and the moves
# between them; terminal states are frozen
STATE_TRANSITIONS = {
    "active": ("paused", "completed", "failed", "cancelled"),
    "paused": ("active", "cancelled"),
    "completed": (),
    "failed": (),
    "cancelled": (),
}


class Backfill:
    """Backfill lifecycle + progress counters (backfill.ex:29-51,91-97):
    the STATE_TRANSITIONS state machine, counters
    rows_initial/processed/ingested."""

    def __init__(self, table_name: str, cursor_cols: list[str], rows_initial_count: int = 0):
        self.table_name = table_name
        self.cursor_cols = cursor_cols
        self.state = "active"
        self.rows_initial_count = rows_initial_count
        self.rows_processed_count = 0
        self.rows_ingested_count = 0
        self.cursor: list | None = None

    def transition(self, new_state: str) -> None:
        """Validated transition (backfill.ex:99-121); raises ValueError
        with the reference's message shape on an illegal move."""
        allowed = STATE_TRANSITIONS[self.state]
        if new_state not in allowed:
            raise ValueError(
                f"Invalid state transition from {self.state} to {new_state}. "
                f"Valid transitions: {', '.join(allowed) or 'none'}")
        self.state = new_state


def run_backfill(
    spark,
    df,
    table_name: str,
    pk_cols: list[str],
    cursor_cols: list[str] | None = None,
    cdc_events=None,
    fence_lsn: int = 0,
    source_path: str | None = None,
):
    """Whole-table backfill (§2.10): return (Backfill, events) — the
    `read` events of every row with a non-NULL cursor, as ONE
    keyset-range scan up to the table's last cursor, fence-merged once
    against concurrent CDC (None when the table has no such row).

    The bound (row count and last cursor) is one
    ``agg(count, max(struct(cursor)))`` over the NULL-dropped cursor
    columns, so it reads only those columns, as the reference's PK
    prescan does (table_reader.ex:161-203).  There is no page walk:
    the reference pages because it holds each page in memory; here the
    events are one range scan either way.  ``BackfillJob`` walks pages
    (``walk_pages``) because its page boundaries carry pause, cancel
    and throttle.
    """
    from sequin_spark.sources.fast_count import count_or_estimate

    cursor_cols = cursor_cols or pk_cols
    # reltuples-style estimate when the parquet path is known
    # (table_reader.ex:333-360) — progress bars don't pay a scan
    bf = Backfill(table_name, cursor_cols,
                  rows_initial_count=count_or_estimate(df, source_path))
    bound = df.select(*cursor_cols).dropna().agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.struct(*[F.col(c) for c in cursor_cols])).alias("last_cursor"),
    ).collect()[0]
    bf.transition("completed")
    if not bound["n"]:
        return bf, None
    bf.rows_processed_count = int(bound["n"])
    bf.cursor = [bound["last_cursor"][c] for c in cursor_cols]
    events = backfill_snapshot(
        keyset_range(df, cursor_cols, None, bf.cursor), table_name, pk_cols)
    if cdc_events is None:
        bf.rows_ingested_count = bf.rows_processed_count
    else:
        events = fence_merge(events, cdc_events, fence_lsn)
        bf.rows_ingested_count = events.count()
    return bf, events


class PageSizeOptimizer:
    """AIMD page sizing (page_size_optimizer.ex:1-80): grow page size
    multiplicatively while queries come back under the time budget,
    back off on timeout. Driver-side only — tunes the per-page LIMIT."""

    def __init__(self, initial: int = 1000, max_timeout_ms: int = 5000, max_size: int = 50000):
        self.size = initial
        self.max_timeout_ms = max_timeout_ms
        self.max_size = max_size

    def record(self, page_size: int, elapsed_ms: float) -> None:
        if elapsed_ms < self.max_timeout_ms * 0.5:
            self.size = min(self.max_size, int(self.size * 1.5))
        elif elapsed_ms > self.max_timeout_ms:
            self.size = max(100, self.size // 2)
