"""Backfill management — job runner + registry behind the REST API.

Reference surface: ``resources /api/sinks/:sink_id_or_name/backfills``
(router.ex:173, index/show/create/update — no delete; cancellation is an
update to state=cancelled), backed by backfill_controller.ex and the
Backfill schema's state machine (backfill.ex:60-98: active →
{paused,completed,failed,cancelled}, paused → {active,cancelled},
terminal states are frozen) with progress counters
rows_initial/processed/ingested (backfill.ex:39-41) rendered via
Transforms.to_external (transforms.ex:513-533).

The runner walks §2.10 keyset pages (sources/backfill.py walk_pages):
the driver sees one (count, last_cursor) row per page, nothing is
cached, and each page's events are one keyset-range scan
``(prev_cursor, cursor]`` handed to ``out_writer``.  (``run_backfill``
needs no walk: one aggregate gives its whole-table bound.)
Pause parks the loop between pages (the reference's TableReaderServer
pauses at page boundaries too); cancel/complete stop it.
"""

from __future__ import annotations

import threading
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import functions as F

from sequin_spark.sources.backfill import (
    Backfill,
    PageSizeOptimizer,
    backfill_snapshot,
    cursor_columns,
    keyset_range,
    walk_pages,
)
from sequin_spark.sources.fast_count import count_or_estimate


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


class BackfillJob:
    """One backfill: state machine + counters + background page loop."""

    def __init__(
        self,
        sink_name: str,
        table_ref: str,
        df,
        pk_cols: list[str],
        cursor_cols: list[str] | None = None,
        initial_page_size: int = 1000,
        out_writer=None,
        throttle_ms: int = 0,
    ):
        self.id = "bf_" + uuid.uuid4().hex[:12]
        self.sink_name = sink_name
        self.table_ref = table_ref
        self._df = df
        self._pk_cols = pk_cols
        self._cursor_cols = cursor_cols or pk_cols
        self._out_writer = out_writer
        self._throttle_ms = throttle_ms
        self._bf = Backfill(table_ref, self._cursor_cols)
        try:
            # parquet footer counts, as run_backfill does: no scan
            # before the first page (table_reader.ex:333-360)
            self._bf.rows_initial_count = count_or_estimate(
                df, df.inputFiles() or None)
        except Exception:  # noqa: BLE001 — estimate is best-effort
            self._bf.rows_initial_count = 0
        self._opt = PageSizeOptimizer(initial=initial_page_size)
        self._lock = threading.Lock()
        self.error: str | None = None
        self.inserted_at = _now()
        self.updated_at = self.inserted_at
        self.completed_at: str | None = None
        self.canceled_at: str | None = None
        self.failed_at: str | None = None
        self._thread = threading.Thread(target=self._run, daemon=True)

    # -- state machine ------------------------------------------------------

    @property
    def state(self) -> str:
        with self._lock:
            return self._bf.state

    def transition(self, new_state: str) -> None:
        """``Backfill.transition`` under the job's lock, stamping the
        job's timestamps."""
        with self._lock:
            self._bf.transition(new_state)
            self.updated_at = _now()
            if new_state == "cancelled":
                self.canceled_at = self.updated_at
            elif new_state == "completed":
                self.completed_at = self.updated_at
            elif new_state == "failed":
                self.failed_at = self.updated_at

    # -- runner -------------------------------------------------------------

    def start(self) -> "BackfillJob":
        self._thread.start()
        return self

    def join(self, timeout: float | None = None) -> None:
        self._thread.join(timeout)

    def _run(self) -> None:
        pages = walk_pages(self._df, self._cursor_cols, self._opt)
        try:
            while True:
                st = self.state
                if st == "paused":
                    time.sleep(0.02)
                    continue
                if st != "active":
                    return
                page = next(pages, None)
                if page is None:
                    with self._lock:
                        if self._bf.state == "active":
                            self._bf.state = "completed"
                            self.completed_at = self.updated_at = _now()
                    return
                n, cursor = page
                ingested = n
                if self._out_writer is not None:
                    rows = keyset_range(self._df, self._cursor_cols,
                                        self._bf.cursor, cursor)
                    snap = backfill_snapshot(rows, self.table_ref, self._pk_cols)
                    ingested = self._out_writer(snap) or ingested
                with self._lock:
                    self._bf.rows_processed_count += n
                    self._bf.rows_ingested_count += ingested
                    self._bf.cursor = cursor
                    self.updated_at = _now()
                if self._throttle_ms:
                    time.sleep(self._throttle_ms / 1000)
        except Exception as e:  # noqa: BLE001 — job failure → failed state
            with self._lock:
                self.error = str(e)
                if self._bf.state in ("active", "paused"):
                    self._bf.state = "failed"
                    self.failed_at = self.updated_at = _now()

    # -- rendering (transforms.ex:513-533 to_external shape) ----------------

    def to_external(self) -> dict:
        with self._lock:
            return {
                "id": self.id,
                "sink_consumer": self.sink_name,
                "state": self._bf.state,
                "table": self.table_ref,
                "sort_column": self._cursor_cols[0],
                "rows_initial_count": self._bf.rows_initial_count,
                "rows_processed_count": self._bf.rows_processed_count,
                "rows_ingested_count": self._bf.rows_ingested_count,
                "completed_at": self.completed_at,
                "canceled_at": self.canceled_at,
                "inserted_at": self.inserted_at,
                "updated_at": self.updated_at,
                "error": self.error,
            }


class BackfillManager:
    """Per-sink backfill registry (Consumers.list_backfills_for_sink_consumer
    analog). ``table_resolver(table_ref) -> (df, pk_cols)`` supplies the
    snapshot source — the engine's stand-in for the reference's
    postgres_database.tables lookup (backfill_controller.ex:70-110)."""

    def __init__(self, table_resolver, initial_page_size: int = 1000,
                 out_writer=None, throttle_ms: int = 0):
        self._resolver = table_resolver
        self._page_size = initial_page_size
        self._out_writer = out_writer
        self._throttle_ms = throttle_ms
        self._jobs: dict[str, BackfillJob] = {}
        self._lock = threading.Lock()

    def list_for_sink(self, sink_name: str) -> list[BackfillJob]:
        with self._lock:
            return [j for j in self._jobs.values() if j.sink_name == sink_name]

    def get(self, sink_name: str, backfill_id: str) -> BackfillJob | None:
        with self._lock:
            j = self._jobs.get(backfill_id)
        return j if j is not None and j.sink_name == sink_name else None

    def validate_ref(self, table_ref: str | None,
                     sort_column: str | None = None) -> str | None:
        """Pre-flight check for a (table, sort_column) target without
        creating a job — lets validate-all-then-commit callers
        (ConfigRegistry.apply's initial_backfill) reject invalid
        targets before any resource commits."""
        if not table_ref:
            return "Table reference is required"
        try:
            df, _ = self._resolver(table_ref)
        except KeyError:
            return f"Table {table_ref} not found"
        if sort_column is not None and sort_column not in df.columns:
            return f"Column {sort_column} not found on table {table_ref}"
        return None

    def create(self, sink_name: str, table_ref: str | None,
               sort_column: str | None = None,
               start_position=None) -> BackfillJob:
        """Create + start. Mirrors the controller's validations: a table
        reference is required (backfill_controller.ex:84-86) and a sink
        may have ONE non-terminal backfill per table (backfill.ex:68-71
        unique index → "already has an active backfill").

        ``sort_column`` + ``start_position`` select a PARTIAL backfill
        (yaml_loader_test.exs:2582-2643): pages keyset over
        ``cursor_columns(pks, sort_column)`` — PKs break sort-value ties
        — across the rows with ``sort_column > start_position``; an
        unknown sort_column is rejected before any job starts."""
        if not table_ref:
            raise ValueError("Table reference is required")
        try:
            df, pk_cols = self._resolver(table_ref)
        except KeyError:
            raise ValueError(f"Table {table_ref} not found") from None
        if sort_column is not None and sort_column not in df.columns:
            raise ValueError(
                f"Column {sort_column} not found on table {table_ref}")
        cursor_cols = cursor_columns(pk_cols, sort_column)
        if start_position is not None:
            df = df.filter(F.col(cursor_cols[0]) > F.lit(start_position))
        with self._lock:
            for j in self._jobs.values():
                if (
                    j.sink_name == sink_name
                    and j.table_ref == table_ref
                    and j.state in ("active", "paused")
                ):
                    raise ValueError("already has an active backfill")
            job = BackfillJob(
                sink_name, table_ref, df, pk_cols,
                cursor_cols=cursor_cols,
                initial_page_size=self._page_size,
                out_writer=self._out_writer,
                throttle_ms=self._throttle_ms,
            )
            self._jobs[job.id] = job
        return job.start()

    def update(self, sink_name: str, backfill_id: str, attrs: dict) -> BackfillJob:
        """from_external_backfill parity (transforms.ex:1608-1619): only
        "state" is accepted; unknown fields are validation errors."""
        job = self.get(sink_name, backfill_id)
        if job is None:
            raise KeyError(backfill_id)
        for key in attrs:
            if key != "state":
                raise ValueError(f"Unknown field: {key}")
        if "state" in attrs:
            job.transition(attrs["state"])
        return job
