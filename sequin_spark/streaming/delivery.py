"""Group-ordered exactly-once delivery engine (the reference's
SlotMessageStore + SinkPipeline re-expressed as a foreachBatch body).

Semantics implemented (citations into the reference):

- per-group cursor-order delivery; a failed message blocks its group's
  later messages (slot_message_store_state.ex:432-478);
- retry with exponential backoff 1s→3min and deliver_count tracking
  (slot_message_store.ex:346-357; time.ex:101);
- max_retry_count exceeded → discard table (slot_message_store.ex:1177-1190);
- idempotency ledger: delivered identities filtered out on redelivery
  (message_ledgers.ex:65-99, sink_pipeline.ex:552-591);
- replay dedup by (commit_lsn, commit_idx) (slot_message_store_state.ex:98).

Execution model, three steps per micro-batch (process_batch):

- prepare (driver): new rows, due pending retries and re-ingested
  overflow, arranged by group hash and (group, lsn, idx)
  (arrange_for_delivery); the trimmed ledger identities, read with
  pyarrow, and the groups blocked behind a backing-off pending head.
  Due retries re-enter as one scan of pending.parquet with an explicit
  schema and a pushed-down ``not_visible_until <= now`` filter; only
  the rows still backing off stay on the driver.
- deliver (one mapInArrow job over deliver_partition): the one place
  rows are skipped or held.  The task loops over each Arrow frame's
  rows as plain dicts, so a null stays None and a map reaches the sink
  as a dict.  Each task writes its own ledger and failures files and
  yields only BOUNDED summary rows, so nothing O(batch-rows) crosses
  the driver.
- finish (driver): ledger compaction and trim, acked ring, pending,
  discards and overflow reap.

Every state file that holds rows (task failures, pending, discards) is
written in one typed row schema, the Arrow form of the delivery rows'
Spark schema, plus the file's own bookkeeping columns; the admin
operations keep the schema of the files they read.  The task writes its
failures in its own input schema, which is that row schema, so a
map-typed routing value (http_push ``headers``) reads back as a map.

Scale note (100 TB): the ledger and pending-retry state are the only
driver-coordinated pieces — on a real cluster state_dir is shared
storage (the same contract FileLogSink already uses) and they'd be
Delta tables with MERGE, with identical semantics. Task retries /
speculative execution can double-write ledger or failure files; both
are deduplicated on read by the event identity, preserving the
at-least-once → exactly-once-effect contract.
"""

from __future__ import annotations

import collections
import functools
import os
import shutil
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import DoubleType, StructField, StructType

from sequin_spark.functions.routing import (
    ALWAYS_PRESENT_DELIVERY_COLS, batch_keys_for)
from sequin_spark.sinks.base import SinkBatch, create_sink

# Bounded per-task summary rows (NOT per-event): kind='agg' rows carry
# (status, n) counts; kind='ring' rows carry the task's last ≤ring_size
# acked identities for the acknowledged-messages ring; each task ends
# with one kind='task' row (n=1), so the driver counts delivery tasks.
# The task builds Arrow batches in this schema; the job declares its
# Spark form (from_arrow_schema).
SUMMARY_SCHEMA = pa.schema([
    ("kind", pa.string()), ("status", pa.string()), ("n", pa.int64()),
    ("commit_lsn", pa.int64()), ("commit_idx", pa.int64()),
    ("idempotency_key", pa.string()), ("group_id", pa.string()),
    ("deliver_count", pa.int32()), ("acked_at", pa.float64())])
# the values a summary row leaves unset (never null: finish folds the
# summaries in pandas, where a null would make an int column float)
_SUMMARY_ZERO = {"commit_lsn": 0, "commit_idx": 0, "idempotency_key": "",
                 "group_id": "", "deliver_count": 0, "acked_at": 0.0}

# Delivery-latency histogram buckets in microseconds (prometheus.ex:23-29
# sequin_delivery_latency_us). Executor tasks observe each sink call and
# ship bucket counts back as kind='lat' summary rows (bucket bound in
# commit_lsn, count in n) plus one kind='lat_agg' row per success label
# (observation count in n, summed µs in commit_lsn) — bounded rows, never
# per-event.
LAT_BUCKETS_US = (1_000, 5_000, 10_000, 25_000, 50_000, 100_000,
                  250_000, 500_000, 1_000_000, 5_000_000)
LAT_INF = 2**62  # the +Inf bucket marker

# Event identity: CDC rows are unique by (lsn, idx); backfill `read` rows
# all carry cursor (0,0) and are unique by their PK-derived idempotency
# key (table_reader.ex:405) — so dedup/ledger/status identity is the
# triple, which degrades to pure cursor identity for CDC rows.
IDENTITY = ["commit_lsn", "commit_idx", "idempotency_key"]
# the ledger files hold identities only
LEDGER_SCHEMA = pa.schema([("commit_lsn", pa.int64()),
                           ("commit_idx", pa.int64()),
                           ("idempotency_key", pa.string())])
# what a kind='ring' summary row carries of a delivered row
RING_COLS = IDENTITY + ["group_id", "deliver_count"]

BACKOFF_MIN_S = 1.0
BACKOFF_MAX_S = 180.0


def backoff_s(deliver_count: int, base_s: float = BACKOFF_MIN_S) -> float:
    """Exponential backoff 1s → 3min (lib/sequin/time.ex:101)."""
    return min(base_s * (2 ** max(0, deliver_count - 1)), BACKOFF_MAX_S)


def _hashable(v):
    """A batch-key value usable as a dict key: a map column (http_push
    ``headers``) reaches the sink as a dict."""
    return tuple(sorted(v.items())) if isinstance(v, dict) else v


def _summary(rows: "list[dict]") -> pa.RecordBatch:
    """Summary rows as one batch in SUMMARY_SCHEMA."""
    return pa.RecordBatch.from_pylist([{**_SUMMARY_ZERO, **r} for r in rows],
                                      schema=SUMMARY_SCHEMA)


def _write_parquet(path: str, data: "pd.DataFrame | pa.Table",
                   schema: pa.Schema | None = None) -> None:
    """Write a state file crash-safely: into ``.<name>.tmp`` in the same
    directory, then ``os.replace`` onto ``path``, so a writer killed
    mid-write leaves the previous file (or none) and a dot-named
    leftover that every state reader skips.  A frame is converted in
    ``schema`` when one is given (columns outside it are dropped), else
    by inference."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    if isinstance(data, pd.DataFrame):
        data = pa.Table.from_pandas(data, schema=schema, preserve_index=False)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(data, tmp)
    os.replace(tmp, path)


def state_files(d: str) -> "list[str]":
    """The files of state dir ``d`` a reader may read: not ``_``- or
    ``.``-named (Spark's hidden-file rule, which also hides a partial
    ``_write_parquet`` leftover)."""
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, f) for f in os.listdir(d)
            if not f.startswith(("_", "."))]


def _plus(schema: pa.Schema, **types) -> pa.Schema:
    """``schema`` with the named columns appended."""
    for name, t in types.items():
        schema = schema.append(pa.field(name, t))
    return schema


def _conform(table: pa.Table, schema: pa.Schema) -> pa.Table:
    """``table`` in ``schema``: columns by name and cast, a missing
    column as nulls, columns outside the schema dropped."""
    def column(f):
        if f.name not in table.column_names:
            return pa.nulls(table.num_rows, f.type)
        try:
            return table[f.name].cast(f.type)
        except pa.ArrowNotImplementedError:
            # a map that pandas inference wrote as a struct (a dict
            # per row): Arrow has no struct → map cast, so rebuild it
            return pa.array(table[f.name].to_pylist(), f.type)
    return pa.Table.from_arrays([column(f) for f in schema], schema=schema)


class DeliveryEngine:
    def __init__(
        self,
        sink_type: str,
        sink_config: dict | None = None,
        state_dir: str | None = None,
        batch_size: int | None = None,
        batch_bytes: int | None = None,
        partition_count: int = 8,
        max_retry_count: int = 3,
        routing_cols: tuple[str, ...] = (),
        backoff_base_s: float = BACKOFF_MIN_S,
        load_shedding_policy: str = "pause_on_full",
        max_pending: int | None = None,
        acked_ring_size: int = 1000,
        ledger_compact_files: int = 64,
        ledger_trim_batches: int | None = None,
        tracer=None,
        consumer_id: str | None = None,
    ):
        if load_shedding_policy not in ("pause_on_full", "discard_on_full"):
            raise ValueError(f"unknown load_shedding_policy {load_shedding_policy!r}")
        self.sink_type = sink_type
        self.sink_config = sink_config or {}
        self.state_dir = state_dir or f"/tmp/sequin_spark_state/{uuid.uuid4().hex}"
        sink = create_sink(sink_type, self.sink_config)
        self.batch_size = batch_size or sink.default_batch_size
        # byte-bound batching (sink_pipeline.ex:413-434): one 4 MB row
        # must not ride in a 200-row batch that breaks the sink's
        # payload limit — chunks close on EITHER bound
        self.batch_bytes = batch_bytes or sink.default_batch_bytes
        self.partition_count = partition_count
        self.max_retry_count = max_retry_count
        self.routing_cols = tuple(routing_cols)
        # the columns a row carries into the delivery task, each once
        # (a routing column may be one of them: redis_string ``key``)
        self.delivery_cols = list(dict.fromkeys([
            "group_id", "commit_lsn", "commit_idx", "idempotency_key",
            "key", "value", *self.routing_cols]))
        # chunk-bounding subset of routing_cols: the reference's Broadway
        # batch_key (sink_pipeline.ex:371-430).  Per-message routing keys
        # (kafka message_key, kinesis partition_key, ...) must NOT close
        # chunks — at high group cardinality that degenerates to one-row
        # sink calls (the r11 soak's ~700 rows/s delivery ceiling).
        self.batch_cols = tuple(
            c for c in batch_keys_for(sink_type)
            if c in self.routing_cols or c in ALWAYS_PRESENT_DELIVERY_COLS)
        self.backoff_base_s = backoff_base_s
        self.load_shedding_policy = load_shedding_policy
        # partition_count sizes only this cap, not the delivery task
        # count (arrange_for_delivery sizes that to the batch).
        # The reference's 50k message cap is PER message-store
        # partition (slot_message_store_state.ex:18 default ×
        # :partition at :26 — a consumer holds partition_count stores),
        # so the faithful driver-frame cap scales with partition_count.
        # Explicit values are taken as the TOTAL cap (tests pin tiny
        # spill windows with max_pending=1).  At the 400k default the
        # pending frame is bounded ~10s of MB driver-side; the backlog
        # beyond it lives in the parquet overflow FIFO either way.
        self.max_pending = (max_pending if max_pending is not None
                            else 50_000 * partition_count)
        self.acked_ring_size = acked_ring_size
        self.ledger_compact_files = ledger_compact_files
        # Streaming-only ledger retention (message_ledgers.ex
        # trim_delivered_cursors: the reference trims the delivered-cursor
        # set at the verified high watermark). With checkpoint-commit=ack,
        # a restarted stream replays at most the last uncommitted
        # micro-batch, so identities delivered ≥N batches ago can never be
        # redelivered — keeping them makes the identity set each delivery
        # task checks grow with stream LIFETIME (the r3 latency
        # regression: 1.35M-row ledger after 35s at 50k rows/s). None
        # disables trimming (batch-replay semantics: run_batch callers may
        # legitimately replay arbitrarily old data).
        self.ledger_trim_batches = ledger_trim_batches
        # optional streaming.trace.Tracer: batch-granular trace events
        # (trace.ex Trace.info/error at every delivery attempt)
        self.tracer = tracer
        self.consumer_id = consumer_id
        self._lsn_maxes: list[int] = []  # per-batch max delivered commit_lsn
        self._ledger_trim_lsn = 0
        os.makedirs(self.state_dir, exist_ok=True)

    # --- state tables ----------------------------------------------------
    @property
    def ledger_dir(self) -> str:
        return os.path.join(self.state_dir, "ledger")

    @property
    def pending_path(self) -> str:
        return os.path.join(self.state_dir, "pending", "pending.parquet")

    @property
    def discarded_dir(self) -> str:
        return os.path.join(self.state_dir, "discarded")

    def failures_dir(self, batch_id: int) -> str:
        """Per-batch executor-written failed/blocked rows (payload
        included) — read back by the driver, O(failures) not O(batch)."""
        return os.path.join(self.state_dir, "failures", f"batch-{batch_id}")

    # --- pause_on_full overflow spill (disk-backed backpressure) ---------
    @property
    def overflow_dir(self) -> str:
        return os.path.join(self.state_dir, "overflow")

    def _overflow_dirs(self) -> "list[tuple[str, int]]":
        """FIFO-ordered (path, rows) of spilled micro-batches.  Row
        counts ride in the directory name (stamped at spill time) so
        the backlog is sized without footer reads; a crash between
        write and rename leaves a name without the count suffix —
        fall back to footers for that one."""
        d = self.overflow_dir
        if not os.path.isdir(d):
            return []
        out = []
        for name in sorted(os.listdir(d)):
            p = os.path.join(d, name)
            if name.startswith(("_", ".")) or not os.path.isdir(p):
                continue
            parts = name.split("_")
            try:
                rows = int(parts[2])
            except (IndexError, ValueError):
                rows = sum(
                    pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
                    for f in os.listdir(p)
                    if f.endswith(".parquet"))
            out.append((p, rows))
        return out

    def _spill_overflow(self, df: DataFrame, batch_id: int) -> int:
        """Append the batch's new rows to the overflow spill as one
        parquet dir.  They are not yet checked against the ledger, and
        batch REPLAYS (crash-before-checkpoint) append a second copy of
        the same identities — harmless: the delivery task's ledger and
        adjacent-duplicate checks drop already-delivered copies when the
        spill is re-ingested, exactly like source redelivery."""
        tmp = os.path.join(self.overflow_dir,
                           f"_{time.time_ns():020d}_{batch_id}")
        df.write.mode("overwrite").parquet(tmp)
        rows = sum(
            pq.ParquetFile(os.path.join(tmp, f)).metadata.num_rows
            for f in os.listdir(tmp) if f.endswith(".parquet"))
        final = os.path.join(
            self.overflow_dir,
            f"{time.time_ns():020d}_{batch_id}_{rows}")
        os.rename(tmp, final)
        return rows

    def _reingest_overflow(
            self, spark: SparkSession, headroom: int,
    ) -> "tuple[DataFrame | None, int, list[str]]":
        """Oldest-first re-ingest of spilled batches up to ``headroom``
        rows (whole-dir granularity; at least one dir so an oversized
        spill can never stall the drain).  The dirs are NOT deleted
        here — deletion happens in finish(), after the delivery pass
        and state writes, so a crash mid-batch replays them and the
        task's ledger check drops the copies (the same crash-window
        contract as the failures dir)."""
        dirs = self._overflow_dirs()
        if not dirs:
            return None, 0, []
        take, nonempty, rows = [], [], 0
        for p, n in dirs:
            if n == 0:
                take.append(p)  # empty spill (idle paused batch) — reap
                continue
            if rows and rows + n > headroom:
                break
            take.append(p)
            nonempty.append(p)
            rows += n
            if rows >= headroom:
                break
        if not nonempty:
            return None, 0, take
        df = spark.read.parquet(*nonempty)
        return df, rows, take

    def _pending_table(self) -> pa.Table | None:
        if os.path.exists(self.pending_path):
            return pq.read_table(self.pending_path)
        return None

    def _read_pending(self) -> pd.DataFrame | None:
        pending = self._pending_table()
        return None if pending is None else pending.to_pandas()

    def read_ledger(self, spark: SparkSession) -> DataFrame | None:
        if state_files(self.ledger_dir):
            # explicit schema: the ledger layout is fixed (IDENTITY), and
            # schema inference costs a footer-read job.
            # recursiveFileLookup also reads ledger files that older
            # versions wrote into subdirectories (with an extra group_id
            # column the explicit schema drops), so they still dedupe
            return spark.read.schema(
                from_arrow_schema(LEDGER_SCHEMA)
            ).option("recursiveFileLookup", "true").parquet(self.ledger_dir)
        return None

    def _ledger_identities(self) -> frozenset:
        """The delivered identities that can still match incoming rows,
        read with pyarrow on the driver (no Spark job): the files
        read_ledger reads, subdirectories included, and under trimming
        only identities at or above the watermark plus lsn==0
        backfill-read identities, which carry no cursor and are never
        trimmed. The trim keeps the set O(retention window), not
        O(lifetime)."""
        ids: set = set()
        for root, dirs, names in os.walk(self.ledger_dir):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for name in names:
                if name.startswith(("_", ".")):
                    continue
                t = pq.read_table(os.path.join(root, name),
                                  columns=IDENTITY).drop_null()
                if self._ledger_trim_lsn > 0:
                    lsn = t["commit_lsn"]
                    t = t.filter(pc.or_(
                        pc.greater_equal(lsn, self._ledger_trim_lsn),
                        pc.equal(lsn, 0)))
                ids.update(zip(*(t[c].to_numpy().tolist() for c in IDENTITY)))
        return frozenset(ids)

    @property
    def acked_ring_path(self) -> str:
        return os.path.join(self.state_dir, "acked", "ring.parquet")

    def acked_ring(self) -> pd.DataFrame | None:
        """Last-N acknowledged messages (acknowledged_messages.ex:1-30 —
        the reference keeps a 1000-entry ring per consumer for the UI)."""
        if os.path.exists(self.acked_ring_path):
            return pq.read_table(self.acked_ring_path).to_pandas()
        return None

    def _update_ring(self, ring_new: pd.DataFrame) -> None:
        prev = self.acked_ring()
        ring = (
            pd.concat([prev, ring_new], ignore_index=True)
            if prev is not None else ring_new
        ).tail(self.acked_ring_size)
        _write_parquet(self.acked_ring_path, ring)

    def _compact_ledger(self) -> None:
        """Merge small per-batch ledger files once they pile up — keeps
        the per-batch identity read O(1) files instead of O(batches)."""
        files = [f for f in state_files(self.ledger_dir) if os.path.isfile(f)]
        if len(files) < self.ledger_compact_files:
            return
        merged = pa.concat_tables([pq.read_table(f) for f in files])
        if self._ledger_trim_lsn > 0:
            lsn = merged["commit_lsn"]
            merged = merged.filter(
                pc.or_(pc.greater_equal(lsn, self._ledger_trim_lsn),
                       pc.equal(lsn, 0))
            )
        _write_parquet(os.path.join(
            self.ledger_dir, f"compact-{uuid.uuid4().hex}.parquet"), merged)
        for f in files:
            os.remove(f)

    # --- admin operations (slot_message_store.ex discard_all /
    # redeliver semantics) -------------------------------------------------
    def _discard_admin(self, rows: pa.Table, error: str) -> None:
        """Write pending rows to the discards, in the schema they were
        read with less the pending-only columns, plus ``error``."""
        rows = rows.drop_columns([c for c in ("not_visible_until", "first_seen_at")
                                  if c in rows.column_names])
        _write_parquet(
            os.path.join(self.discarded_dir, f"admin-{uuid.uuid4().hex}.parquet"),
            rows.append_column("error", pa.array([error] * rows.num_rows, pa.string())))

    def discard_all_pending(self) -> int:
        """Admin: drop the whole retry backlog (discard_all)."""
        pending = self._pending_table()
        n = 0 if pending is None else pending.num_rows
        if n:
            self._discard_admin(pending, "admin discard_all")
            os.remove(self.pending_path)
        return n

    def discard_failing_pending(self) -> int:
        """Admin: discard only the FAILING retry entries — attempted at
        least once (deliver_count > 0) and now backing off — while
        messages that merely wait their turn (deferred behind a group
        head, deliver_count == 0) stay pending
        (slot_message_store.ex discard_failing_messages;
        slot_message_store_test.exs:1084 "discards only failing
        messages").  Returns the discarded count."""
        pending = self._pending_table()
        if pending is None or not pending.num_rows:
            return 0
        is_failing = pc.fill_null(pc.greater(pending["deliver_count"], 0), False)
        failing = pending.filter(is_failing)
        if not failing.num_rows:
            return 0
        self._discard_admin(failing, "admin discard_failing")
        keep = pending.filter(pc.invert(is_failing))
        if keep.num_rows:
            _write_parquet(self.pending_path, keep)
        else:
            os.remove(self.pending_path)
        return failing.num_rows

    def redeliver_discarded(self) -> int:
        """Admin: move discarded (max-retry-exceeded) messages back into
        the pending set with a reset deliver_count — the manual
        redeliver escape hatch after fixing a broken sink.  Column types
        are the ones the files carry; the next batch's scan reads them
        in the batch's row schema."""
        files = state_files(self.discarded_dir)
        if not files:
            return 0
        disc = pa.concat_tables([pq.read_table(f) for f in files],
                                promote_options="permissive")
        disc = disc.drop_columns([c for c in ("error", "not_visible_until")
                                  if c in disc.column_names])
        n = disc.num_rows
        disc = disc.set_column(
            disc.schema.get_field_index("deliver_count"), "deliver_count",
            pa.repeat(pa.scalar(0, disc.schema.field("deliver_count").type), n),
        ).append_column("not_visible_until", pa.repeat(pa.scalar(0.0), n))
        pending = self._pending_table()
        if pending is not None:
            disc = pa.concat_tables([pending, disc], promote_options="permissive")
        dup = disc.select(IDENTITY).to_pandas().duplicated(keep="first")
        _write_parquet(self.pending_path, disc.filter(pa.array(~dup.to_numpy())))
        for f in files:
            os.remove(f)
        return n

    def arrange_for_delivery(self, new_rows: DataFrame) -> DataFrame:
        """Physical layout for ordered delivery: ONE group-hash
        exchange + per-partition sort.  The exchange names no partition
        count (REPARTITION_BY_COL), so adaptive execution may coalesce
        it to the tasks the batch's bytes need (ceil(bytes /
        minPartitionSize) for a small batch), capped at
        spark.sql.shuffle.partitions; partition_count plays no part.
        Coalescing merges whole hash partitions and the sort runs above
        the coalesced read, so each group stays in one sorted task.  Not
        REBALANCE: adaptive execution may split a skewed rebalance
        partition, and with it a group.  idempotency_key as the final
        sort key makes equal identities adjacent (dedup), and
        deliver_count DESC prefers the pending-retry copy (its backoff
        bookkeeping) when a retry collides with a source redelivery.
        Extracted so its plan can be fingerprinted and gated
        (tests/test_plan_quality.py::test_delivery_plan_fingerprint —
        a silent extra shuffle here would otherwise only show up as
        trigger-latency drift)."""
        return new_rows.repartition("group_id").sortWithinPartitions(
            "group_id", "commit_lsn", "commit_idx", "idempotency_key",
            F.col("deliver_count").desc(),
        )

    # --- the foreachBatch body: prepare → deliver → finish ---------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        prep = self.prepare(batch_df, batch_id)
        task = functools.partial(
            deliver_partition, batch_id=batch_id,
            sink_type=self.sink_type, sink_config=dict(self.sink_config),
            batch_cols=self.batch_cols, batch_size=self.batch_size,
            batch_bytes=self.batch_bytes, ledger_dir=self.ledger_dir,
            fail_dir=self.failures_dir(batch_id), ring_size=self.acked_ring_size,
            ledger=prep["ledger"], blocked=prep["blocked"])
        summary_pdf = prep["arranged"].mapInArrow(
            task, from_arrow_schema(SUMMARY_SCHEMA)).toPandas()
        return self.finish(summary_pdf, prep, batch_id)

    def prepare(self, batch_df: DataFrame, batch_id: int) -> dict:
        """Driver side of a micro-batch, ahead of the delivery job: the
        arranged frame (new rows, due pending retries, re-ingested
        overflow), the ledger identities the task drops, the blocked
        groups whose rows it defers, and the state finish() needs."""
        spark = batch_df.sparkSession
        now = time.time()
        delivery_cols = self.delivery_cols

        # NOTE: no dropDuplicates here — identity dedup is fused into the
        # group-hash repartition below. Duplicate identities are the same
        # event, so they share group_id and land in the same partition,
        # where the (group, lsn, idx, key) sort makes them ADJACENT; the
        # deliver task drops a row that repeats the previous one.
        # Equivalent to the identity-keyed dropDuplicates shuffle, one
        # full exchange of the event stream cheaper per micro-batch.
        new_rows = batch_df.select(
            *[F.col(c) for c in delivery_cols]
        ).withColumn("deliver_count", F.lit(0))
        # one typed row schema for every state file the batch writes
        # (task failures, pending, discards): the Arrow form of the rows'
        # Spark schema, so a map-typed routing column (http_push
        # headers) is a map on disk and on the way back in
        row_schema = pa.schema([f.with_nullable(True)
                                for f in to_arrow_schema(new_rows.schema)])
        pending_schema = _plus(row_schema, not_visible_until=pa.float64(),
                               first_seen_at=pa.float64())

        pending = self._pending_table()
        if pending is not None and not pending.schema.equals(pending_schema):
            # written with inferred types (an int64 deliver_count, an
            # all-None column typed null) or another routing set:
            # rewrite it once in the row schema, so the scan reads it
            pending = _conform(pending, pending_schema)
            _write_parquet(self.pending_path, pending)
        # first-seen times survive redelivery round-trips via this driver-side
        # snapshot (pending is bounded by max_pending) — feeds the
        # sequin_oldest_message_age_ms gauge (prometheus.ex:39-45)
        prev_seen = None
        if pending is not None:
            prev_seen = (pending.select(IDENTITY + ["first_seen_at"])
                         .to_pandas().drop_duplicates(subset=IDENTITY))
        shed = spilled = reingested = 0
        overflow_taken: list[str] = []
        overflow_backlog = 0
        if self.load_shedding_policy == "pause_on_full":
            # store full (slot_message_store_state.ex:18-48 memory cap;
            # load_shedding_policy sink_consumer.ex:100).  The reference
            # PAUSES intake (stops acking the slot; WAL absorbs the
            # backlog) — the microbatch analog is a disk-backed FIFO
            # overflow: `pending` (read into the driver every batch)
            # stays bounded by max_pending, the backlog absorbs to
            # parquet.  STRICT FIFO while the spill is non-empty: every
            # new row routes through it, because a direct path would
            # let a newer row overtake an older spilled one in the same
            # group (order violation).  Raising here instead (the pre-
            # r11 behavior) killed the stream on the first post-restart
            # catch-up burst — found by the r11 chaos-under-load soak.
            pend_n = 0 if pending is None else pending.num_rows
            ov = self._overflow_dirs()
            if ov or pend_n >= self.max_pending:
                if int(new_rows.count()):
                    spilled = self._spill_overflow(new_rows, batch_id)
                new_rows = new_rows.limit(0)
                headroom = self.max_pending - pend_n
                if headroom > 0:
                    re_df, reingested, overflow_taken = \
                        self._reingest_overflow(spark, headroom)
                    if re_df is not None:
                        new_rows = re_df.select(new_rows.columns)
                # taken dirs are still on disk (deleted post-delivery),
                # so the live backlog is everything minus this batch's
                # re-ingest
                overflow_backlog = (
                    sum(n for _, n in self._overflow_dirs()) - reingested)
        elif pending is not None and pending.num_rows >= self.max_pending:
            # discard_on_full: count-and-drop, recorded as shed
            shed = int(new_rows.count())
            new_rows = new_rows.limit(0)

        # pending retries: rows still backing off stay on the driver and
        # block their group; due rows re-enter delivery through one typed
        # scan of pending.parquet, due rows of a blocked group included —
        # the task defers those (status 'deferred') with their
        # deliver_count unchanged until the group head resolves
        blocked: frozenset = frozenset()
        waiting = pending
        if pending is not None and pending.num_rows:
            waiting = pending.filter(
                pc.greater(pending["not_visible_until"], now))
            blocked = frozenset(waiting["group_id"].drop_null().to_pylist())
            if waiting.num_rows < pending.num_rows:
                read_schema = StructType([
                    *new_rows.schema.fields,
                    StructField("not_visible_until", DoubleType())])
                due = spark.read.schema(read_schema).parquet(
                    self.pending_path).where(F.col("not_visible_until") <= now)
                new_rows = new_rows.unionByName(due.drop("not_visible_until"))

        return {
            "arranged": self.arrange_for_delivery(new_rows),
            "ledger": self._ledger_identities(),
            "blocked": blocked,
            "row_schema": row_schema, "pending_schema": pending_schema,
            "now": now, "prev_seen": prev_seen, "waiting": waiting,
            "shed": shed, "spilled": spilled, "reingested": reingested,
            "overflow_taken": overflow_taken,
            "overflow_backlog": overflow_backlog,
        }

    def finish(self, summary_pdf: pd.DataFrame, prep: dict,
               batch_id: int) -> dict:
        """Driver side of a micro-batch, after the delivery job: fold the
        task summaries, then write the ledger compaction, the acked
        ring, the new pending set and the discards, and reap the
        re-ingested overflow dirs.  Returns the batch stats."""
        now = prep["now"]
        fail_dir = self.failures_dir(batch_id)
        agg = summary_pdf[summary_pdf["kind"] == "agg"]
        by_status = agg.groupby("status")["n"].sum() if len(agg) else pd.Series(dtype="int64")

        # fold per-task latency histograms (bounded: ≤ tasks × buckets rows)
        latency: dict[str, dict] = {}
        lat = summary_pdf[summary_pdf["kind"] == "lat"]
        for (success, le), n in lat.groupby(["status", "commit_lsn"])["n"].sum().items():
            h = latency.setdefault(success, {"buckets": {}, "sum_us": 0, "count": 0})
            h["buckets"][int(le)] = h["buckets"].get(int(le), 0) + int(n)
        lat_agg = summary_pdf[summary_pdf["kind"] == "lat_agg"]
        for success, grp in lat_agg.groupby("status"):
            h = latency.setdefault(success, {"buckets": {}, "sum_us": 0, "count": 0})
            h["count"] += int(grp["n"].sum())
            h["sum_us"] += int(grp["commit_lsn"].sum())
        n_delivered = int(by_status.get("delivered", 0))
        n_failed = int(by_status.get("failed", 0))
        n_blocked = int(by_status.get("blocked", 0))
        n_deferred = int(by_status.get("deferred", 0))
        n_tasks = int(summary_pdf.loc[summary_pdf["kind"] == "task", "n"].sum())

        # acknowledged-messages ring: per-task tails (≤ partitions×ring
        # rows through the driver), merged + trimmed to acked_ring_size
        if n_delivered:
            if self.ledger_trim_batches is not None:
                # advance the trim watermark: each task's ring tail holds
                # its partition's max delivered lsn, so the ring max is
                # the batch max. The watermark is the max from
                # ledger_trim_batches batches ago — anything older is
                # outside the replay window.
                ring_lsns = summary_pdf.loc[
                    summary_pdf["kind"] == "ring", "commit_lsn"
                ]
                batch_max = int(ring_lsns.max()) if len(ring_lsns) else 0
                if batch_max > 0:
                    self._lsn_maxes.append(batch_max)
                if len(self._lsn_maxes) > self.ledger_trim_batches:
                    self._lsn_maxes = self._lsn_maxes[-self.ledger_trim_batches:]
                    self._ledger_trim_lsn = self._lsn_maxes[0]
            self._compact_ledger()
            ring_new = summary_pdf[summary_pdf["kind"] == "ring"].sort_values(
                ["acked_at", "commit_lsn", "commit_idx", "idempotency_key"]
            )[RING_COLS + ["acked_at"]]
            self._update_ring(ring_new)

        # new pending: executor-spilled failed/blocked/deferred rows
        # (payloads already attached) and the rows still backing off.
        # Failed rows get bumped deliver_count + backoff; blocked and
        # deferred rows keep their count (never attempted).
        parts = [] if prep["waiting"] is None else [prep["waiting"]]
        discarded = pd.DataFrame()
        failures = None
        fail_files = state_files(fail_dir)
        if fail_files:
            failures = pd.concat(
                [pq.read_table(f).to_pandas() for f in fail_files],
                ignore_index=True,
            ).drop_duplicates(subset=IDENTITY, keep="first")  # task-retry double-writes
            bump = failures["status"] == "failed"
            failures.loc[bump, "deliver_count"] = failures.loc[bump, "deliver_count"] + 1
            failures["not_visible_until"] = [
                now + backoff_s(dc, self.backoff_base_s) if st == "failed" else now
                for dc, st in zip(failures["deliver_count"], failures["status"])
            ]
            over = failures["deliver_count"] > self.max_retry_count
            discarded = failures[over]
            # first_seen_at: restored from the pre-batch snapshot for
            # rows that were already pending, stamped `now` below for
            # rows failing for the first time
            retry = failures[~over]
            retry = (retry.merge(prep["prev_seen"], on=IDENTITY, how="left")
                     if prep["prev_seen"] is not None
                     else retry.assign(first_seen_at=now))
            parts.insert(0, pa.Table.from_pandas(
                retry, schema=prep["pending_schema"], preserve_index=False))
        shutil.rmtree(fail_dir, ignore_errors=True)

        n_pending = 0
        oldest_pending_age_ms = 0.0
        new_pending = pa.concat_tables(parts) if parts else None
        if new_pending is not None and new_pending.num_rows:
            n_pending = new_pending.num_rows
            seen = pc.fill_null(new_pending["first_seen_at"], now)
            new_pending = new_pending.set_column(
                new_pending.schema.get_field_index("first_seen_at"),
                "first_seen_at", seen)
            oldest_pending_age_ms = max(
                0.0, (time.time() - pc.min(seen).as_py()) * 1000.0)
            _write_parquet(self.pending_path, new_pending)
        elif os.path.exists(self.pending_path):
            os.remove(self.pending_path)

        if len(discarded):
            _write_parquet(
                os.path.join(self.discarded_dir, f"batch-{batch_id}-{uuid.uuid4().hex}.parquet"),
                discarded, _plus(prep["row_schema"], error=pa.string()))

        # trace events (trace.ex: Trace.info/error per delivery attempt;
        # batch-granular here — the summary the console aggregates)
        if self.tracer is not None:
            cid = self.consumer_id
            if n_delivered:
                self.tracer.info(
                    cid, f"Messages delivered to {self.sink_type} sink",
                    extra={"batch_id": batch_id, "delivered": n_delivered})
            if n_failed:
                first_err = None
                if failures is not None:
                    errs = failures.loc[failures["status"] == "failed", "error"]
                    first_err = str(errs.iloc[0]) if len(errs) else None
                self.tracer.error(
                    cid,
                    f"Failed to deliver messages to {self.sink_type} sink",
                    error=first_err,
                    extra={"batch_id": batch_id, "failed": n_failed,
                           "blocked": n_blocked})
            if len(discarded):
                self.tracer.warning(
                    cid, "Messages discarded after max retries",
                    extra={"batch_id": batch_id,
                           "discarded": int(len(discarded))})

        # overflow dirs whose rows just rode through the delivery pass:
        # safe to drop only now (post-delivery, post-state-writes) — a
        # crash any earlier replays them and the task's ledger check
        # drops the copies
        for p in prep["overflow_taken"]:
            shutil.rmtree(p, ignore_errors=True)

        return {
            "batch_id": batch_id,
            "delivered": n_delivered,
            "failed": n_failed,
            "blocked": n_blocked,
            "deferred": n_deferred,
            "discarded": int(len(discarded)),
            "pending": n_pending,
            "shed": prep["shed"],
            "spilled": prep["spilled"],
            "reingested": prep["reingested"],
            "overflow_backlog": prep["overflow_backlog"],
            "oldest_pending_age_ms": oldest_pending_age_ms,
            "delivery_latency_us": latency,
            "delivery_tasks": n_tasks,
        }


# --- the delivery task (executor side) ------------------------------------
def deliver_partition(batches, *, batch_id: int, sink_type: str,
                      sink_config: dict, batch_cols: tuple, batch_size: int,
                      batch_bytes: int | None, ledger_dir: str, fail_dir: str,
                      ring_size: int, ledger: frozenset, blocked: frozenset):
    """The delivery task body (mapInArrow over the arranged frame) and
    the one place rows are skipped or held.  Per row, in (group, lsn,
    idx) order: drop it if its identity is in ``ledger`` or repeats the
    previous row's; defer it (status 'deferred') if its group is in
    ``blocked``; block it if its group's chunk failed earlier in this
    task; otherwise send it in its batch key's chunk.  The task appends
    delivered identities to the ledger dir and failed/blocked/deferred
    rows (payload included, in the frame's schema plus ``status`` and
    ``error``) to the failures dir, and yields only bounded summary
    rows.  Task-retry double-writes are resolved on read (dedup by
    identity)."""
    sink = create_sink(sink_type, sink_config)
    sink.open()
    # per-task latency histogram: {success: [bucket counts..., +Inf]}
    lat_counts = {"true": [0] * (len(LAT_BUCKETS_US) + 1),
                  "false": [0] * (len(LAT_BUCKETS_US) + 1)}
    lat_sum_us = {"true": 0, "false": 0}

    def _observe(success: bool, dur_us: int) -> None:
        key = "true" if success else "false"
        for i, le in enumerate(LAT_BUCKETS_US):
            if dur_us <= le:
                lat_counts[key][i] += 1
                break
        else:
            lat_counts[key][-1] += 1
        lat_sum_us[key] += dur_us

    def _finish(schema: pa.Schema, delivered: list, held: list):
        """Persist one frame's outcomes; return its summary batch.  A
        task may see several Arrow frames — file names are per-frame
        unique."""
        task_tag = uuid.uuid4().hex
        t_now = time.time()
        if delivered:
            _write_parquet(
                os.path.join(ledger_dir, f"batch-{batch_id}-{task_tag}.parquet"),
                pa.Table.from_pylist(delivered, schema=LEDGER_SCHEMA))
        if held:
            _write_parquet(
                os.path.join(fail_dir, f"task-{task_tag}.parquet"),
                pa.Table.from_pylist(held, schema=_plus(
                    schema, status=pa.string(), error=pa.string())))
        counts = collections.Counter(r["status"] for r in held)
        if delivered:
            counts["delivered"] = len(delivered)
        return _summary(
            [{"kind": "agg", "status": s, "n": n, "acked_at": t_now}
             for s, n in counts.items()]
            + [{**{c: r[c] for c in RING_COLS}, "kind": "ring",
                "status": "delivered", "n": 1, "acked_at": t_now}
               for r in delivered[-ring_size:]])

    # dedup carry: the identity of the previous row, across frames too
    # (duplicates are sort-adjacent, so a repeat equals the row before)
    prev_id = None
    # cross-frame GROUP-BLOCKING carry (r11): a group whose chunk failed
    # earlier in this task must stay blocked for the rest of the task —
    # frames are an Arrow transport boundary, not an ordering boundary
    # (a per-frame reset was an order violation, caught by the chaos
    # sweep under a 10-row maxRecordsPerBatch).
    failed_groups: set = set()
    for rb in batches:
        if not rb.num_rows:
            continue
        # a map column (http_push headers) reaches the sink as a dict
        maps = [f.name for f in rb.schema if pa.types.is_map(f.type)]
        delivered: list = []
        held: list = []  # failed, blocked and deferred rows

        def hold(r, status, err):
            r["status"], r["error"] = status, err
            held.append(r)

        def flush(chunk):
            if not chunk:
                return
            # batch-level routing only: a chunk holds one batch-key
            # value, so chunk[0] is safe for these.  Per-MESSAGE keys
            # (kafka message_key, nats subject, rabbitmq routing_key)
            # mix within a chunk and must NOT be smeared from chunk[0] —
            # sinks read them row-first and fall back to their config
            # default, never to another row's value.
            routing = {c: chunk[0].get(c) for c in batch_cols}
            t0 = time.perf_counter()
            try:
                sink.deliver(SinkBatch(routing=routing, rows=chunk))
                _observe(True, int((time.perf_counter() - t0) * 1e6))
                delivered.extend(chunk)
            except Exception as e:  # noqa: BLE001
                _observe(False, int((time.perf_counter() - t0) * 1e6))
                err = str(e)[:500]
                for r in chunk:
                    hold(r, "failed", err)
                    if r["group_id"] is not None:
                        failed_groups.add(r["group_id"])

        # Rows arrive sorted (group_id, lsn, idx). Each BATCH-key value
        # keeps one open chunk that spans groups — the reference's
        # per-batch_key Broadway batchers (sink_pipeline.ex:371-430): one
        # sink call per (batch_key, ≤batch_size) buffer, and a failure
        # nacks the whole chunk + blocks the affected groups' later
        # rows.  Per-message routing keys (kafka message_key, kinesis
        # partition_key, ...) ride in the rows and are not part of the
        # key — keying on them meant one-row sink calls at high group
        # cardinality (r11 soak, ~700 rows/s ceiling).
        # batch-key value → [rows, encoded bytes]
        buffers: dict = {}
        last_group = last_key = None
        for r in rb.to_pylist():
            ident = (r["commit_lsn"], r["commit_idx"], r["idempotency_key"])
            dup, prev_id = ident == prev_id or ident in ledger, ident
            if dup:
                continue
            for c in maps:
                if r[c] is not None:
                    r[c] = dict(r[c])
            gk = r["group_id"]
            # behind a backing-off pending head: never attempted, the
            # row rides in pending until the head resolves
            if gk in blocked:
                hold(r, "deferred", "group blocked (backoff head)")
                continue
            key = tuple(_hashable(r.get(c)) for c in batch_cols)
            # a group's unsent rows sit in one buffer: before its next
            # row joins another key's, send the old one, so the group
            # reaches the sink in commit order
            if (gk is not None and gk == last_group and key != last_key
                    and last_key in buffers):
                flush(buffers.pop(last_key)[0])
            # encoded bytes, not characters — a mostly-CJK payload is up
            # to 4x its len() and would blow a sink's wire cap (e.g.
            # pub/sub 10MB) if counted in characters
            r_bytes = len((r.get("value") or "").encode("utf-8"))
            buf = buffers.get(key)
            # send the key's chunk at the count OR byte bound
            # (sink_pipeline.ex:413-434: emit the accumulated batch,
            # start fresh with this row)
            if buf and (
                len(buf[0]) >= batch_size
                or (batch_bytes is not None and buf[1] + r_bytes > batch_bytes)
            ):
                flush(buffers.pop(key)[0])
                buf = None
            # check AFTER flushing — the group's head may have just
            # failed in the chunk ahead of this row
            if gk is not None and gk in failed_groups:
                hold(r, "blocked", "group blocked")
                continue
            if buf is None:
                buf = buffers[key] = [[], 0]
            buf[0].append(r)
            buf[1] += r_bytes
            last_group, last_key = gk, key
        for chunk, _ in buffers.values():
            flush(chunk)
        yield _finish(rb.schema, delivered, held)
    # the task's closing summary: its task row + latency histogram
    end = [{"kind": "task", "status": "", "n": 1}]
    for success, counts in lat_counts.items():
        if not any(counts):
            continue
        end += [{"kind": "lat", "status": success, "n": c, "commit_lsn": le}
                for le, c in zip((*LAT_BUCKETS_US, LAT_INF), counts) if c]
        end.append({"kind": "lat_agg", "status": success, "n": sum(counts),
                    "commit_lsn": lat_sum_us[success]})
    yield _summary(end)
    sink.close()
