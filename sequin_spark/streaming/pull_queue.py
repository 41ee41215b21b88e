"""Pull-queue consumer (the reference's `sequin_stream` sink).

Reference semantics (lib/sequin_web/controllers/pull_controller.ex:14-53,
slot_message_store_state.ex:286-300,432-478):

- receive(batch_size): lease up to n deliverable messages — group-blocked
  and visibility-aware — returns ack_ids; leased messages get
  not_visible_until = now + ack_wait;
- ack(ack_ids): remove permanently;
- nack(ack_ids): make immediately deliverable again;
- stale leases (past ack_wait) auto-return to deliverable.

Memory discipline: the reference's store is hard-bounded —
``setting_max_messages`` 50k and a byte budget
(slot_message_store_state.ex:18,31-35, validate_put_messages :76-91) —
with overflow persisted out of process (slot_message_store.ex:736-799).
This store mirrors that: the driver holds at most ``max_pending``
messages / ``max_memory_bytes`` payload in a pandas window; overflow is
spilled to cursor-ordered parquet chunks by a *distributed* Spark write
(never collected), and ``receive()`` refills the window from the oldest
chunks as it drains.  The scale path shards PullQueue instances by
group hash (partition_count, the reference's store count); each shard's
driver footprint stays O(max_pending) no matter the backlog.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MEM_COLS = [
    "ack_id", "group_id", "commit_lsn", "commit_idx", "value",
    "deliver_count", "not_visible_until", "state",
]


class PullQueue:
    def __init__(
        self,
        state_dir: str,
        ack_wait_s: float = 30.0,
        max_pending: int = 50_000,
        max_memory_bytes: int = 128 * 1024 * 1024,
    ):
        self.state_dir = state_dir
        self.ack_wait_s = ack_wait_s
        # defaults = the reference's store bounds
        # (slot_message_store_state.ex:18 @default_setting_max_messages,
        #  max_memory_bytes field :34)
        self.max_pending = max_pending
        self.max_memory_bytes = max_memory_bytes
        self._messages = pd.DataFrame(columns=_MEM_COLS)
        self._spill_seq = 0
        os.makedirs(self.spill_dir, exist_ok=True)
        self._load()

    # --- persistence ------------------------------------------------------
    @property
    def _path(self) -> str:
        return os.path.join(self.state_dir, "messages.parquet")

    @property
    def spill_dir(self) -> str:
        return os.path.join(self.state_dir, "spill")

    @property
    def _ack_log_path(self) -> str:
        return os.path.join(self.state_dir, "acked.log")

    def _load(self) -> None:
        if os.path.exists(self._path):
            self._messages = pq.read_table(self._path).to_pandas()
            # replay the append-only ack log: rows acked since the last
            # full window save are dropped (lease state is NOT restored —
            # stale-lease recovery redelivers, the reference's
            # at-least-once restart semantics)
            if os.path.exists(self._ack_log_path):
                with open(self._ack_log_path) as f:
                    acked = {line.strip() for line in f if line.strip()}
                if acked:
                    self._messages = self._messages[
                        ~self._messages["ack_id"].isin(acked)]
        chunks = self._spill_chunks()
        if chunks:
            self._spill_seq = int(os.path.basename(chunks[-1]).split("-")[1]) + 1

    def _save(self) -> None:
        """Full window snapshot; truncates the ack log (the snapshot
        already excludes acked rows).  Called on COMPOSITION changes
        (ingest / refill / compaction) — NOT per receive/ack: the 1 M-
        backlog stress measured the per-call 50 k-row parquet rewrite at
        ~0.3 s, capping drain at ~1.3 k rows/s; with the append-only
        ack log the per-ack durable write is O(batch) and drain is
        window-rewrite-free."""
        pq.write_table(
            pa.Table.from_pandas(self._messages, preserve_index=False), self._path
        )
        if os.path.exists(self._ack_log_path):
            os.remove(self._ack_log_path)

    def _log_acks(self, ack_ids: list[str]) -> None:
        """O(batch) durable ack record; compacted into the window
        snapshot once it outgrows the window."""
        with open(self._ack_log_path, "a") as f:
            f.write("\n".join(ack_ids) + "\n")
        try:
            if os.path.getsize(self._ack_log_path) > 33 * self.max_pending:
                self._save()  # ~33 B/ack_id line -> compact
        except OSError:
            pass

    # --- spill ------------------------------------------------------------
    def _spill_chunks(self) -> list[str]:
        """Spill chunk files in cursor order (lexicographic names:
        zero-padded ingest seq + range-partition index)."""
        return sorted(
            os.path.join(self.spill_dir, f)
            for f in os.listdir(self.spill_dir)
            if f.endswith(".parquet")
        )

    def spilled(self) -> int:
        """Row count of the spill backlog — parquet footers only."""
        return sum(pq.read_metadata(f).num_rows for f in self._spill_chunks())

    def _spill(self, df: DataFrame, count: int) -> None:
        """Distributed cursor-ordered spill: range-partition on the WAL
        cursor so chunk files are globally ordered, each at most a
        refill-sized slice.  No driver collect."""
        chunk_rows = max(1, self.max_pending // 4)
        n_chunks = max(1, -(-count // chunk_rows))
        tmp = os.path.join(self.spill_dir, f"_tmp-{uuid.uuid4().hex}")
        out = df.select("group_id", "commit_lsn", "commit_idx", "value")
        if n_chunks > 1:
            out = out.repartitionByRange(n_chunks, "commit_lsn", "commit_idx")
        else:
            out = out.coalesce(1)
        out.sortWithinPartitions("commit_lsn", "commit_idx").write.mode(
            "overwrite"
        ).parquet(tmp)
        parts = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        for i, part in enumerate(parts):
            os.replace(
                os.path.join(tmp, part),
                os.path.join(self.spill_dir, f"chunk-{self._spill_seq:010d}-{i:05d}.parquet"),
            )
        shutil.rmtree(tmp, ignore_errors=True)
        self._spill_seq += 1

    def _mem_bytes(self) -> int:
        if not len(self._messages):
            return 0
        return int(self._messages["value"].astype(str).str.len().sum())

    def _refill(self) -> None:
        """Pull the oldest spill chunks into the window while capacity
        allows (count + rough byte budget).  pyarrow local read — bounded
        by chunk size, no Spark job on the receive path.

        Durability order (r10 chaos finding, test_chaos_state.py): the
        window snapshot is saved BEFORE the consumed chunk files are
        deleted.  The previous order (delete per chunk, one save at the
        end) had a crash window in which absorbed rows existed only in
        memory — a crash there lost them PERMANENTLY on the ack/receive
        refill path, where no caller replays.  With save-first, a crash
        between the save and the deletes leaves the rows in BOTH the
        snapshot and the chunks; the next refill re-absorbs the chunk
        and the window's (commit_lsn, commit_idx) replay dedup collapses
        the copies — at-least-once, never zero-times."""
        consumed: list[str] = []
        budget_rows = self.max_pending - len(self._messages)
        mem_bytes = self._mem_bytes()
        for path in self._spill_chunks():
            meta = pq.read_metadata(path)
            if meta.num_rows > budget_rows:
                break
            pdf = pq.read_table(path).to_pandas()
            chunk_bytes = int(pdf["value"].astype(str).str.len().sum())
            if mem_bytes + chunk_bytes > self.max_memory_bytes and len(self._messages):
                break
            pdf["ack_id"] = [uuid.uuid4().hex for _ in range(len(pdf))]
            pdf["deliver_count"] = 0
            pdf["not_visible_until"] = 0.0
            pdf["state"] = "available"
            self._messages = (
                pd.concat([self._messages, pdf[_MEM_COLS]], ignore_index=True)
                if len(self._messages)
                else pdf[_MEM_COLS]
            )
            # replay dedup on the WAL cursor within the window (the
            # reference's messages map is keyed by cursor tuple)
            self._messages = self._messages.drop_duplicates(
                subset=["commit_lsn", "commit_idx"], keep="first"
            )
            consumed.append(path)
            budget_rows = self.max_pending - len(self._messages)
            mem_bytes = self._mem_bytes()
        if consumed:
            self._save()  # durable FIRST ...
            for path in consumed:  # ... then retire the chunks
                os.remove(path)

    # --- ingestion --------------------------------------------------------
    def ingest(self, df: DataFrame) -> int:
        """Add events (canonical schema with a serialized `value` column).

        Fast path: backlog empty and the batch fits the window → collect
        straight into memory.  Otherwise the whole batch is spilled by a
        distributed write and the window refills from the oldest chunks —
        the driver never materializes more than max_pending rows.
        """
        df = df.select("group_id", "commit_lsn", "commit_idx", "value")
        count = df.count()
        agg = df.agg(F.sum(F.length(F.coalesce(F.col("value"), F.lit(""))))).collect()
        incoming_bytes = int(agg[0][0] or 0)
        fits = (
            not self._spill_chunks()
            and len(self._messages) + count <= self.max_pending
            and self._mem_bytes() + incoming_bytes <= self.max_memory_bytes
        )
        if fits:
            pdf = df.toPandas()
            pdf["ack_id"] = [uuid.uuid4().hex for _ in range(len(pdf))]
            pdf["deliver_count"] = 0
            pdf["not_visible_until"] = 0.0
            pdf["state"] = "available"
            merged = (
                pd.concat([self._messages, pdf[_MEM_COLS]], ignore_index=True)
                if len(self._messages)
                else pdf[_MEM_COLS]
            )
            self._messages = merged.drop_duplicates(
                subset=["commit_lsn", "commit_idx"], keep="first"
            )
        else:
            self._spill(df, count)
            self._refill()
        self._save()
        return self.depth()

    # --- pull API ---------------------------------------------------------
    def receive(self, batch_size: int = 10) -> list[dict]:
        """Deliverable selection (slot_message_store_state.ex:432-478):
        cursor order; a group with an outstanding leased message is
        blocked; visibility timeouts respected."""
        now = time.time()
        self._refill()
        m = self._messages
        # stale leases return to available (nack_stale_produced_messages)
        stale = (m["state"] == "delivered") & (m["not_visible_until"] <= now)
        m.loc[stale, "state"] = "available"

        # Vectorized selection (the 1 M-backlog stress measured the old
        # iterrows + scalar-.loc loop at ~0.4 s per receive over a 50 k
        # window): cursor order, drop rows of groups with an outstanding
        # lease, keep the FIRST row per group (one lease per group per
        # receive), take batch_size.  NaN group = ungrouped: never
        # blocked, never deduped (duplicated() treats NaNs as equal).
        leased_groups = set(m.loc[m["state"] == "delivered", "group_id"].dropna())
        cand = m[(m["state"] == "available")
                 & (m["not_visible_until"] <= now)].sort_values(
            ["commit_lsn", "commit_idx"])
        grouped = cand["group_id"].notna()
        if leased_groups:
            cand = cand[~(grouped & cand["group_id"].isin(leased_groups))]
            grouped = cand["group_id"].notna()
        pick = cand[~cand["group_id"].duplicated() | ~grouped].head(batch_size)
        out = [
            {"ack_id": r.ack_id, "data": r.value,
             "group_id": None if pd.isna(r.group_id) else r.group_id,
             "deliver_count": int(r.deliver_count) + 1}
            for r in pick.itertuples()
        ]
        idxs = pick.index
        m.loc[idxs, "state"] = "delivered"
        m.loc[idxs, "deliver_count"] = m.loc[idxs, "deliver_count"] + 1
        m.loc[idxs, "not_visible_until"] = now + self.ack_wait_s
        # lease state is deliberately NOT persisted per call: a crash
        # loses leases, stale-timeout recovery redelivers — the
        # reference's in-memory store has the same at-least-once
        # restart contract (slot_message_store.ex rebuild-from-slot)
        return out

    def ack(self, ack_ids: list[str]) -> int:
        mask = self._messages["ack_id"].isin(ack_ids)
        removed = int(mask.sum())
        self._messages = self._messages[~mask]
        if removed:
            self._log_acks(list(ack_ids))
        self._refill()  # saves the snapshot itself when it absorbs chunks
        return removed

    def nack(self, ack_ids: list[str]) -> int:
        """reset_message_visibilities: immediately deliverable again."""
        mask = self._messages["ack_id"].isin(ack_ids)
        self._messages.loc[mask, "state"] = "available"
        self._messages.loc[mask, "not_visible_until"] = 0.0
        return int(mask.sum())

    def depth(self) -> int:
        return len(self._messages) + self.spilled()

    def window_size(self) -> int:
        """Rows currently held in driver memory (≤ max_pending)."""
        return len(self._messages)
