"""Message browse/peek API — inspect in-flight and acknowledged
messages per sink.

Reference: the console's message browser
(lib/sequin_web/live/sink_consumers/show.ex:1191-1304 —
``SlotMessageStore.peek_messages_metadata(consumer, limit, order:)`` for
in-flight rows plus ``Consumers.AcknowledgedMessages.fetch_messages``
for the acked ring, encoded with ack_id/commit_lsn/seq/deliver_count/
not_visible_until and a derived human state) and the REST routes stubbed
by lib/sequin_web/controllers/message_controller.ex (list with
sort=seq_asc|seq_desc, limit 1..10_000 default 100, visible filter;
single-message show by id).

State derivation is show.ex:1336-1367 ``get_message_state``:

    no delivery attempt yet               → "available"
    leased, within the ack window         → "delivering"
    lease expired / explicit backoff      → "backing off" or
                                            "pending re-delivery"
    acked ring rows                       → "delivered" | "discarded"

Sources are the engine's own stores — the PullQueue window + spill
(streaming/pull_queue.py) and the DeliveryEngine's acked ring /
pending-retry / discarded parquet (streaming/delivery.py) — so browsing
never touches executor state; everything read is already a bounded
driver-side artifact (ring ≤ acked_ring_size, window ≤ max_pending).
"""

from __future__ import annotations

import time

import pandas as pd


_ORDERS = {"seq_asc": True, "seq_desc": False}


class MessageBrowser:
    """Read-only view over one sink's message stores.

    ``queue``: streaming.pull_queue.PullQueue (sequin_stream sinks) —
    in-flight rows. ``engine``: streaming.delivery.DeliveryEngine (push
    sinks) — acked ring, pending retries, discarded. Either may be None.
    """

    def __init__(self, queue=None, engine=None):
        self.queue = queue
        self.engine = engine

    # -- encoding (show.ex encode_message) ----------------------------------

    @staticmethod
    def _encode_queue_row(row: pd.Series, now: float) -> dict:
        nvu = float(row.get("not_visible_until") or 0.0)
        state = row.get("state")
        if state == "delivered":
            human = "delivering" if now < nvu else "pending re-delivery"
        elif nvu > now:
            human = "backing off"
        else:
            human = "available"
        lsn, idx = int(row["commit_lsn"]), int(row["commit_idx"])
        return {
            "id": row["ack_id"],
            "type": "event",
            "ack_id": row["ack_id"],
            "commit_lsn": lsn,
            "commit_idx": idx,
            "seq": lsn + idx,
            "data": row.get("value"),
            "deliver_count": int(row.get("deliver_count") or 0),
            "not_visible_until": nvu or None,
            "group_id": row.get("group_id"),
            "state": human,
        }

    @staticmethod
    def _encode_ring_row(row: pd.Series, state: str) -> dict:
        lsn, idx = int(row["commit_lsn"]), int(row["commit_idx"])
        return {
            "id": row.get("idempotency_key") or f"{lsn}:{idx}",
            "type": "acknowledged_message",
            "ack_id": row.get("idempotency_key"),
            "commit_lsn": lsn,
            "commit_idx": idx,
            "seq": lsn + idx,
            "data": None,  # acked ring stores identity only (show.ex:1284)
            "deliver_count": int(row.get("deliver_count") or 0),
            "not_visible_until": None,
            "group_id": row.get("group_id"),
            "state": state,
            "last_delivered_at": float(row["acked_at"])
            if "acked_at" in row and pd.notna(row.get("acked_at"))
            else None,
        }

    # -- collection ---------------------------------------------------------

    def _inflight(self, now: float) -> list[dict]:
        out: list[dict] = []
        if self.queue is not None:
            for _, row in self.queue._messages.iterrows():
                out.append(self._encode_queue_row(row, now))
        if self.engine is not None:
            pending = self.engine._read_pending()
            if pending is not None and len(pending):
                for _, row in pending.iterrows():
                    nvu = float(row.get("not_visible_until") or 0.0)
                    lsn = int(row["commit_lsn"])
                    idx = int(row["commit_idx"])
                    out.append({
                        "id": row.get("idempotency_key") or f"{lsn}:{idx}",
                        "type": "event",
                        "ack_id": row.get("idempotency_key"),
                        "commit_lsn": lsn,
                        "commit_idx": idx,
                        "seq": lsn + idx,
                        "data": row.get("value"),
                        "deliver_count": int(row.get("deliver_count") or 0),
                        "not_visible_until": nvu or None,
                        "group_id": row.get("group_id"),
                        "state": ("backing off" if nvu > now
                                  else "pending re-delivery"),
                    })
        return out

    def _acked(self) -> list[dict]:
        out: list[dict] = []
        if self.engine is None:
            return out
        ring = self.engine.acked_ring()
        if ring is not None and len(ring):
            for _, row in ring.iterrows():
                out.append(self._encode_ring_row(row, "delivered"))
        # discarded parquet (max-retry-exceeded / admin discard)
        import pyarrow.parquet as pq

        from sequin_spark.streaming.delivery import state_files

        for f in sorted(state_files(self.engine.discarded_dir)):
            try:
                pdf = pq.read_table(f).to_pandas()
            except Exception:  # noqa: BLE001 — partial write
                continue
            for _, row in pdf.iterrows():
                out.append(self._encode_ring_row(row, "discarded"))
        return out

    # -- API (message_controller.ex param contract) -------------------------

    def list(self, limit: int = 100, order: str = "seq_asc",
             state: str | None = None, visible: bool | None = None,
             show_acked: bool = True) -> dict:
        """List envelope ``{"data": [...], "total_count": N}``.
        ``limit`` 1..10_000 (parse_limit), ``order`` seq_asc|seq_desc
        (parse_stream_sort), ``state`` exact-match on the derived state,
        ``visible`` True → only currently-deliverable rows
        (parse_visible's is_deliverable)."""
        if not (1 <= int(limit) <= 10_000):
            raise ValueError("Invalid limit parameter")
        if order not in _ORDERS:
            raise ValueError("Invalid sort parameter")
        now = time.time()
        rows = self._inflight(now)
        if show_acked:
            rows += self._acked()
        if state is not None:
            rows = [r for r in rows if r["state"] == state]
        if visible is not None:
            rows = [r for r in rows if (r["state"] == "available") == visible]
        total = len(rows)
        rows.sort(key=lambda r: (r["seq"], r["commit_idx"]),
                  reverse=not _ORDERS[order])
        return {"data": rows[: int(limit)], "total_count": total}

    def get(self, message_id: str) -> dict | None:
        """Peek one message by ack_id/id (SlotMessageStore.peek_message,
        show.ex:1216)."""
        now = time.time()
        for r in self._inflight(now) + self._acked():
            if r["id"] == message_id or r["ack_id"] == message_id:
                return r
        return None
