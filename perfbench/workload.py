"""Seeded change model shared by the load process, the backfill table
writer and the checker.

One table, ``public.orders`` (replica identity full), with ~200-byte
rows.  Transactions hold ``TXN_STATEMENTS`` statements drawn 60/30/10
insert/update/delete; updates and deletes pick a live row.  Every event
carries ``seq``, a number unique to the row version it wrote, so the
receiver's payloads can be mapped back to the event that produced them.

Events are plain dicts (see ``Model.txn``); nothing here imports the
engine.
"""

from __future__ import annotations

import random
import string

TABLE_SCHEMA = "public"
TABLE_NAME = "orders"
TABLE_OID = 16384
# (name, type oid, is primary key) — int8, int8, text, text, numeric, text
COLUMNS = [
    ("id", 20, True),
    ("seq", 20, False),
    ("customer", 25, False),
    ("status", 25, False),
    ("amount", 1700, False),
    ("note", 25, False),
]
COLUMN_NAMES = [c[0] for c in COLUMNS]
STATUSES = ("new", "paid", "shipped", "cancelled")
TXN_STATEMENTS = 8
NOTE_CHARS = 120
LSN_BASE = 0x0100_0000
LSN_STEP = 0x1000  # WAL bytes between consecutive commits

# Workload sizes.  A run must fit a 4-core host shared with other jobs
# and end, set-up and checks included, well inside three minutes.
FANOUT_RATE = 100.0  # events/s, open loop (wal_fanout)
BACKFILL_ROWS = 2_000  # rows in the backfill_bulk table
WARM_CYCLES = 8  # backfill_bulk cycles run, checked and not timed first
MIN_CYCLES = 3  # timed backfill_bulk cycles per run, at the least


class Model:
    """Deterministic row-change generator for one seed."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.rows: dict[int, dict] = {}
        self.live: list[int] = []
        self.next_id = 1
        self.seq = 0
        self.lsn = LSN_BASE
        self.xid = 1000

    def _new_values(self, row_id: int) -> dict:
        rng = self.rng
        self.seq += 1
        return {
            "id": str(row_id),
            "seq": str(self.seq),
            "customer": f"cust-{rng.randrange(5000):04d}",
            "status": rng.choice(STATUSES),
            "amount": f"{rng.uniform(1, 100):.2f}",
            "note": "".join(rng.choices(string.ascii_lowercase, k=NOTE_CHARS)),
        }

    def insert_row(self) -> dict:
        row_id = self.next_id
        self.next_id += 1
        row = self._new_values(row_id)
        self.rows[row_id] = row
        self.live.append(row_id)
        return row

    def _change(self) -> tuple[str, dict, dict | None]:
        """One statement: (action, record, changes).  ``record`` is the
        new row (the pre-image for a delete); ``changes`` holds the old
        values of changed columns on an update, else None."""
        r = self.rng.random()
        if r < 0.6 or len(self.live) < 10:
            return "insert", self.insert_row(), None
        pos = self.rng.randrange(len(self.live))
        row_id = self.live[pos]
        old = self.rows[row_id]
        if r < 0.9:
            self.seq += 1
            new = dict(old)
            new["seq"] = str(self.seq)
            new["status"] = self.rng.choice(STATUSES)
            new["amount"] = f"{self.rng.uniform(1, 100):.2f}"
            self.rows[row_id] = new
            changes = {k: v for k, v in old.items() if new[k] != v}
            return "update", new, changes
        self.live[pos] = self.live[-1]
        self.live.pop()
        del self.rows[row_id]
        return "delete", old, None

    def txn(self, commit_ts: float) -> dict:
        """Next transaction; ``commit_ts`` (unix seconds) is its due time."""
        self.lsn += LSN_STEP
        self.xid += 1
        events = []
        for idx in range(TXN_STATEMENTS):
            action, record, changes = self._change()
            # the pre-image travels with updates/deletes (identity full)
            events.append({
                "lsn": self.lsn, "idx": idx, "action": action,
                "record": record, "changes": changes,
                "old": (self._old_of(record, changes) if action == "update"
                        else None),
                "ts": commit_ts,
            })
        return {"lsn": self.lsn, "xid": self.xid, "ts": commit_ts,
                "events": events}

    @staticmethod
    def _old_of(record: dict, changes: dict) -> dict:
        return {**record, **changes}

    def snapshot(self, n_rows: int) -> list[dict]:
        """``n_rows`` inserted rows — the backfill table's contents."""
        return [self.insert_row() for _ in range(n_rows)]
