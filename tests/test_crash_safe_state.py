"""Delivery state survives a writer killed mid-write.

Every state file goes through ``_write_parquet``: a dot-named temporary
file in the same directory, then ``os.replace``.  A writer that dies
partway leaves the previous file (or none) plus a dot-named leftover
that no state reader reads, so the next batch runs and delivers every
row exactly once.
"""

import io
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sequin_spark.streaming import delivery
from sequin_spark.streaming.delivery import DeliveryEngine

ROWS = ("group_id string, commit_lsn long, commit_idx long, "
        "idempotency_key string, key string, value string")


class Killed(Exception):
    """The writer process dying mid-write."""


@pytest.fixture
def die_writing(monkeypatch):
    """``die_writing(marker)``: the next parquet write whose path holds
    ``marker`` puts half the file's bytes on disk, then dies."""
    real = pq.write_table

    def arm(marker):
        def write(table, where, *a, **kw):
            if marker not in os.path.basename(str(where)):
                return real(table, where, *a, **kw)
            buf = io.BytesIO()
            real(table, buf, *a, **kw)
            with open(where, "wb") as f:
                f.write(buf.getvalue()[: buf.tell() // 2])
            monkeypatch.setattr(pq, "write_table", real)
            raise Killed(where)

        monkeypatch.setattr(pq, "write_table", write)
    return arm


def _rows(spark, ids):
    return spark.createDataFrame(
        [(f"g{i}", 100 + i, 0, f"k{i}", f"g{i}", json.dumps({"n": i}))
         for i in ids], ROWS)


def _engine(tmp_path, fail_pct):
    """A chaos sink that fails ``fail_pct``% of keys on their first
    attempt only and logs every delivered row."""
    log = tmp_path / "delivered.jsonl"
    engine = DeliveryEngine(
        "chaos", {"log_path": str(log), "attempt_dir": str(tmp_path / "att"),
                  "seed": 7, "fail_pct": fail_pct, "max_fails_per_key": 1,
                  "partial": False},
        state_dir=str(tmp_path / "state"), backoff_base_s=0.01)

    def delivered():
        if not log.exists():
            return []
        return sorted(json.loads(ln)["idempotency_key"]
                      for ln in log.read_text().splitlines())
    return engine, delivered


def test_killed_pending_write_replays_exactly_once(spark, tmp_path,
                                                   die_writing):
    """The driver dies while writing ``pending.parquet`` after a batch in
    which some rows failed.  The replayed batch runs, and every row
    reaches the sink exactly once: the delivered ones are in the ledger,
    the failed ones are delivered now."""
    engine, delivered = _engine(tmp_path, fail_pct=50)
    rows = _rows(spark, range(20))
    die_writing("pending.parquet")
    with pytest.raises(Killed):
        engine.process_batch(rows, 0)
    first = delivered()
    assert 0 < len(first) < 20

    stats = engine.process_batch(rows, 0)
    assert (stats["failed"], stats["pending"]) == (0, 0)
    assert stats["delivered"] == 20 - len(first)
    assert delivered() == sorted(f"k{i}" for i in range(20))
    assert engine.process_batch(rows.limit(0), 1)["delivered"] == 0


def test_killed_ledger_write_next_batch_delivers_once(spark, tmp_path,
                                                      die_writing):
    """A delivery task dies while writing its ledger file.  The next
    batch reads the ledger without the partial file and delivers each
    of its rows exactly once, and none that an intact ledger file
    already holds."""
    engine, delivered = _engine(tmp_path, fail_pct=0)
    assert engine.process_batch(_rows(spark, range(10)), 0)["delivered"] == 10
    # the write the batch-1 task makes for its delivered rows 10..19
    ids = pa.table({"commit_lsn": pa.array(range(110, 120), pa.int64()),
                    "commit_idx": pa.array([0] * 10, pa.int64()),
                    "idempotency_key": [f"k{i}" for i in range(10, 20)]})
    die_writing("batch-1-")
    with pytest.raises(Killed):
        delivery._write_parquet(
            os.path.join(engine.ledger_dir, "batch-1-0.parquet"), ids)

    stats = engine.process_batch(_rows(spark, range(10, 30)), 1)
    assert (stats["delivered"], stats["failed"]) == (20, 0)
    assert "batch-1-0.parquet" not in os.listdir(engine.ledger_dir)
    assert delivered() == sorted(f"k{i}" for i in range(30))
    assert engine.process_batch(_rows(spark, range(30)), 2)["delivered"] == 0
