"""Seeded chaos over the backfill fence and the pull queue (r9 verdict
task #6 — extending the delivery-engine chaos of test_chaos.py to the
other two stateful surfaces, mirroring lib/sequin/havoc.ex's
whole-tree reach).

Backfill schedule (table_reader_server.ex flush protocol): the page
loop flushes a fence-merged page FIRST and persists the cursor
SECOND; a seeded crash lands between the two (and mid-page), the
reader restarts from the persisted cursor, and the invariants are
asserted over the union of every flushed event:

1. no lost row — every source pk either has a `read` event or was
   fence-suppressed because CDC touched it at/below the fence;
2. no stale clobber — a pk with CDC ≤ fence NEVER gets a `read`
   event (the lsn-0 read would overwrite the newer CDC value in a
   last-writer-wins consumer);
3. crash-induced page re-reads only ever produce duplicate
   idempotency keys (at-least-once), never divergent records.

Pull-queue schedule (slot_message_store semantics): random
ingest / receive / ack / nack / crash-rebuild interleavings, with
seeded faults in the two durability windows (ingest's spill→save and
ack's remove→log-append); operations that raise are retried by the
caller, exactly as foreachBatch replays.  Invariants:

4. no lost row — after the drain every ingested (lsn, idx) was
   delivered and acked, and the queue is empty;
5. confirmed acks never resurrect — an (lsn, idx) whose ack()
   RETURNED is never delivered again, across crashes (an ack that
   raised mid-window may legitimately redeliver: at-least-once);
6. per-group first-delivery order is monotone in (lsn, idx) with
   duplicate copies collapsed to their first appearance.
"""

import random

import pytest
from pyspark.sql import functions as F

from sequin_spark.sources.backfill import (
    backfill_snapshot,
    fence_merge,
    keyset_page,
)
from sequin_spark.streaming.pull_queue import PullQueue

# ---------------------------------------------------------------------------
# backfill fence chaos


def _run_backfill_seed(spark, seed: int) -> None:
    rng = random.Random(seed)
    n = rng.choice([60, 90])
    fence = 5_000
    src = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, n + 1)], "id long, val string"
    )
    # CDC touches a random subset; lsn straddles the fence
    touched = {pk: rng.choice([fence - 100, fence, fence + 100])
               for pk in rng.sample(range(1, n + 1), k=n // 4)}
    from sequin_spark.schema import group_id_from_pks

    from sequin_spark.cdc import TABLE_OIDS

    cdc = spark.createDataFrame(
        list(touched.items()), "pk long, commit_lsn long",
    ).select(
        F.lit(TABLE_OIDS["orders"]).cast("long").alias("table_oid"),
        F.col("commit_lsn"),
        group_id_from_pks(F.array(F.col("pk").cast("string")))
        .alias("group_id"),
    )

    persisted_cursor = [None]   # the durable cursor (survives crashes)
    flushed: list[dict] = []    # the downstream sink (survives crashes)

    def one_run() -> bool:
        """One reader incarnation from the durable cursor; returns True
        when the backfill completed, False if it 'crashed'."""
        cursor = persisted_cursor[0]
        while True:
            page_size = rng.choice([7, 13, 20])
            page = keyset_page(src, ["id"], cursor, page_size)
            rows = page.collect()
            if not rows:
                return True
            snap = fence_merge(
                backfill_snapshot(page, "orders", ["id"]), cdc, fence)
            # FLUSH first ...
            flushed.extend(r.asDict(recursive=True)
                           for r in snap.collect())
            if rng.random() < 0.30:
                return False  # crash between flush and cursor persist
            # ... persist the cursor SECOND (flush protocol)
            cursor = [rows[-1]["id"]]
            persisted_cursor[0] = cursor
            if rng.random() < 0.15:
                return False  # crash after persist (clean boundary)

    runs = 0
    while not one_run():
        runs += 1
        assert runs < 60, f"seed {seed}: did not converge"

    suppressed = {pk for pk, lsn in touched.items() if lsn <= fence}
    read_pks = {int(e["record"]["id"]) for e in flushed}
    # 1: completeness
    assert read_pks == set(range(1, n + 1)) - suppressed, f"seed {seed}"
    # 2: no stale clobber
    assert not (read_pks & suppressed), f"seed {seed}"
    # 3: duplicates are verbatim re-reads, never divergent
    by_key: dict = {}
    for e in flushed:
        k = e["idempotency_key"]
        if k in by_key:
            assert by_key[k]["record"] == e["record"], f"seed {seed}"
        by_key[k] = e
    assert len(by_key) == len(read_pks), f"seed {seed}"


@pytest.mark.parametrize("seed", range(300, 308))
def test_chaos_backfill_fence(spark, seed):
    _run_backfill_seed(spark, seed)


# ---------------------------------------------------------------------------
# pull-queue chaos


def _rows_df(spark, rows):
    return spark.createDataFrame(
        rows, "group_id string, commit_lsn long, commit_idx long, "
              "value string")


def _run_pull_seed(spark, tmp_path, seed: int) -> None:
    rng = random.Random(seed)
    state = str(tmp_path / f"pq{seed}")
    groups = [f"g{i}" for i in range(rng.choice([2, 3]))] + [None]
    all_rows = []
    lsn = 100
    for _ in range(rng.choice([50, 80])):
        lsn += rng.choice([1, 2])
        all_rows.append((rng.choice(groups), lsn, 0, f"v{lsn}"))
    # small window so spill/refill is exercised constantly
    q = PullQueue(state, max_pending=16, ack_wait_s=0.05)

    pending_ingest = list(all_rows)
    delivered: list[tuple] = []      # (group, lsn, idx) in delivery order
    id_to_row: dict = {}
    confirmed: set = set()           # (lsn, idx) whose ack() RETURNED
    # keys whose ingest crashed mid-durability-window: the replay may
    # have legitimately created a SECOND copy (at-least-once ingest),
    # so a confirmed ack of copy 1 doesn't preclude delivering copy 2
    dup_possible: set = set()
    crash_budget = 3

    def crash() -> PullQueue:
        return PullQueue(state, max_pending=16, ack_wait_s=0.05)

    def maybe_fault(method: str):
        """Arm a one-shot fault in a durability window."""
        nonlocal crash_budget
        if crash_budget <= 0 or rng.random() > 0.25:
            return None
        crash_budget -= 1
        orig = getattr(PullQueue, method)
        calls = {"n": 0}

        def boom(self, *a, **k):
            calls["n"] += 1
            raise OSError(f"chaos: {method} fault (seed {seed})")

        setattr(PullQueue, method, boom)
        return orig

    leases: list[dict] = []
    steps = 0
    while (pending_ingest or q.depth() or leases) and steps < 400:
        steps += 1
        op = rng.random()
        if pending_ingest and op < 0.35:
            chunk = pending_ingest[: rng.choice([5, 9, 16, 30])]
            orig = maybe_fault("_save")  # crash between spill and save
            try:
                q.ingest(_rows_df(spark, chunk))
                pending_ingest = pending_ingest[len(chunk):]
            except OSError:
                # caller replays the batch after restart (foreachBatch
                # semantics) — rows may enter twice, never zero times
                dup_possible.update((lsn, idx)
                                    for _, lsn, idx, _ in chunk)
            finally:
                if orig:
                    PullQueue._save = orig
                    q = crash()
                    leases = []
        elif op < 0.75:
            got = q.receive(batch_size=rng.choice([3, 6]))
            for msg in got:
                key = None
                # map ack_id back to (lsn, idx) via the window
                row = q._messages[q._messages["ack_id"] == msg["ack_id"]]
                if len(row):
                    r = row.iloc[0]
                    key = (int(r["commit_lsn"]), int(r["commit_idx"]))
                    g = None if msg["group_id"] is None else msg["group_id"]
                    delivered.append((g, *key))
                    id_to_row[msg["ack_id"]] = key
                    assert key not in confirmed or key in dup_possible, (
                        f"seed {seed}: confirmed ack resurrected {key}")
            leases.extend(got)
        elif leases and op < 0.9:
            take = [leases.pop(rng.randrange(len(leases)))
                    for _ in range(min(len(leases), rng.choice([1, 3])))]
            ids = [m["ack_id"] for m in take]
            if rng.random() < 0.3:
                q.nack(ids)
                continue
            orig = maybe_fault("_log_acks")  # crash inside the ack window
            try:
                q.ack(ids)
                confirmed.update(id_to_row[i] for i in ids
                                 if i in id_to_row)
            except OSError:
                pass  # unconfirmed: redelivery after restart is legal
            finally:
                if orig:
                    PullQueue._log_acks = orig
                    q = crash()
                    leases = []
        else:
            q = crash()  # plain restart: leases lost, state reloaded
            leases = []

    # drain: everything still queued gets delivered + acked
    for _ in range(400):
        if not pending_ingest and q.depth() == 0:
            break
        if pending_ingest:
            chunk = pending_ingest[:20]
            q.ingest(_rows_df(spark, chunk))
            pending_ingest = pending_ingest[20:]
        got = q.receive(batch_size=10)
        for msg in got:
            row = q._messages[q._messages["ack_id"] == msg["ack_id"]]
            if len(row):
                r = row.iloc[0]
                key = (int(r["commit_lsn"]), int(r["commit_idx"]))
                g = None if msg["group_id"] is None else msg["group_id"]
                delivered.append((g, *key))
                assert key not in confirmed or key in dup_possible, (
                    f"seed {seed}: confirmed ack resurrected {key}")
                id_to_row[msg["ack_id"]] = key
        if got:
            q.ack([m["ack_id"] for m in got])
            confirmed.update(id_to_row[m["ack_id"]] for m in got
                             if m["ack_id"] in id_to_row)
        import time as _t

        _t.sleep(0.01)  # let stale leases expire

    # 4: no lost row
    assert q.depth() == 0, f"seed {seed}: {q.depth()} rows stranded"
    want = {(lsn, idx) for _, lsn, idx, _ in all_rows}
    got_keys = {(lsn, idx) for _, lsn, idx in delivered}
    assert got_keys == want, (
        f"seed {seed}: lost {sorted(want - got_keys)[:5]}")
    # 6: per-group first-delivery order monotone (dups collapsed)
    first: dict = {}
    for g, lsn, idx in delivered:
        first.setdefault((g, lsn, idx), len(first))
    by_group: dict = {}
    for (g, lsn, idx), order in sorted(first.items(), key=lambda kv: kv[1]):
        if g is not None:
            by_group.setdefault(g, []).append((lsn, idx))
    for g, cursors in by_group.items():
        assert cursors == sorted(cursors), (
            f"seed {seed}: group {g} out of order: {cursors}")


@pytest.mark.parametrize("seed", range(400, 408))
def test_chaos_pull_queue(spark, tmp_path, seed):
    _run_pull_seed(spark, tmp_path, seed)


# ---------------------------------------------------------------------------
# ledger-trim horizon-edge chaos
#
# The claim under test: with a trim window of H = ledger_trim_batches
# batches, a replay up to H-1 batches deep still finds every identity
# on disk (a restarted stream replays only its last uncommitted batch,
# well inside the window).  The hazard the window must close: ledger
# COMPACTION after a batch physically deletes identities below the
# trim watermark — if a restart then replays a batch whose identities
# were already trimmed from disk, the ledger cannot dedupe them and
# they redeliver.  The seed drives the edge directly: advance the
# watermark far enough that compaction has physically trimmed, restart
# into a fresh engine (watermark resets to 0, exactly like a real
# restart), replay at the MAXIMUM depth while new batches are
# delivered, and assert the soak invariants.  A final negative probe
# replays one batch BEYOND the physically-surviving window and asserts
# the checker detects exactly its identities as duplicates — proof the
# seed can see the loss it guards against.


def _soak_log_invariants(log_dir):
    """The soak checker's four invariants over a chaos_soak log dir,
    returned as (per_identity_counts, problems)."""
    import glob as _glob
    import json as _json
    import os as _os

    first_seen: dict[str, list[tuple]] = {}
    counts: dict[tuple, int] = {}
    partials: set[tuple] = set()
    for fp in sorted(_glob.glob(_os.path.join(log_dir, "part-*.jsonl"))):
        with open(fp) as f:
            for line in f:
                e = _json.loads(line)
                ident = (e["commit_lsn"], e["commit_idx"],
                         e["idempotency_key"])
                if e.get("partial"):
                    partials.add(ident)
                if ident not in counts:
                    first_seen.setdefault(e["group_id"], []).append(
                        (e["commit_lsn"], e["commit_idx"]))
                counts[ident] = counts.get(ident, 0) + 1
    problems = []
    for g, seq in first_seen.items():
        if seq != sorted(seq):
            problems.append(f"group {g} out of order: {seq}")
    dups = {i for i, c in counts.items() if c > 1 and i not in partials}
    return counts, partials, dups, problems


def _mk_batch(spark, bid, groups=3):
    rows = [(f"g{g}", 100 + bid, g, f"k-{bid}-{g}", f"g{g}",
             '{"n":%d}' % bid) for g in range(groups)]
    return spark.createDataFrame(
        rows, "group_id string, commit_lsn long, commit_idx long, "
              "idempotency_key string, key string, value string")


@pytest.mark.parametrize("seed", [0, 1])
def test_chaos_ledger_trim_horizon(spark, tmp_path, seed):
    """A restarted engine replays the last horizon-1 batches against the
    ledger its predecessor trimmed and compacted: every replay inside
    the window is suppressed, and one batch past it redelivers."""
    from sequin_spark.streaming.delivery import DeliveryEngine

    rng = random.Random(seed)
    horizon = rng.choice([4, 5])          # ledger_trim_batches
    total = horizon + rng.randint(4, 6)
    state = str(tmp_path / "state")
    log_dir = str(tmp_path / "log")
    att_dir = str(tmp_path / "att")

    def engine():
        return DeliveryEngine(
            "chaos_soak",
            sink_config={"log_dir": log_dir, "attempt_dir": att_dir,
                         "seed": seed, "fail_permille": 0},
            state_dir=state,
            ledger_trim_batches=horizon, ledger_compact_files=1,
            partition_count=2)

    # incarnation A: enough batches that the watermark advanced and
    # ledger compaction physically trimmed the oldest identities
    a = engine()
    for bid in range(1, total + 1):
        stats = a.process_batch(_mk_batch(spark, bid), bid)
        assert stats["delivered"] == 3
    assert a._ledger_trim_lsn > 0      # the trim actually engaged

    # restart: fresh engine, watermark 0 — read what PHYSICALLY
    # survived A's compactions
    b = engine()
    survivors = {int(r) for r in
                 b.read_ledger(spark).toPandas()["commit_lsn"]}
    dropped = [bid for bid in range(1, total + 1)
               if 100 + bid not in survivors]
    assert dropped, "compaction never physically trimmed — seed inert"

    # the trim horizon's guarantee: every batch inside the replay
    # window (H-1 deep) is still on disk
    replay_depth = horizon - 1
    replay_bids = list(range(total - replay_depth + 1, total + 1))
    assert all(100 + bid in survivors for bid in replay_bids), (
        f"replay window {replay_bids} not covered by surviving ledger "
        f"(trim horizon too narrow): survivors={sorted(survivors)}")

    # replay at the edge, interleaved with new batches so B's ledger
    # compaction re-runs DURING the replay
    next_bid = total + 1
    for i, bid in enumerate(replay_bids):
        stats = b.process_batch(_mk_batch(spark, bid), 1000 + bid)
        assert stats["delivered"] == 0, (
            f"replayed batch {bid} redelivered at the horizon edge")
        if i % 2 == rng.randint(0, 1):
            assert b.process_batch(
                _mk_batch(spark, next_bid), next_bid)["delivered"] == 3
            next_bid += 1
    while next_bid <= total + 3:
        assert b.process_batch(
            _mk_batch(spark, next_bid), next_bid)["delivered"] == 3
        next_bid += 1

    counts, partials, dups, problems = _soak_log_invariants(log_dir)
    assert not problems, problems       # per-group order
    assert not dups                     # exactly-once through the edge
    expected = {(100 + bid, g) for bid in range(1, next_bid)
                for g in range(3)}
    got = {(lsn, idx) for (lsn, idx, _k) in counts}
    assert got == expected              # contiguous / nothing lost
    ledger_lsns = {int(r) for r in
                   b.read_ledger(spark).toPandas()["commit_lsn"]}
    assert ledger_lsns <= {lsn for lsn, _ in got}   # ledger ⊆ delivered

    # negative probe: a batch beyond the surviving window MUST
    # redeliver, and the checker must see exactly its identities —
    # the seed can detect the loss it guards against
    lost_bid = dropped[-1]
    assert b.process_batch(
        _mk_batch(spark, lost_bid), 2000)["delivered"] == 3
    _c, _p, dups2, _pr = _soak_log_invariants(log_dir)
    assert {(lsn, idx) for (lsn, idx, _k) in dups2} == {
        (100 + lost_bid, g) for g in range(3)}
