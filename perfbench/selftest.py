"""Self-tests of the benchmark's own parts; no Spark needed.

    python3 perfbench/selftest.py

* round trip: the engine's public ``pgoutput.decode`` + ``EventFolder``
  reproduce the generator's events from its encoded frames;
* checker: a synthetic, correct receiver log passes, and a dropped,
  duplicated, reordered or corrupted delivery is each caught.
"""

from __future__ import annotations

import base64
import copy
import json
import os
import sys
import unittest
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import consumers as cs  # noqa: E402
from checker import check  # noqa: E402
from loadgen import relation_frame, txn_frames  # noqa: E402
from workload import TABLE_NAME, TABLE_SCHEMA, Model  # noqa: E402

T0 = 1_790_000_000.0


def make_events(seed: int, n_txns: int) -> list[dict]:
    model = Model(seed)
    txns = [model.txn(T0 + k * 0.008) for k in range(n_txns)]
    return txns, [e for t in txns for e in t["events"]]


class RoundTrip(unittest.TestCase):
    def test_decode_and_fold_reproduce_generator_events(self):
        from sequin_spark.sources.pgoutput import EventFolder, decode

        txns, events = make_events(seed=7, n_txns=200)
        folder = EventFolder()
        got = folder.push(decode(relation_frame()))
        for t in txns:
            for frame in txn_frames(t):
                got.extend(folder.push(decode(frame)))
        self.assertEqual(len(got), len(events))
        for g, e in zip(got, events):
            self.assertEqual(g["action"], e["action"])
            self.assertEqual(g["record"], e["record"])
            self.assertEqual(g["changes"], e["changes"])
            self.assertEqual((g["commit_lsn"], g["commit_idx"]),
                             (e["lsn"], e["idx"]))
            self.assertEqual((g["table_schema"], g["table_name"]),
                             (TABLE_SCHEMA, TABLE_NAME))
            self.assertEqual(g["record_pks"], [e["record"]["id"]])
            self.assertAlmostEqual(g["commit_timestamp"].timestamp(),
                                   e["ts"], delta=1e-6)
        actions = {e["action"] for e in events}
        self.assertEqual(actions, {"insert", "update", "delete"})


def render(name: str, e: dict) -> dict:
    """The payload the engine would post for ``e`` (as the checker
    expects it, written out independently)."""
    _, kind, payload = cs.expected(name, e)
    if kind != "default":
        return payload
    ts = datetime.fromtimestamp(e["ts"], tz=timezone.utc)
    out = {"record": e["record"], "action": e["action"], "metadata": {
        "table_schema": TABLE_SCHEMA, "table_name": TABLE_NAME,
        "commit_timestamp": ts.isoformat(timespec="milliseconds"),
        "commit_lsn": e["lsn"], "commit_idx": e["idx"],
        "database_name": "postgres",
        "idempotency_key": base64.b64encode(
            f"{e['lsn']}:{e['idx']}".encode()).decode(),
        "record_pks": [e["record"]["id"]],
        "consumer": {"id": name, "name": name}}}
    if e["changes"] is not None:
        out["changes"] = e["changes"]
    return out


def receiver_log(events: list[dict], names, batch: int = 5) -> list:
    """Deliveries in order, ``batch`` per request, as [arrival, path,
    connection, body]."""
    log = []
    for name in names:
        pending: list = []
        for e in events:
            want = cs.expected(name, e)
            if want is None:
                continue
            path = f"/{name}{want[0]}"
            if pending and (len(pending) == batch or pending[0][0] != path):
                log.append(pending)
                pending = []
            pending.append((path, render(name, e), e["ts"] + 0.5))
        if pending:
            log.append(pending)
    out = []
    for chunk in log:
        body = (chunk[0][1] if len(chunk) == 1
                else {"data": [p for _, p, _ in chunk]})
        out.append([chunk[-1][2], chunk[0][0], len(out),
                    json.dumps(body)])
    return out


class Checker(unittest.TestCase):
    names = cs.FANOUT + cs.HEAVY

    def setUp(self):
        _, self.events = make_events(seed=3, n_txns=60)
        self.streams = {f"/{n}": (n, self.events, None) for n in self.names}
        self.log = receiver_log(self.events, self.names)

    def run_check(self, log):
        return check(log, self.streams)

    def body(self, i):
        return json.loads(self.log[i][3])

    def first_batch_of(self, name):
        for i, r in enumerate(self.log):
            if r[1].startswith(f"/{name}") and "data" in self.body(i):
                return i
        raise AssertionError(f"no batched request for {name}")

    def test_clean_log_passes(self):
        res = self.run_check(self.log)
        self.assertEqual(res["failed"], 0, res["fails"])
        self.assertEqual(res["attempted"], len(res["latencies_ms"]))
        # a request arrives 0.5 s after its last event was due
        self.assertTrue(all(x >= 500 - 1e-3 for x in res["latencies_ms"]))

    def test_drop_is_caught(self):
        log = copy.deepcopy(self.log)
        i = self.first_batch_of("fan_default")
        del log[i]
        res = self.run_check(log)
        self.assertGreaterEqual(res["fails"]["missing"], 1, res["fails"])

    def test_duplicate_is_caught(self):
        log = copy.deepcopy(self.log)
        i = self.first_batch_of("fan_minipy")
        log.insert(i + 1, list(log[i]))
        res = self.run_check(log)
        self.assertGreaterEqual(res["fails"]["duplicate"], 1, res["fails"])

    def test_reorder_within_a_group_is_caught(self):
        # two deliveries of one row id, swapped
        by_id: dict = {}
        for i, r in enumerate(self.log):
            if r[1] != "/fan_default":
                continue
            for p in (self.body(i).get("data") or [self.body(i)]):
                by_id.setdefault(p["record"]["id"], []).append(i)
        i, j = next(v[:2] for v in by_id.values()
                    if len(v) >= 2 and v[0] != v[1])
        log = copy.deepcopy(self.log)
        log[i], log[j] = log[j], log[i]
        res = self.run_check(log)
        self.assertGreaterEqual(res["fails"]["reordered"], 1, res["fails"])

    def test_corrupted_payload_is_caught(self):
        for name, field in (("fan_default", "action"),
                            ("fan_inserts", "amount"),
                            ("heavy", "status")):
            log = copy.deepcopy(self.log)
            i = self.first_batch_of(name)
            body = self.body(i)
            body["data"][0][field] = "tampered"
            log[i][3] = json.dumps(body)
            res = self.run_check(log)
            self.assertEqual(res["fails"]["wrong"], 1, (name, res["fails"]))

    def test_wrong_route_is_caught(self):
        log = copy.deepcopy(self.log)
        i = self.first_batch_of("heavy")
        log[i][1] = "/heavy/shard-9"
        res = self.run_check(log)
        self.assertGreaterEqual(res["fails"]["wrong"], 1, res["fails"])


if __name__ == "__main__":
    unittest.main()
