"""Independent delivery checker.

Expected deliveries come from the generator's own events, run through
the consumer semantics restated in ``consumers.expected`` (plain Python,
no engine code).  The receiver log is then replayed in arrival order; a
delivery fails when it is

* ``missing``    — expected but never received,
* ``duplicate``  — received more than once,
* ``unexpected`` — received but not expected (or not identifiable),
* ``reordered``  — received after a later event of its group (row id),
* ``wrong``      — received with a payload or path other than expected.

``check`` returns the failure counts, the number of expected
deliveries, and each correct delivery's latency, per stream: arrival
time minus the event's due time (the transaction's commit timestamp for
WAL workloads, the cycle start for backfills).
"""

from __future__ import annotations

import base64
import json
import math
from datetime import datetime

import consumers as cs
from workload import TABLE_NAME, TABLE_SCHEMA

KINDS = ("missing", "duplicate", "unexpected", "reordered", "wrong")


def _identity(kind: str, e: dict):
    if kind == "default":
        return ("lsn", e["lsn"], e["idx"])
    if kind == "record":
        return ("seq", e["record"]["seq"])
    return ("seq", e["record"]["seq"], e["action"])


def _payload_identity(kind: str, p):
    if not isinstance(p, dict):
        return None
    try:
        if kind == "default":
            m = p["metadata"]
            return ("lsn", int(m["commit_lsn"]), int(m["commit_idx"]))
        if kind == "record":
            return ("seq", p["seq"])
        return ("seq", p["seq"], p["action"])
    except (KeyError, TypeError, ValueError):
        return None


def _ts(value) -> float:
    s = str(value).replace("Z", "+00:00")
    return datetime.fromisoformat(s).timestamp()


def _default_ok(p: dict, e: dict, consumer: str) -> bool:
    m = p.get("metadata") or {}
    changes = e["changes"]
    key = base64.b64encode(f"{e['lsn']}:{e['idx']}".encode()).decode()
    try:
        ts_ok = abs(_ts(m.get("commit_timestamp")) - e["ts"]) < 1e-3
    except (TypeError, ValueError):
        ts_ok = False
    return (p.get("record") == e["record"]
            and p.get("action") == e["action"]
            and p.get("changes") == changes
            and m.get("table_schema") == TABLE_SCHEMA
            and m.get("table_name") == TABLE_NAME
            and m.get("idempotency_key") == key
            and m.get("record_pks") == [e["record"]["id"]]
            and (m.get("consumer") or {}).get("name") == consumer
            and ts_ok)


def _summary_ok(p: dict, want: dict) -> bool:
    if set(p) != set(want):
        return False
    for k, v in want.items():
        if isinstance(v, float):
            got = p[k]
            if not isinstance(got, (int, float)) or not math.isclose(
                    got, v, rel_tol=1e-12, abs_tol=1e-9):
                return False
        elif p[k] != v:
            return False
    return True


def items_of(body: str) -> list:
    """A webhook body: one payload, or ``{"data": [...]}`` for a batch."""
    obj = json.loads(body)
    if isinstance(obj, dict) and set(obj) == {"data"} and isinstance(
            obj["data"], list):
        return obj["data"]
    return [obj]


def check(requests: list, streams: dict, measure_from=None) -> dict:
    """``requests``: receiver log ``[arrival, path, conn, body]`` in
    arrival order.  ``streams``: path prefix → ``(consumer name, events,
    due offset)``; each event's due time is ``e["ts"]`` or, when the
    offset is not None, the offset itself.  Latency is kept for events
    due at or after ``measure_from`` (all when None)."""
    fails = dict.fromkeys(KINDS, 0)
    expected: dict[str, dict] = {}
    attempted = 0
    for prefix, (name, events, due) in streams.items():
        index = {}
        for e in events:
            want = cs.expected(name, e)
            if want is None:
                continue
            suffix, kind, payload = want
            index[_identity(kind, e)] = (e, suffix, kind, payload)
        expected[prefix] = {"name": name, "index": index, "seen": set(),
                            "last": {}, "due": due, "lat": [],
                            "kinds": {v[2] for v in index.values()}}
        attempted += len(index)
    prefixes = sorted(expected, key=len, reverse=True)
    items = 0
    for arrival, path, _conn, body in requests:
        prefix = next((p for p in prefixes if path.startswith(p)), None)
        try:
            payloads = items_of(body)
        except ValueError:
            fails["unexpected"] += 1
            continue
        items += len(payloads)
        if prefix is None:
            fails["unexpected"] += len(payloads)
            continue
        st = expected[prefix]
        suffix_got = path[len(prefix):]
        for p in payloads:
            hit = None
            for kind in st["kinds"]:
                ident = _payload_identity(kind, p)
                if ident is not None and ident in st["index"]:
                    hit = ident
                    break
            if hit is None:
                fails["unexpected"] += 1
                continue
            e, suffix, kind, want = st["index"][hit]
            if hit in st["seen"]:
                fails["duplicate"] += 1
                continue
            st["seen"].add(hit)
            ok = suffix_got == suffix and (
                _default_ok(p, e, st["name"]) if kind == "default"
                else p == want if kind == "record"
                else _summary_ok(p, want))
            if not ok:
                fails["wrong"] += 1
                continue
            group = e["record"]["id"]
            pos = (e["lsn"], e["idx"])
            if group in st["last"] and st["last"][group] >= pos:
                fails["reordered"] += 1
                continue
            st["last"][group] = pos
            due = e["ts"] if st["due"] is None else st["due"]
            if measure_from is None or due >= measure_from:
                st["lat"].append((arrival - due) * 1000)
    for st in expected.values():
        fails["missing"] += len(st["index"]) - len(st["seen"])
    by_stream = {p: st["lat"] for p, st in expected.items()}
    return {"attempted": attempted, "failed": sum(fails.values()),
            "fails": fails, "latencies_by_stream": by_stream,
            "latencies_ms": [x for v in by_stream.values() for x in v],
            "items": items}
