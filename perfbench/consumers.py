"""The benchmark's consumer specs, as the sequin YAML the engine applies,
and the same filters/transforms/routing restated in plain Python for the
checker.

``fan_default``  default transform, the sink's default batch size (1)
``fan_inserts``  inserts only, a column filter, ``record_only``, batch 100
``fan_minipy``   MiniPy filter + MiniPy transform, batch 100
``fan_routed``   MiniPy routing over 4 endpoint paths, batch 100
``heavy``        ``fan_minipy``'s filter and transform plus
                 ``fan_routed``'s routing, batch 100 (backfill)

Every consumer posts to ``<receiver>/<name>``; routing appends
``/shard-<id % 4>``.
"""

from __future__ import annotations

import json

FILTER = 'record["status"] != "cancelled"'
TRANSFORM = ('JSON.encode({"id": record["id"], "seq": record["seq"], '
             '"action": action, "status": upper(record["status"]), '
             '"cents": float(record["amount"]) * 100})')
ROUTING = '{"endpoint_path": "/shard-" + str(int(record["id"]) % 4)}'
AMOUNT_MIN = 50

FANOUT = ("fan_default", "fan_inserts", "fan_minipy", "fan_routed")
HEAVY = ("heavy",)


def yaml_for(names, receiver_url: str) -> str:
    """The YAML document for ``names``; functions are declared once and
    referenced by name, as users write them."""
    consumers = {
        "fan_default": {},
        "fan_inserts": {
            "actions": ["insert"],
            "column_filters": [{"column": "amount", "operator": ">",
                                "value": AMOUNT_MIN,
                                "value_type": "number"}],
            "transform": "record_only",
            "batch_size": 100,
        },
        "fan_minipy": {"filter": "not_cancelled", "transform": "summary",
                       "batch_size": 100},
        "fan_routed": {"routing": "by_shard", "batch_size": 100},
        "heavy": {"filter": "not_cancelled", "transform": "summary",
                  "routing": "by_shard", "batch_size": 100},
    }
    doc = {
        "functions": [
            {"name": "not_cancelled", "type": "filter", "code": FILTER},
            {"name": "summary", "type": "transform", "code": TRANSFORM},
            {"name": "by_shard", "type": "routing", "code": ROUTING},
        ],
        "consumers": [
            {"name": n, "sink_type": "http_push",
             "sink_config": {"url": f"{receiver_url}/{n}"},
             **consumers[n]}
            for n in names
        ],
    }
    # JSON is YAML; it keeps the document free of quoting surprises
    return json.dumps(doc, indent=1)


# --- the same semantics in plain Python ------------------------------------

def _summary(e: dict) -> dict:
    r = e["record"]
    return {"id": r["id"], "seq": r["seq"], "action": e["action"],
            "status": r["status"].upper(), "cents": float(r["amount"]) * 100}


def expected(name: str, e: dict):
    """(path suffix, payload kind, expected payload) for event ``e``
    under consumer ``name``, or None when the consumer drops it."""
    r = e["record"]
    shard = f"/shard-{int(r['id']) % 4}"
    if name == "fan_default":
        return "", "default", None
    if name == "fan_inserts":
        if e["action"] != "insert" or not float(r["amount"]) > AMOUNT_MIN:
            return None
        return "", "record", dict(r)
    if r["status"] == "cancelled":
        if name in ("fan_minipy", "heavy"):
            return None
    if name == "fan_minipy":
        return "", "summary", _summary(e)
    if name == "fan_routed":
        return shard, "default", None
    if name == "heavy":
        return shard, "summary", _summary(e)
    raise ValueError(f"unknown consumer {name!r}")
