"""In-memory spans around public entry points of the engine.

Only the benchmark's own files install these wrappers, and only in a
traced run (``--trace 1``); an untraced run never imports this module.
Spans are kept in lists and written out once, when the process exits.
"""

from __future__ import annotations

import functools
import json
import os
import time


class Spans:
    def __init__(self):
        # name -> list of (start, end, extra dict or None); perf_counter
        # clock, plus one unix anchor so spans can be related across
        # processes
        self.spans: dict[str, list] = {}
        self.anchor = (time.time(), time.perf_counter())

    def add(self, name: str, start: float, end: float, extra=None) -> None:
        self.spans.setdefault(name, []).append((start, end, extra))

    def unix(self, perf_t: float) -> float:
        return self.anchor[0] + (perf_t - self.anchor[1])

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a timed wrapper."""
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            result = inner(*args, **kwargs)
            t1 = time.perf_counter()
            self.add(name, t0, t1)
            return result

        setattr(owner, attr, timed)

    def total(self, name: str) -> float:
        return sum(e - s for s, e, _ in self.spans.get(name, ()))

    def durations_ms(self, name: str) -> list[float]:
        return [(e - s) * 1000 for s, e, _ in self.spans.get(name, ())]

    def dump(self, path: str, summary: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(summary, f)
        os.replace(tmp, path)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))
    return float(s[k])
