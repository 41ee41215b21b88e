"""Ingest process: ``run_supervised`` against the fake walsender, writing
the CDC-log directory — one process per slot, as the engine documents.

Every ingest knob is left at its shipped default.  SIGTERM stops the
loop; the worker drains and flushes on its way out.

Traced (``--trace-file``): spans around ``pgoutput.decode`` (as bound in
``sources.replication``), ``EventFolder.push`` and
``ReplicationIngestWorker.flush``, summarised at exit.

Run: ``python3 perfbench/ingest.py --port P --log-dir D``.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from sequin_spark.sources import replication  # noqa: E402
from sequin_spark.sources.pgoutput import EventFolder  # noqa: E402

from loadgen import PASSWORD  # noqa: E402


def install_trace(spans) -> None:
    spans.wrap(replication, "decode", "decode")
    spans.wrap(EventFolder, "push", "fold")
    inner_flush = replication.ReplicationIngestWorker.flush

    def flush(worker):
        # commit times of the buffered events, read before flush empties
        # the buffer; a file is visible once flush returns
        commit_ts = [e["commit_timestamp"].timestamp()
                     for e in worker._committed]
        t0 = time.perf_counter()
        result = inner_flush(worker)
        t1 = time.perf_counter()
        if result is not None:
            spans.add("flush", t0, t1, {"events": len(commit_ts)})
            visible = spans.unix(t1)
            spans.spans.setdefault("lag", []).extend(
                (visible - ts) * 1000 for ts in commit_ts)
        return result

    replication.ReplicationIngestWorker.flush = flush


def summarise(spans) -> dict:
    from tracing import percentile

    flushes = spans.spans.get("flush", [])
    events = sum(x["events"] for _, _, x in flushes)
    decode = spans.spans.get("decode", [])
    busy = (spans.total("decode") + spans.total("fold")
            + spans.total("flush"))
    first = decode[0][0] if decode else 0.0
    last = flushes[-1][1] if flushes else first
    window = last - first
    return {
        "events": events,
        "decode_us_per_event": ((spans.total("decode") + spans.total("fold"))
                                / events * 1e6 if events else 0.0),
        "flush_ms_p50": percentile(spans.durations_ms("flush"), 50),
        "files": len(flushes),
        "events_per_file": events / len(flushes) if flushes else 0.0,
        "busy_frac": busy / window if window > 0 else 0.0,
        "lag_ms_p50": percentile(spans.spans.get("lag", []), 50),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="benchmark ingest process")
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--log-dir", required=True)
    ap.add_argument("--trace-file")
    args = ap.parse_args(argv)

    spans = None
    if args.trace_file:
        from tracing import Spans

        spans = Spans()
        install_trace(spans)

    stop = {"flag": False}

    def on_term(signum, frame):
        stop["flag"] = True

    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)

    def factory():
        return replication.ReplicationClient(
            "127.0.0.1", args.port, user="bench", database="postgres",
            password=PASSWORD)

    replication.run_supervised(
        factory, args.log_dir, slot_name="bench_slot",
        publication="bench_pub", stop_when=lambda: stop["flag"])
    if spans is not None:
        spans.dump(args.trace_file, summarise(spans))
    return 0


if __name__ == "__main__":
    sys.exit(main())
