"""End-to-end CDC benchmark: WAL replay → supervised consumers → webhook.

    python3 perfbench/run.py --workload wal_fanout --seed 1 --seconds 12 \
        --trace 0

Three processes keep the load apart from the system under test:

* load   — ``loadgen.py``: seeded pgoutput generator behind a fake
           walsender, and a single-threaded HTTP receiver;
* ingest — ``ingest.py``: ``run_supervised`` writing the CDC log
           (``wal_fanout`` only);
* engine — ``engine.py``: ``ConfigRegistry.apply`` + a
           ``ConsumerSupervisor`` over the CDC log, or ``run_backfill`` +
           ``ConsumerPipeline.run_batch``.  Its cold start is timed from
           process launch until every consumer runs.

Workloads (sizes in ``workload.py``):

* ``wal_fanout``    open loop, ``FANOUT_RATE`` events/s for ``--seconds``,
                    four webhook consumers with different specs;
* ``backfill_bulk`` a ``BACKFILL_ROWS``-row parquet table (written during
                    set-up) backfilled and delivered by the heavy
                    consumer: ``WARM_CYCLES`` untimed cycles, then timed
                    ones for ``--seconds``, at least ``MIN_CYCLES``.

The last line of standard output is one JSON object: ``correct``,
``attempted`` (expected deliveries), ``failed`` (missing, duplicated,
unexpected, reordered or wrong deliveries) and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics (spans,
Spark listener phases, job counts, /proc CPU) with ``--trace 1``.
Scratch files go to ``.perfbench_work/`` under the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import consumers as cs  # noqa: E402
from tracing import percentile  # noqa: E402

DEADLINE_S = 170.0  # the whole run, set-up and checks included
GEN_LATE_LIMIT_MS = 100.0
DRIVER_MEMORY = "2g"

WORKLOADS = {
    "wal_fanout": {"load": "open", "consumers": cs.FANOUT},
    "backfill_bulk": {"load": "receiver", "consumers": cs.HEAVY},
}

E2E_UNITS = {"setup_s": "s", "lat_p50_ms": "ms", "lat_p99_ms": "ms",
             "delivered_eps": "1/s", "peak_rss_mb": "MB"}


class BenchError(RuntimeError):
    pass


class Run:
    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.t_start = time.monotonic()
        self.work = os.path.join(
            os.getcwd(), ".perfbench_work",
            f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.ctl = os.path.join(self.work, "ctl")
        self.log_dir = os.path.join(self.work, "cdc_log")
        for d in (self.ctl, self.log_dir, os.path.join(self.work, "tmp")):
            os.makedirs(d)
        self.procs: dict[str, subprocess.Popen] = {}
        # (phase, seconds since start), for the diagnostic line
        self.marks: list[tuple[str, float]] = []
        self.env = dict(os.environ)
        tmp = os.path.join(self.work, "tmp")
        self.env.update({
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # a fixed-size, pre-touched heap (as servers run it) keeps the
            # JVM's resident size from tracking when GC happens to run
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.driver.defaultJavaOptions="
                f"'-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch' pyspark-shell"),
            "PYSPARK_PYTHON": sys.executable,
            # the engine's heap, sized for a small shared host
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            # the engine's Python workers import the package too
            "PYTHONPATH": os.pathsep.join(
                [REPO, HERE] + ([os.environ["PYTHONPATH"]]
                                if os.environ.get("PYTHONPATH") else [])),
            "PYTHONDONTWRITEBYTECODE": "1",
        })

    # --- processes ---------------------------------------------------------
    def mark(self, phase: str) -> None:
        self.marks.append((phase, round(time.monotonic() - self.t_start, 2)))

    def remaining(self) -> float:
        return DEADLINE_S - (time.monotonic() - self.t_start)

    def spawn(self, role: str, argv: list[str]) -> subprocess.Popen:
        log = open(os.path.join(self.work, f"{role}.log"), "w")
        p = subprocess.Popen([sys.executable, *argv], cwd=self.work,
                             env=self.env, stdout=log,
                             stderr=subprocess.STDOUT)
        log.close()
        self.procs[role] = p
        return p

    def wait_for(self, what: str, pred, timeout: float, poll=0.02):
        end = time.monotonic() + min(timeout, self.remaining())
        while time.monotonic() < end:
            v = pred()
            if v:
                return v
            for role, p in self.procs.items():
                if p.poll() not in (None, 0):
                    raise BenchError(f"{role} exited with {p.returncode} "
                                     f"while waiting for {what}")
            time.sleep(poll)
        raise BenchError(f"timed out waiting for {what}")

    def stop_all(self) -> None:
        for p in self.procs.values():
            if p.poll() is None:
                p.kill()
        for p in self.procs.values():
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                pass

    def ctl_http(self, path: str) -> dict:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{self.ports['http']}{path}",
                data=b"" if path != "/_ctl/status" else None,
                timeout=10) as r:
            return json.loads(r.read())

    @staticmethod
    def read_json(path: str):
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    # --- the run -----------------------------------------------------------
    def run(self) -> dict:
        from procstat import Sampler

        a = self.args
        trace = a.trace == 1
        sampler = Sampler()
        self.sampler = sampler
        ports_file = os.path.join(self.ctl, "ports.json")
        load_out = os.path.join(self.work, "load_out.json")
        load = self.spawn("load", [
            os.path.join(HERE, "loadgen.py"), "--mode", self.spec["load"],
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--ports-file", ports_file, "--out-file", load_out])
        sampler.watch(load.pid, "load")
        sampler.start()
        self.ports = self.wait_for(
            "load ports", lambda: self.read_json(ports_file), 30)
        receiver = f"http://127.0.0.1:{self.ports['http']}"
        stream = self.spec["load"] == "open"
        table_rows = None
        if stream:
            ingest_argv = [os.path.join(HERE, "ingest.py"),
                           "--port", str(self.ports["wal"]),
                           "--log-dir", self.log_dir]
            if trace:
                ingest_argv += ["--trace-file",
                                os.path.join(self.work, "ingest_trace.json")]
            sampler.watch(self.spawn("ingest", ingest_argv).pid, "ingest")
            self.wait_for("ingest streaming",
                          lambda: self.ctl_http("/_ctl/status")["streaming"],
                          60, poll=0.05)
        else:
            table_rows = self.write_table()
        engine_argv = [
            os.path.join(HERE, "engine.py"),
            "stream" if stream else "backfill",
            "--consumers", ",".join(self.spec["consumers"]),
            "--receiver-url", receiver, "--log-dir", self.log_dir,
            "--table-path", os.path.join(self.work, "table"),
            "--seconds", str(a.seconds)]
        if trace:
            engine_argv.append("--trace")
        setup = self.start_engine(engine_argv)
        engine_ctl = setup["ctl"]
        self.mark("set-up")

        if stream:
            # a few transactions through every consumer first, so the
            # measured events meet warm Python workers and compiled plans
            self.ctl_http("/_ctl/warm")
            warm = self.wait_for(
                "warm-up events",
                lambda: self.ctl_http("/_ctl/status")["events"], 10)
            self.wait_for("warm-up delivery",
                          lambda: self.consumed(engine_ctl, warm), 60)
            self.mark("warm-up")
            self.fanout(engine_ctl)
            self.mark("load")
            open(os.path.join(engine_ctl, "stop"), "w").close()
        summary_file = os.path.join(engine_ctl, "summary.json")
        self.wait_for("engine summary", lambda: self.read_json(summary_file),
                      90, poll=0.05)
        self.mark("engine summary")
        self.wait_for("engine exit",
                      lambda: self.procs["engine"].poll() is not None, 30)
        if "ingest" in self.procs:
            self.procs["ingest"].send_signal(signal.SIGTERM)
            self.wait_for("ingest exit",
                          lambda: self.procs["ingest"].poll() is not None, 30)
        self.ctl_http("/_ctl/finish")
        self.wait_for("load exit", lambda: load.poll() is not None, 30)
        sampler.stop()
        self.mark("exits")
        for role, p in self.procs.items():
            if p.returncode != 0:
                raise BenchError(f"{role} exited with {p.returncode}")
        summary = self.read_json(summary_file)
        out = self.read_json(load_out)
        return self.evaluate(summary, setup, out, table_rows)

    def start_engine(self, argv: list[str]) -> dict:
        """Launch the engine and time its cold start: from process launch
        until it reports every consumer running."""
        work = os.path.join(self.work, "engine")
        ctl = os.path.join(work, "ctl")
        os.makedirs(ctl)
        t0 = time.time()
        p = self.spawn("engine", argv + ["--work-dir", work, "--ctl-dir", ctl])
        self.sampler.watch(p.pid, "engine")
        ready = self.wait_for(
            "engine set-up",
            lambda: self.read_json(os.path.join(ctl, "ready.json")),
            90, poll=0.01)
        return {"setup_s": ready["ready_t"] - t0,
                "apply_ms": ready["apply_ms"],
                "reconcile_ms": ready.get("reconcile_ms", 0.0), "ctl": ctl}

    def consumed(self, ctl: str, n_events: int) -> bool:
        rows = self.read_json(os.path.join(ctl, "status.json")) or {}
        return bool(rows) and all(v >= n_events for v in rows.values())

    def fanout(self, ctl: str) -> None:
        self.ctl_http("/_ctl/go")
        st = self.wait_for(
            "generation", lambda: (lambda s: s if s["gen_done"] else None)(
                self.ctl_http("/_ctl/status")),
            self.args.seconds + 30, poll=0.1)
        self.wait_for("fan-out drain",
                      lambda: self.consumed(ctl, st["events"]), 90)

    def write_table(self) -> list[dict]:
        """The backfill source: a seeded parquet table of BACKFILL_ROWS
        rows, ``id`` int64, other columns text."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from workload import BACKFILL_ROWS, COLUMN_NAMES, Model

        rows = Model(self.args.seed).snapshot(BACKFILL_ROWS)
        cols = {c: [r[c] for r in rows] for c in COLUMN_NAMES}
        cols["id"] = pa.array([int(v) for v in cols["id"]], pa.int64())
        path = os.path.join(self.work, "table")
        os.makedirs(path)
        # a few files, as a table dump would leave
        table = pa.table(cols)
        step = len(rows) // 4
        for i in range(4):
            pq.write_table(table.slice(i * step, step if i < 3 else None),
                           os.path.join(path, f"part-{i}.parquet"))
        return rows

    # --- evaluation --------------------------------------------------------
    def evaluate(self, summary, setup, out, table_rows) -> dict:
        from checker import check

        requests = out["requests"]
        if table_rows is None:
            events = [e for t in out["txns"] for e in t["events"]]
            streams = {f"/{n}": (n, events, None)
                       for n in self.spec["consumers"]}
        else:
            def reads(rows):
                return [{"lsn": 0, "idx": 0, "action": "read", "record": r,
                         "changes": None, "ts": None} for r in rows]

            name = self.spec["consumers"][0]
            streams = {f"/{tag}{i}/{name}": (name, reads(table_rows),
                                             c["start"])
                       for tag in ("w", "c")
                       for i, c in enumerate(
                           summary["warm" if tag == "w" else "cycles"])}
        # warm-up events (due before the first go) are checked but not
        # timed
        measure_from = (out["go_times"][0] if table_rows is None
                        else summary["cycles"][0]["start"])
        result = check(requests, streams, measure_from)
        lat = result["latencies_ms"]
        if table_rows is not None:
            # each cycle's figures, then their median: pooled over cycles,
            # the p99 would be the tail of the slowest cycle alone
            cycles = summary["cycles"]
            windows = [(c["start"], c["end"]) for c in cycles]
            per = [result["latencies_by_stream"][f"/c{i}/{name}"]
                   for i in range(len(cycles))]
            lat_p50 = statistics.median(percentile(v, 50) for v in per)
            lat_p99 = statistics.median(percentile(v, 99) for v in per)
            eps = statistics.median(len(v) / (c["end"] - c["start"])
                                    for v, c in zip(per, cycles))
        else:
            # from the first due transaction to the last arrival
            go = out["go_times"][0]
            windows = [(go, max((r[0] for r in requests), default=go))]
            lat_p50, lat_p99 = percentile(lat, 50), percentile(lat, 99)
            eps = len(lat) / (windows[0][1] - go)
        e2e = {
            "setup_s": setup["setup_s"],
            "lat_p50_ms": lat_p50,
            "lat_p99_ms": lat_p99,
            "delivered_eps": eps,
            "peak_rss_mb": self.sampler.peak_mem_kb / 1024,
        }
        late = out["gen_late_ms_p99"]
        ok = (result["failed"] == 0 and result["attempted"] > 0
              and late <= GEN_LATE_LIMIT_MS)
        if self.args.trace == 1:
            metrics = self.per_layer(summary, setup, out, windows, result,
                                     e2e)
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in e2e.items()}
        detail = {"fails": result["fails"], "gen_late_ms_p99": late,
                  "latency_samples": len(lat),
                  "windows_s": [round(b - a, 3) for a, b in windows],
                  "steal_cores": round(self.sampler.cores(
                      "steal", windows[0][0], windows[-1][1]), 3),
                  "phases": self.marks,
                  "peak_mem_mb_by_role": {
                      k: round(v / 1024) for k, v in
                      self.sampler.peak_mem_kb_by_role.items()},
                  # (paging s, batch s) of each untimed, then timed cycle
                  "cycles": [(round(c["paging_s"], 3), round(c["batch_s"], 3))
                             for c in (summary.get("warm", [])
                                       + summary.get("cycles", []))]}
        print(json.dumps({"detail": detail}), file=sys.stderr)
        return {"correct": ok, "attempted": result["attempted"],
                "failed": result["failed"], "metrics": metrics}

    def per_layer(self, summary, setup, out, windows, result, e2e) -> dict:
        from layers import per_layer_metrics

        ingest = self.read_json(os.path.join(self.work, "ingest_trace.json"))
        return per_layer_metrics(summary, setup, out, ingest, windows,
                                 result, e2e, self.sampler)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "sequin_spark")):
        print("perfbench: the sequin_spark package is not next to "
              "perfbench/; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    run = Run(args)
    try:
        result = run.run()
    except BenchError as e:
        print(f"perfbench: {e}; logs in {run.work}", file=sys.stderr)
        return 1
    finally:
        run.stop_all()
    shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
