"""Python workers run the engine's daemon (``sequin_spark.worker_daemon``):
pyspark's daemon with import caches invalidated only when the shipped
files change.

The session-level checks run in the shared test session.  The reuse,
``addPyFile`` and shutdown checks run once, in a subprocess on
``local[1]`` (one worker, so the second task reuses the first one's
process), started from a directory outside the repository with the
package reached only through ``sys.path``.
"""

import json
import os
import subprocess
import sys
import textwrap
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = textwrap.dedent("""
    import json, os, sys, zipfile
    sys.path.insert(0, {repo!r})
    from sequin_spark.session import get_spark

    spark = get_spark("worker-daemon-probe", shuffle_partitions=1)
    sc = spark.sparkContext

    def probe(batches):
        import importlib
        import pandas as pd
        for _ in batches:
            pass
        # the first task in a worker counts the daemon's later
        # invalidations in this process
        if not hasattr(importlib, "_probe_invalidations"):
            real = importlib.invalidate_caches

            def counting():
                importlib._probe_invalidations += 1
                real()

            importlib._probe_invalidations = 0
            importlib.invalidate_caches = counting
        shipped = []
        for name in ("shipped_py", "shipped_zip"):
            try:
                shipped.append(importlib.import_module(name).VALUE)
            except ImportError:
                shipped.append(None)
        yield pd.DataFrame({{
            "pid": [os.getpid()], "daemon_pid": [os.getppid()],
            "main": [sys.modules["__main__"].__spec__.name],
            "invalidations": [importlib._probe_invalidations],
            "shipped": [json.dumps(shipped)]}})

    def task():
        return spark.range(1).mapInPandas(
            probe, "pid long, daemon_pid long, main string, "
                   "invalidations long, shipped string").collect()[0].asDict()

    out = {{"tasks": [task(), task()]}}
    work = os.getcwd()
    with open(os.path.join(work, "shipped_py.py"), "w") as f:
        f.write("VALUE = 'py'\\n")
    with zipfile.ZipFile(os.path.join(work, "shipped.zip"), "w") as z:
        z.writestr("shipped_zip.py", "VALUE = 'zip'\\n")
    sc.addPyFile(os.path.join(work, "shipped_py.py"))
    sc.addPyFile(os.path.join(work, "shipped.zip"))
    out["tasks"].append(task())
    spark.stop()
    print("PROBE " + json.dumps(out))
""")


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode()
    except OSError:
        return ""


@pytest.fixture(scope="module")
def probe(tmp_path_factory):
    """Run the probe driver; return its three tasks' reports."""
    work = tmp_path_factory.mktemp("daemon-probe")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", PROBE.format(repo=REPO)], cwd=str(work),
        env=env, capture_output=True, text=True, timeout=300)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")]
    assert proc.returncode == 0 and lines, proc.stdout + proc.stderr
    return json.loads(lines[-1][len("PROBE "):])["tasks"]


def test_workers_run_the_engine_daemon(spark):
    """The session's Python workers are forked from the engine's daemon."""
    def main_module(batches):
        import sys

        import pandas as pd
        for _ in batches:
            pass
        yield pd.DataFrame({"main": [sys.modules["__main__"].__spec__.name]})

    rows = spark.range(4).repartition(2).mapInPandas(
        main_module, "main string").collect()
    assert {r.main for r in rows} == {"sequin_spark.worker_daemon"}
    assert spark.conf.get("spark.python.daemon.module") == \
        "sequin_spark.worker_daemon"


def test_sys_path_driver_runs_python_tasks(probe):
    """A driver started outside the repository, with the package on
    ``sys.path`` only, runs ``mapInPandas`` tasks under the daemon."""
    assert len(probe) == 3
    assert {t["main"] for t in probe} == {"sequin_spark.worker_daemon"}


def test_reused_worker_does_not_invalidate(probe):
    """The second task runs in the first one's process and, with nothing
    newly shipped, invalidates no import cache."""
    first, second, _ = probe
    assert second["pid"] == first["pid"]
    assert first["invalidations"] == second["invalidations"] == 0


def test_added_py_files_are_importable(probe):
    """A ``.py`` and a ``.zip`` added with ``addPyFile`` between two
    tasks are importable by the next task in the same worker, which
    invalidates the caches once."""
    first, _, third = probe
    assert json.loads(first["shipped"]) == [None, None]
    assert third["pid"] == first["pid"]
    assert json.loads(third["shipped"]) == ["py", "zip"]
    assert third["invalidations"] == 1


def test_no_daemon_left_after_stop(probe):
    """After ``spark.stop()`` and the driver's exit, neither the daemon
    nor its worker is still running."""
    pids = {probe[0]["daemon_pid"], probe[0]["pid"]}
    deadline = time.time() + 15
    while time.time() < deadline and any(
            "sequin_spark.worker_daemon" in _cmdline(p) for p in pids):
        time.sleep(0.2)
    assert not any("sequin_spark.worker_daemon" in _cmdline(p) for p in pids)
