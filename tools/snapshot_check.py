"""Pre-snapshot guard: the FULL-registry oracle audit the per-round
driver window (50 of N queries) cannot provide.

The driver's CORRECTNESS_r*.json covers at most 50 queries per round;
the rotation in __spark_entry__._rotation_order guarantees every query
a driver row at least every other round, but matched-pair edits (a
query and its oracle changed in the same commit) can ship with no
independent full-run evidence unless the full set is re-checked.  This
tool makes that un-skippable:

* ``python tools/snapshot_check.py --write`` runs tools/oracle_check
  over the ENTIRE registry at sf0.01 and writes
  ``CORRECTNESS_FULL_r{N}.txt`` (N = latest driver round + 1, i.e. the
  round in progress), stamped with a sha256 digest of every source
  file the results depend on (sequin_spark/**, __spark_entry__.py,
  fixtures).  It REFUSES to write the file if any row fails.
* ``python tools/snapshot_check.py`` verifies the committed file:
  exists for the current round, covers every registry query, all rows
  PASS, and the source digest matches the working tree.  Exit 1 with
  the reason otherwise.
* ``tests/test_full_audit.py`` runs the same verification as a fast
  pytest (no Spark) — so a snapshot whose audit file is stale or
  missing fails the suite, not just a convention.

Regenerating takes a few minutes of Spark+DuckDB time; that cost is
the point — it is the independent referee for every oracle pair.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SNAPSHOT_SF_DIR", "/root/testdata/sf0.01")
# Second-scale sweep (VERDICT r7 task #8): the r7 cross-SF run caught a
# sign-of-zero bug (DSIR −0.0) the single-SF gate could not — every
# matched-pair edit is now checked at TWO scales by default.
SF_DIR2 = os.environ.get("SNAPSHOT_SF_DIR2", "/root/testdata/sf0.001")
SF2_TAG = os.path.basename(SF_DIR2.rstrip("/"))
# Bench-scale sweep (VERDICT r10 task #2, raising r7's two spot rows
# to the FULL registry): the audit now hash-gates every query at
# sf0.1 as well — the scale the perf numbers come from, and the scale
# class where the assortativity BIGINT-wrap divergence hid (caught
# analytically in r10; scale-gated bugs need a scale-gated referee).
# Queries excluded for ORACLE cost (DuckDB side only — the Spark side
# runs at sf0.1 in every bench) are listed with the measured reason.
SF_DIR3 = os.environ.get("SNAPSHOT_SF_DIR3", "/root/testdata/sf0.1")
SF3_TAG = os.path.basename(SF_DIR3.rstrip("/"))
SF3_EXCLUDE: dict[str, str] = {
    # name -> documented reason (measured oracle cost at sf0.1)
}
# Fourth-scale STATEFUL spot-check (r12 verdict task #10): the
# standing CDC paths are the most machinery-heavy queries in the
# registry (five+ streaming incarnations, checkpoint restores,
# compaction) and until r13 had no decade evidence beyond sf0.1.
# When the locally-generated sf1 corpus is present (.localdata/sf1 —
# ~1.5 h to rebuild, never in the driver sandbox), the audit also
# hash-gates them there.  Absent dir → recorded as skipped, not green.
SF_DIR4 = os.environ.get("SNAPSHOT_SF_DIR4",
                         os.path.join(HERE, ".localdata", "sf1"))
SF4_TAG = "sf1"
SF4_NAMES = ("cdc_scd2_stream", "cdc_replica_apply",
             "cdc_scd2_lsn_stream")


def current_round() -> int:
    """Round in progress = latest driver CORRECTNESS_r*.json + 1."""
    n = 0
    for p in glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m:
            n = max(n, int(m.group(1)))
    return n + 1


def source_digest() -> str:
    """sha256 over every file the oracle results can depend on: the
    package source (queries, operators, fixtures) and the entry file.
    Tests/docs/tools are excluded — they cannot change query results."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "sequin_spark")]
    files = [os.path.join(HERE, "__spark_entry__.py")]
    for root in roots:
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = sorted(d for d in dirnames
                                 if d != "__pycache__")
            for fn in sorted(filenames):
                if fn.endswith((".pyc", ".pyo")):
                    continue
                files.append(os.path.join(dirpath, fn))
    for p in sorted(files):
        h.update(os.path.relpath(p, HERE).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def audit_path(round_n: int) -> str:
    return os.path.join(HERE, f"CORRECTNESS_FULL_r{round_n:02d}.txt")


def write_audit() -> int:
    # one Spark worker thread per usable core: get_spark's default of
    # 32 oversubscribes a small host many times over
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, HERE)
    from tools.oracle_check import run_checks

    digest = source_digest()
    results = run_checks(SF_DIR)
    results2 = run_checks(SF_DIR2)
    sys.path.insert(0, HERE)
    import __spark_entry__ as entry_mod

    sf3_names = {n for n in entry_mod.queries() if n not in SF3_EXCLUDE}
    results3 = run_checks(SF_DIR3, sf3_names)
    sf4_present = os.path.isdir(SF_DIR4)
    results4 = (run_checks(SF_DIR4, set(SF4_NAMES))
                if sf4_present else [])
    failures = ([(n, d) for n, s, d in results if s == "FAIL"]
                + [(f"{n}@{SF2_TAG}", d)
                   for n, s, d in results2 if s == "FAIL"]
                + [(f"{n}@{SF3_TAG}", d)
                   for n, s, d in results3 if s == "FAIL"]
                + [(f"{n}@{SF4_TAG}", d)
                   for n, s, d in results4 if s == "FAIL"])
    if failures:
        for n, d in failures:
            print(f"REFUSING to write audit file: FAIL {n}: {d}")
        return 1
    round_n = current_round()
    path = audit_path(round_n)
    with open(path, "w") as f:
        f.write(f"# CORRECTNESS_FULL r{round_n:02d} — full-registry "
                f"oracle audit (tools/snapshot_check.py --write)\n")
        f.write(f"# sf_dir: {SF_DIR} (+ cross-SF sweep at {SF_DIR2} "
                f"+ full bench-scale sweep at {SF_DIR3})\n")
        for name, why in sorted(SF3_EXCLUDE.items()):
            f.write(f"# sf3-excluded {name}: {why}\n")
        f.write(f"# source_digest: {digest}\n")
        f.write(f"# queries: {len(results)}\n")
        for name, status, detail in results:
            f.write(f"{status:<5} {name}: {detail}\n")
        for name, status, detail in results2:
            f.write(f"{status:<5} {name}@{SF2_TAG}: {detail}\n")
        for name, status, detail in results3:
            f.write(f"{status:<5} {name}@{SF3_TAG}: {detail}\n")
        if sf4_present:
            for name, status, detail in results4:
                f.write(f"{status:<5} {name}@{SF4_TAG}: {detail}\n")
        else:
            f.write(f"# sf4-skipped: {SF_DIR4} absent (local-only "
                    f"corpus) — stateful {SF4_TAG} spot rows not run\n")
        total = (len(results) + len(results2) + len(results3)
                 + len(results4))
        f.write(f"SUMMARY PASS {total}/{total}\n")
    print(f"\nwrote {path} ({len(results)} queries × 2 scales "
          f"+ {len(results3)} {SF3_TAG} spot rows"
          + (f" + {len(results4)} {SF4_TAG} stateful spot rows"
             if sf4_present else "")
          + f", digest {digest})")
    return 0


def latest_audit() -> tuple[int, str] | None:
    best = None
    for p in glob.glob(os.path.join(HERE, "CORRECTNESS_FULL_r*.txt")):
        m = re.search(r"CORRECTNESS_FULL_r(\d+)\.txt$", p)
        if m and (best is None or int(m.group(1)) > best[0]):
            best = (int(m.group(1)), p)
    return best


def verify_audit() -> list[str]:
    """Return a list of problems (empty = audit is fresh and green).

    Freshness is the SOURCE DIGEST, not the round number: the latest
    committed audit must have been generated from exactly the query
    source in the working tree.  The round check is loose (>= the last
    completed driver round) so a driver commit landing CORRECTNESS_rN
    after the snapshot does not retroactively invalidate the audit."""
    sys.path.insert(0, HERE)
    import __spark_entry__ as entry_mod

    problems: list[str] = []
    found = latest_audit()
    if found is None:
        return ["no CORRECTNESS_FULL_r*.txt — run "
                "`python tools/snapshot_check.py --write`"]
    round_n, path = found
    if round_n < current_round() - 1:
        problems.append(
            f"latest audit is r{round_n:02d}, older than the last "
            f"completed round — re-run with --write")
    digest = None
    rows: dict[str, str] = {}
    summary_ok = False
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if line.startswith("# source_digest:"):
                digest = line.split(":", 1)[1].strip()
            elif line.startswith(("OK ", "OK? ", "FAIL ")):
                status, rest = line.split(" ", 1)
                name = rest.strip().split(":", 1)[0].strip()
                rows[name] = status
            elif line.startswith("SUMMARY PASS"):
                summary_ok = True
    if digest != source_digest():
        problems.append(
            f"{os.path.basename(path)} is STALE: source digest "
            f"{digest} != working tree {source_digest()} — query source "
            f"changed since the audit ran; re-run with --write")
    registry = set(entry_mod.queries())
    missing = registry - set(rows)
    if missing:
        problems.append(f"audit does not cover {sorted(missing)}")
    missing2 = {f"{n}@{SF2_TAG}" for n in registry} - set(rows)
    if missing2:
        problems.append(
            f"audit lacks the cross-SF ({SF2_TAG}) sweep for "
            f"{sorted(missing2)} — re-run with --write")
    missing3 = ({f"{n}@{SF3_TAG}" for n in registry
                 if n not in SF3_EXCLUDE} - set(rows))
    if missing3:
        problems.append(
            f"audit lacks the full {SF3_TAG} sweep for "
            f"{sorted(missing3)} — re-run with --write")
    red = sorted(n for n, s in rows.items() if s == "FAIL")
    if red:
        problems.append(f"audit has FAIL rows: {red}")
    if not summary_ok:
        problems.append("audit has no `SUMMARY PASS` line "
                        "(incomplete run?)")
    return problems


def main() -> int:
    if "--write" in sys.argv:
        return write_audit()
    problems = verify_audit()
    if problems:
        for p in problems:
            print(f"STALE-AUDIT: {p}")
        return 1
    found = latest_audit()
    print(f"audit {os.path.basename(found[1])} is fresh and green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
