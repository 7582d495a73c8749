#!/usr/bin/env python
"""Parallel freeze-tier test runner (r10 verdict item 5: the full
suite grew to ~31 min single-process; 986 tests x one local[8] JVM
leaves 24 of the box's 32 cores idle).

Partitions the test FILES across N worker processes (default 3), each
running its own pytest with its own Spark session (local[cpus/N]) in
its own scratch cwd -- Spark UI is disabled and only the scratch cwd
holds derby/metastore/warehouse state, so workers cannot collide.
Metastore-touching files (saveAsTable) are pinned to worker 0 so the
embedded Derby catalog is only ever opened by one process.

Balancing is self-tuning: observed per-file wall times are written to
tools/freeze_durations.json after every run and drive a greedy
longest-first bin-packing on the next one. First run uses uniform
estimates; by the second run the partition is within a few percent of
optimal.

Usage:
    python tools/freeze_suite.py             # 3 workers, full tests/
    python tools/freeze_suite.py -n 4
    FREEZE_PYTEST_ARGS="-k 'not oracle'" python tools/freeze_suite.py

Exit code is non-zero if ANY worker fails; each worker's tail is
printed under a banner so failures are attributable.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DURATIONS_FILE = os.path.join(REPO, "tools", "freeze_durations.json")
# Files that open the embedded Derby metastore (saveAsTable): one
# process only, pinned to worker 0.
METASTORE_FILES = {"test_scale_paths.py", "test_bucketed.py"}


def _load_durations() -> dict[str, float]:
    try:
        with open(DURATIONS_FILE) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _partition(files: list[str], n: int, cost: dict[str, float]) -> list[list[str]]:
    bins: list[list[str]] = [[] for _ in range(n)]
    loads = [0.0] * n
    meta = [f for f in files if os.path.basename(f) in METASTORE_FILES]
    rest = [f for f in files if os.path.basename(f) not in METASTORE_FILES]
    for f in meta:
        bins[0].append(f)
        loads[0] += cost.get(os.path.basename(f), 30.0)
    for f in sorted(
        rest, key=lambda f: -cost.get(os.path.basename(f), 30.0)
    ):
        i = loads.index(min(loads))
        bins[i].append(f)
        loads[i] += cost.get(os.path.basename(f), 30.0)
    return bins


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--workers", type=int, default=3)
    ap.add_argument("--cpus-per-worker", type=int, default=0,
                    help="0 = split the SPARK_GRAFT_CPUS/32 budget evenly")
    args = ap.parse_args()

    files = sorted(glob.glob(os.path.join(REPO, "tests", "test_*.py")))
    durations = _load_durations()
    bins = _partition(files, args.workers, durations)
    total_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cpus = args.cpus_per_worker or max(4, total_cpus // args.workers)
    extra = os.environ.get("FREEZE_PYTEST_ARGS", "")

    procs = []
    t0 = time.time()
    for i, group in enumerate(bins):
        if not group:
            continue
        scratch = tempfile.mkdtemp(prefix=f"freeze_w{i}_")
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        env.setdefault("SPARK_DRIVER_MEM", "8g")
        cmd = (
            [
                sys.executable,
                "-m",
                "pytest",
                "-q",
                "-p",
                "no:cacheprovider",
                f"--junitxml={scratch}/junit.xml",
            ]
            + (extra.split() if extra else [])
            + group
        )
        out = open(os.path.join(scratch, "out.log"), "w")
        procs.append(
            (
                i,
                group,
                scratch,
                out,
                subprocess.Popen(
                    cmd, cwd=scratch, env=env, stdout=out,
                    stderr=subprocess.STDOUT,
                ),
            )
        )
        print(f"worker {i}: {len(group)} files, cwd={scratch}")

    rc = 0
    file_times: dict[str, float] = dict(durations)
    for i, group, scratch, out, p in procs:
        p.wait()
        out.close()
        log = open(os.path.join(scratch, "out.log")).read()
        tail = "\n".join(log.strip().splitlines()[-12:])
        print(f"\n===== worker {i} (exit {p.returncode}) =====\n{tail}")
        if p.returncode != 0:
            rc = p.returncode
        # real per-file durations from the junit report (testcase
        # classname -> file); feeds the next run's bin packing
        try:
            import xml.etree.ElementTree as ET

            root = ET.parse(os.path.join(scratch, "junit.xml")).getroot()
            per: dict[str, float] = {}
            for tc in root.iter("testcase"):
                cls = tc.get("classname", "")
                base = cls.split(".")[-1] + ".py" if cls else None
                if base:
                    per[base] = per.get(base, 0.0) + float(tc.get("time", 0))
            for base, t in per.items():
                file_times[base] = round(t, 1)
        except (OSError, ValueError, ET.ParseError):
            pass
    try:
        with open(DURATIONS_FILE, "w") as f:
            json.dump(file_times, f, indent=1, sort_keys=True)
    except OSError:
        pass
    print(f"\nTOTAL wall: {time.time() - t0:.0f}s exit={rc}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
