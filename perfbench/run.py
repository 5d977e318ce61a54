"""Benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Each call measures
one workload in a fresh process started from the same state: the work
area ``.perfbench_run/work`` (working directory, temp files, Spark local
dirs, the program's persisted index cache) is deleted and made again,
so no index or warehouse survives from an earlier run. The input tables
are the fixed, read-only test tables at ``$SPARK_GRAFT_SF_DIR`` (by
default the sf0.1 tables ``bench.py`` reads); the seed only orders the
queries.

The measuring process's report is passed through; its result is printed
last, as one JSON line, and only if the run succeeded. The full record
of the run (every execution, digest, census and, when traced, every
span) is written to ``.perfbench_run/results/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from digest import ORACLE_TABLES  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.1"  # bench.py's default
# Fits a 15 GB host shared with other jobs; the program's own default
# (24g) does not.
DRIVER_MEM = "4g"
# A run must finish within 180 s; leave room to stop the processes.
RUN_TIMEOUT_S = 170


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command name: state ppid pgrp ...
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Give what is left of the measuring process's group (the Spark
    JVM and its Python workers) a few seconds to exit on its own, then
    kill it, and wait until it is gone."""
    for grace_s, sig in ((5, None), (10, signal.SIGKILL)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + grace_s
        while _group_alive(pgid):
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        else:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    missing = [t for t in ORACLE_TABLES
               if not os.path.isfile(os.path.join(sf_dir, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: tables missing under {sf_dir}: {missing}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "threat_detection_nosql_spark")):
        print(f"perfbench: no program package under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k)
            for k in ("cwd", "tmp", "spark-local", "index")}
    for d in (*dirs.values(), os.path.join(base, "results")):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(base, "results", f"{args.workload}-seed{args.seed}"
                                        f"-trace{args.trace}.json")

    env = dict(os.environ)
    for k in ("SPARK_GRAFT_ON_CLUSTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        env.pop(k, None)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TDNS_CACHE_DIR": dirs["index"],
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        # every JVM the run starts (spark-submit's launcher and the
        # driver) keeps its temp files in the work area, and writes no
        # perf-data file, which HotSpot would put in /tmp
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={dirs['tmp']} "
                              f"-XX:-UsePerfData"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "TZ": "UTC",
        "PERFBENCH_SF_DIR": sf_dir,
        "PERFBENCH_OUT": out,
    })
    cmd = [sys.executable, os.path.join(HERE, "harness.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.Popen(cmd, cwd=dirs["cwd"], env=env,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    result: list[str] = []

    def relay() -> None:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result.append(line[len("RESULT "):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()

    # a stop request still stops the measuring process's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    reader = threading.Thread(target=relay, daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, stopped",
              file=sys.stderr)
        code = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
        reader.join(timeout=10)
    if code != 0 or len(result) != 1:
        print(f"perfbench: measuring process failed (exit {code})",
              file=sys.stderr)
        return 1
    sys.stdout.write(result[0])
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
