"""Self-test of the benchmark's seed handling.

    python3 perfbench/selftest.py [--workload NAME] [--seconds S]

Runs the benchmark command twice with different seeds. The seeds must
give different query orders and identical result digests: the seed
orders the work and never changes the program's inputs. Exits 0 when
both hold.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = (1, 2)


def _run(workload: str, seed: int, seconds: int) -> dict:
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", "0"],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, ".perfbench_run", "results",
                        f"{workload}-seed{seed}-trace0.json")
    with open(path) as f:
        return json.load(f)


def _digests(detail: dict) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for p in detail["passes"]:
        for r in p["queries"]:
            out.setdefault(r["query"], set()).add(r.get("digest"))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="kernels_streams")
    ap.add_argument("--seconds", type=int, default=1)
    args = ap.parse_args()
    a, b = (_run(args.workload, s, args.seconds) for s in SEEDS)
    problems = []
    if [p["order"] for p in a["passes"]] == [p["order"] for p in b["passes"]]:
        problems.append("both seeds ran the queries in the same order")
    da, db = _digests(a), _digests(b)
    for name in sorted(set(da) | set(db)):
        if len(da.get(name, ())) != 1 or da.get(name) != db.get(name):
            problems.append(f"{name}: seed {SEEDS[0]} gave "
                            f"{sorted(map(str, da.get(name, ())))}, seed "
                            f"{SEEDS[1]} gave "
                            f"{sorted(map(str, db.get(name, ())))}")
    for line in problems:
        print("FAIL " + line)
    if not problems:
        print(f"ok: {len(da)} queries, identical digests under seeds "
              f"{SEEDS[0]} and {SEEDS[1]}, different orders")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
