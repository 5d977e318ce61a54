"""One measured run of one workload, in a fresh process.

``run.py`` prepares the environment and starts this file; run that, not
this. The run:

1. sets up: imports the program, builds the session with
   ``session.get_spark`` and runs the JVM warm query ``bench.py`` runs;
2. runs a cold pass (fresh process, persisted indexes cleared), then
   warm passes until ``--seconds`` have gone and ``WARM_PASSES`` are
   done (traced: one untraced and one traced);
   each pass runs every query of the workload once, in an order drawn
   from ``--seed``;
3. checks every execution's result digest against the DuckDB oracle;
4. prints a report, then one ``RESULT {json}`` line for ``run.py``.

With ``--trace 1`` the warm passes alternate untraced and traced, so the
tracing overhead is measured in the same process, and the result holds
the per-layer metrics instead of the end-to-end ones.
"""

import time

_T0 = time.perf_counter()  # process start, as near as Python gets

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)  # the program, at checkout root

from digest import Oracle, count_digest, rows_digest  # noqa: E402
from probes import Jvm, census, host_sample  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# A traced run makes at least one untraced and one traced warm pass.
MIN_TRACED_PASSES = 1
# An untraced run makes at least this many warm passes, and pass_s is
# taken over the first this many, so every run reports the same stage
# of warm-up.
WARM_PASSES = 2


def _quantile(xs: list[float], q: int) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Run:
    def __init__(self, args):
        from threat_detection_nosql_spark.queries import (
            advanced,
            all_oracles,
            all_queries,
            ml_queries,
        )
        from threat_detection_nosql_spark.session import get_spark
        from threat_detection_nosql_spark.sources import readers

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        self.setup_s = time.perf_counter() - _T0

        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.sf_dir = os.environ["PERFBENCH_SF_DIR"]
        registry = all_queries()
        self.fns = {n: registry[n] for n in self.workload.queries}
        self.oracle = Oracle(self.sf_dir, all_oracles(),
                             threads=int(os.environ["SPARK_GRAFT_CPUS"]))
        self._ml_queries, self._readers = ml_queries, readers
        self._index_root = advanced._cache_root()
        self.jvm = Jvm(self.spark)
        self.tracer = None
        if args.trace:
            from spans import Tracer
            self.tracer = Tracer(self.spark)
        self.rng = random.Random(args.seed)
        self.passes: list[dict] = []
        self.first_digest: dict[str, str] = {}

    # -- one query --------------------------------------------------------
    def run_query(self, name: str, pass_idx: int) -> dict:
        counted = name in self.workload.count
        rec = {"query": name}
        self._ml_queries._memo.clear()  # as bench.py: never time a memo hit
        try:
            t0 = time.perf_counter()
            with self._span("query", query=name, pass_idx=pass_idx) as qspan:
                with self._span("build", jobs=True):
                    df = self.fns[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with self._span("action", jobs=True):
                    # a count is run as its own aggregate (the plan
                    # DataFrame.count() executes) so the traced run can
                    # read the executed plan back
                    executed = df.groupBy().count() if counted else df
                    result = executed.collect()
            t2 = time.perf_counter()
        except Exception:
            rec["error"] = traceback.format_exc(limit=4)
            print(f"query {name} failed:\n{rec['error']}", file=sys.stderr)
            return rec
        rec["build_s"], rec["latency_s"] = t1 - t0, t2 - t0
        if counted:
            rec["rows"] = result[0][0]
            rec["digest"] = count_digest(rec["rows"])
        else:
            rec["rows"] = len(result)
            rec["digest"] = rows_digest(executed.columns, result)
        if qspan:
            rec["layers"] = self.tracer.finish_query(
                qspan, executed, 1 if counted else rec["rows"])
            rec["layers"]["jvm.heap_used_mb"] = self.jvm.heap_used_mb()
            rec["census"] = self.census()
        return rec

    def _span(self, name: str, **attrs):
        if self.tracer is None or not self.tracer.enabled:
            return nullcontext()
        return self.tracer.span(name, "queries", **attrs)

    def census(self) -> dict:
        memo = (len(self._ml_queries._memo)
                + len(self._readers._spread_memo))
        return census(self.spark, memo, self._index_root)

    # -- one pass ---------------------------------------------------------
    def run_pass(self, traced: bool) -> dict:
        idx = len(self.passes)
        order = self.rng.sample(self.workload.queries,
                                len(self.workload.queries))
        host0, gc0 = host_sample(), self.jvm.gc_s()
        if traced:
            self.tracer.enable()
        try:
            recs = [self.run_query(name, idx) for name in order]
        finally:
            if traced:
                self.tracer.disable()
        host1 = host_sample()
        p = {"index": idx, "traced": traced, "order": order,
             "queries": recs,
             "pass_s": sum(r.get("latency_s", 0.0) for r in recs),
             "steal_s": host1["steal_s"] - host0["steal_s"],
             "loadavg": host1["loadavg"],
             "gc_s": self.jvm.gc_s() - gc0,
             "census": self.census()}
        self.passes.append(p)
        return p

    def check(self, p: dict) -> None:
        """Mark each execution ok or not: against the oracle when the
        query has one, else against its first result in this run."""
        for r in p["queries"]:
            if "digest" not in r:
                r["ok"] = False
                continue
            name = r["query"]
            if name in self.oracle:
                ref = self.oracle.digest(name, name in self.workload.count)
            else:
                ref = self.first_digest.setdefault(name, r["digest"])
            r["ok"] = r["digest"] == ref

    def measure(self) -> None:
        trace = bool(self.args.trace)
        self.check(self.run_pass(traced=trace))  # cold
        t0 = time.perf_counter()
        while True:
            warm = self.passes[1:]
            n_traced = sum(p["traced"] for p in warm)
            n_plain = len(warm) - n_traced
            done = time.perf_counter() - t0 >= self.args.seconds
            if trace:
                if done and min(n_plain, n_traced) >= MIN_TRACED_PASSES \
                        and n_plain == n_traced:
                    break
                # untraced, traced, traced, untraced, ...: warm-up that
                # is still going on favours neither side
                traced = len(warm) % 4 in (1, 2)
            else:
                if done and len(warm) >= WARM_PASSES:
                    break
                traced = False
            self.check(self.run_pass(traced))

    # -- results ----------------------------------------------------------
    def executions(self):
        return [r for p in self.passes for r in p["queries"]]

    def end_to_end(self) -> dict:
        warm = [p for p in self.passes[1:] if not p["traced"]]
        lat = [r["latency_s"] for p in warm for r in p["queries"]
               if "latency_s" in r]
        third = max(1, len(warm) // 3)
        secs = [p["pass_s"] for p in warm]
        # a warm pass as the sum of each query's median latency over the
        # first WARM_PASSES, so extra passes a fast host makes, further
        # down the warm-up curve, do not move it
        by_query: dict[str, list[float]] = {}
        for p in warm[:WARM_PASSES]:
            for r in p["queries"]:
                if "latency_s" in r:
                    by_query.setdefault(r["query"], []).append(r["latency_s"])
        return {
            "setup_s": (self.setup_s, "s", 1),
            "cold_pass_s": (self.passes[0]["pass_s"], "s", 1),
            "pass_s": (sum(statistics.median(v) for v in by_query.values()),
                       "s", min(len(secs), WARM_PASSES)),
            "query_p50_s": (_quantile(lat, 50), "s", len(lat)),
            "query_p90_s": (_quantile(lat, 90), "s", len(lat)),
            "drift_ratio": ((statistics.median(secs[-third:])
                             / statistics.median(secs[:third]))
                            if len(secs) > 1 else None, "ratio", len(secs)),
            "driver_rss_peak_mb": (self.jvm.rss_peak_mb(), "MB", 1),
        }

    def per_layer(self) -> dict:
        warm = self.passes[1:]
        traced = [p for p in warm if p["traced"]]
        plain = [p for p in warm if not p["traced"]]
        sums: dict[str, float] = {}
        for p in traced:
            for r in p["queries"]:
                for k, v in r.get("layers", {}).items():
                    if k != "jvm.heap_used_mb":
                        sums[k] = sums.get(k, 0) + v
        out = {k: (v / len(traced), _unit(k)) for k, v in sums.items()}
        out["session.get_spark_s"] = (self.get_spark_s, "s")
        for k, v in self.passes[-1]["census"].items():
            out[f"state.{k}"] = (v, _unit(k))
        out["jvm.gc_s"] = (statistics.mean(p["gc_s"] for p in traced), "s")
        out["jvm.heap_used_mb"] = (max(
            r["layers"]["jvm.heap_used_mb"] for p in traced
            for r in p["queries"] if "layers" in r), "MB")
        out["host.steal_s"] = (statistics.mean(p["steal_s"] for p in traced),
                               "s")
        out["host.loadavg"] = (statistics.mean(p["loadavg"] for p in traced),
                               "load")
        out["trace_overhead"] = (
            statistics.median(p["pass_s"] for p in traced)
            / statistics.median(p["pass_s"] for p in plain), "ratio")
        return out


_UNITS = (("_ms", "ms"), ("_s", "s"), ("_bytes", "B"), ("bytes_held", "B"),
          ("_mb", "MB"))


def _unit(key: str) -> str:
    for suffix, unit in _UNITS:
        if key.endswith(suffix):
            return unit
    return "count"


def report(run: Run) -> dict:
    a = run.args
    print(f"perfbench workload={a.workload} seed={a.seed} trace={a.trace} "
          f"seconds={a.seconds} sf_dir={run.sf_dir} "
          f"cpus={os.environ['SPARK_GRAFT_CPUS']} "
          f"driver_mem={os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    for p in run.passes:
        kind = "cold" if p["index"] == 0 else (
            "traced" if p["traced"] else "warm")
        print(f"pass {p['index']} {kind:6s} {p['pass_s']:8.3f} s  "
              f"steal {p['steal_s']:6.2f} s  loadavg {p['loadavg']:5.2f}  "
              f"gc {p['gc_s']:5.2f} s  order {','.join(p['order'])}")
        print("    census " + " ".join(f"{k}={v}"
                                       for k, v in p["census"].items()))
    execs = run.executions()
    bad = sorted({r["query"] for r in execs if not r.get("ok")})
    n_bad = sum(not r.get("ok") for r in execs)
    if a.trace:
        print("per query, mean over traced warm passes:")
        _query_table(run)
        metrics = run.per_layer()
        for k, (v, unit) in metrics.items():
            print(f"  {k:32s} {v:14.4f} {unit}")
    else:
        e2e = run.end_to_end()
        beyond = sum(r["latency_s"] > e2e["query_p90_s"][0] for p in
                     run.passes[1:] for r in p["queries"] if "latency_s" in r)
        for k, (v, unit, n) in e2e.items():
            note = f" ({beyond} beyond p90)" if k == "query_p90_s" else ""
            shown = "n/a" if v is None else f"{v:.4f}"
            print(f"  {k:20s} {shown:>12s} {unit:6s} n={n}{note}")
        metrics = {k: (v, unit) for k, (v, unit, _n) in e2e.items()}
    print(f"  {'error_rate':20s} {n_bad / len(execs):12.4f} ratio  "
          f"n={len(execs)}" + (f"  failing: {','.join(bad)}" if bad else ""))
    # the result carries exactly the metrics BENCHMARK.json declares
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    return {"correct": n_bad == 0, "attempted": len(execs),
            "failed": n_bad,
            "metrics": {m["name"]: {"value": metrics[m["name"]][0],
                                    "unit": metrics[m["name"]][1]}
                        for m in declared}}


def _query_table(run: Run) -> None:
    keys = ("queries.build_s", "queries.build_jobs", "sources.load_calls",
            "ml.fit_calls", "operators.calls", "exec.action_s", "exec.jobs",
            "catalyst.planning_ms", "streaming.batches")
    print("  " + f"{'query':32s}" + "".join(f"{k.split('.')[-1]:>14s}"
                                           for k in keys))
    traced = [p for p in run.passes[1:] if p["traced"]]
    for name in run.workload.queries:
        rows = [r["layers"] for p in traced for r in p["queries"]
                if r["query"] == name and "layers" in r]
        if rows:
            print("  " + f"{name:32s}" + "".join(
                f"{statistics.mean(x.get(k, 0) for x in rows):14.3f}"
                for k in keys))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    run = Run(args)
    try:
        run.measure()
        result = report(run)
    finally:
        run.oracle.close()
        run.spark.stop()
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "setup_s": run.setup_s,
              "passes": run.passes, "result": result}
    if run.tracer is not None:
        detail["spans"] = run.tracer.spans
    with open(os.environ["PERFBENCH_OUT"], "w") as f:
        json.dump(detail, f, default=str)
    print("RESULT " + json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
