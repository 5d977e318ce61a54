"""Spans and per-layer counts for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
around the call into the registered query function (``build``), around
the action, and around every call into a wrapped public function of the
``sources``, ``ml`` and ``operators`` layers. Each streaming micro-batch
becomes a span too, from a ``StreamingQueryListener``. Spans stay in
memory and are written out once, at the end of the run.

Job counts come from a Spark job group per span (``pb-<span id>``):
jobs submitted while a span is innermost land in its group. Streaming
micro-batches run on their own threads and never inherit a group, so
they are counted from their progress events instead.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_PKG = "threat_detection_nosql_spark"

# Plan nodes that run Python code on the executors.
_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def _layer_targets() -> dict[str, list]:
    """Functions to wrap, by layer: the public functions each layer's
    modules define (not the ones they import)."""
    from threat_detection_nosql_spark.sources import readers
    from threat_detection_nosql_spark.streaming import stream_queries

    def public_functions(prefix: str) -> list:
        out = []
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(prefix):
                continue
            for name, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == modname):
                    out.append(obj)
        return out

    import threat_detection_nosql_spark.ml  # noqa: F401
    import threat_detection_nosql_spark.operators  # noqa: F401
    return {
        "sources.load": [readers.load_table],
        "sources.stream_source": [stream_queries.events_stream,
                                  stream_queries.documents_stream],
        "ml": public_functions(f"{_PKG}.ml."),
        "operators": public_functions(f"{_PKG}.operators."),
    }


class _BatchListener(StreamingQueryListener):
    """Collects micro-batch progress; called on the listener thread."""

    def __init__(self):
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        ops = p.stateOperators or []
        rec = {
            "timestamp": p.timestamp,
            "batch_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "planning_ms": d.get("queryPlanning", 0),
            "input_rows": p.numInputRows,
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
        }
        with self._lock:
            self._events.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self) -> list[dict]:
        with self._lock:
            out, self._events = self._events, []
        return out


def _epoch(ts: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _option(metrics, key: str) -> int:
    return int(metrics.apply(key).value()) if metrics.contains(key) else 0


def plan_metrics(qe) -> dict:
    """Sum SQL metrics over the final adaptive plan of an executed
    query, descending into query stages and subqueries."""
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "output_rows": 0,
           "python_udf_rows": 0}
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its metrics belong to the exchange it reuses
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        m = node.metrics()
        rows = _option(m, "numOutputRows")
        out["output_rows"] += rows
        if any(t in cls for t in _PY_NODE_MARKERS):
            out["python_udf_rows"] += rows
        out["shuffle_write_bytes"] += _option(m, "shuffleBytesWritten")
        out["spill_bytes"] += _option(m, "spillSize")
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return out


def catalyst_ms(qe) -> dict:
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = int(opt.get().durationMs()) if opt.isDefined() else 0
    return out


class Tracer:
    """Records spans and per-query layer counts between ``enable()``
    and ``disable()``.

    ``enable()`` patches every package module that holds a layer
    function by name (modules that did ``from ... import load_table``
    hold their own reference, so patching the defining module alone
    would miss them) and attaches the streaming listener;
    ``disable()`` undoes both, so untraced passes in the same process
    run the program unmodified.
    """

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self._status = self._sc._jsc.statusTracker()
        self._bus = self._sc._jsc.sc().listenerBus()
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._layers: list[str] = []
        self._main = threading.get_ident()
        self._targets = _layer_targets()
        self._patches: list[tuple] = []
        self._listener = _BatchListener()
        # perf_counter() + offset = epoch seconds
        self._epoch_offset = time.time() - time.perf_counter()
        self.spans: list[dict] = []
        self.enabled = False

    # -- patching ---------------------------------------------------------
    def enable(self) -> None:
        wrappers = {}
        for layer, fns in self._targets.items():
            for fn in fns:
                wrappers[id(fn)] = (fn, self._wrap(fn, layer))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(_PKG):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
                    self._patches.append((mod, attr, obj))
        self._spark.streams.addListener(self._listener)
        self.enabled = True

    def disable(self) -> None:
        for mod, attr, obj in self._patches:
            setattr(mod, attr, obj)
        self._patches.clear()
        self._spark.streams.removeListener(self._listener)
        self.enabled = False

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # outermost call per layer only, and only from the driver's
            # main thread (foreachBatch callbacks arrive on others)
            if (layer in tracer._layers
                    or threading.get_ident() != tracer._main
                    or not tracer._stack):
                return fn(*args, **kwargs)
            with tracer.span(f"{layer}:{fn.__name__}", layer,
                             jobs=layer.startswith("sources")):
                return fn(*args, **kwargs)
        return wrapper

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, jobs: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids),
               "parent": parent["id"] if parent else None,
               "name": name, "layer": layer, **attrs}
        if parent is not None:
            rec.setdefault("query", parent.get("query"))
            rec.setdefault("pass_idx", parent.get("pass_idx"))
        rec["query_span"] = parent["query_span"] if parent else rec["id"]
        prev_group = None
        if jobs:
            rec["group"] = f"pb-{rec['id']}"
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setLocalProperty("spark.jobGroup.id", rec["group"])
            self._sc.setLocalProperty("spark.job.description",
                                      f"{rec.get('query')}:{name}")
        self._stack.append(rec)
        self._layers.append(layer)
        cpu0 = time.process_time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py_cpu_s"] = time.process_time() - cpu0
            self._stack.pop()
            self._layers.pop()
            if jobs:
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)
                self._sc.setLocalProperty(
                    "spark.job.description",
                    self._stack[-1].get("query") if self._stack else None)
            self.spans.append(rec)

    def finish_query(self, qspan: dict, executed_df, rows: int) -> dict:
        """Close the books on one query: attribute its micro-batches,
        count its jobs, read its final plan. Returns the per-layer
        counts of this query."""
        self._bus.waitUntilEmpty()
        spans = [s for s in self.spans if s["query_span"] == qspan["id"]]
        build = next(s for s in spans if s["name"] == "build")
        action = next(s for s in spans if s["name"] == "action")
        for ev in self._listener.drain():
            start = _epoch(ev["timestamp"]) - self._epoch_offset
            inside = build["start"] <= start <= build["end"]
            rec = {"id": next(self._ids),
                   "parent": build["id"] if inside else qspan["id"],
                   "name": "streaming:batch", "layer": "streaming",
                   "query": qspan["query"], "pass_idx": qspan["pass_idx"],
                   "query_span": qspan["id"], "start": start,
                   "end": start + ev["batch_ms"] / 1000.0, **ev}
            self.spans.append(rec)
            spans.append(rec)
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            if "group" in s:
                s.update(self._jobs(s["group"]))

        def inclusive_jobs(root: dict) -> int:
            total = 0
            for s in spans:
                p = s
                while p is not None and p["id"] != root["id"]:
                    p = by_id.get(p["parent"])
                if p is not None:
                    total += s.get("jobs", 0)
            return total

        def layer(prefix: str) -> list[dict]:
            return [s for s in spans if s["layer"] == prefix]

        for s in spans:
            s["self_s"] = _self_time(s, spans)
        loads = layer("sources.load")
        batches = layer("streaming")
        out = {
            "queries.build_s": build["end"] - build["start"],
            "queries.build_self_s": build["self_s"],
            "queries.build_jobs": inclusive_jobs(build),
            "queries.build_py_cpu_s": build["py_cpu_s"],
            "sources.load_calls": len(loads),
            "sources.load_s": sum(s["end"] - s["start"] for s in loads),
            "sources.load_jobs": sum(inclusive_jobs(s) for s in loads),
            "sources.stream_source_calls": len(layer("sources.stream_source")),
            "sources.stream_source_s": sum(
                s["end"] - s["start"] for s in layer("sources.stream_source")),
            "ml.fit_calls": len(layer("ml")),
            "ml.fit_s": sum(s["end"] - s["start"] for s in layer("ml")),
            "operators.calls": len(layer("operators")),
            "operators.call_s": sum(
                s["end"] - s["start"] for s in layer("operators")),
            "collect.rows": rows,
            "streaming.batches": len(batches),
        }
        for key in ("batch_ms", "add_batch_ms", "planning_ms", "input_rows"):
            out[f"streaming.{key}"] = sum(b[key] for b in batches)
        # state size is a level, not a flow: the largest any batch left
        for key in ("state_rows", "state_memory_bytes"):
            out[f"streaming.{key}"] = max((b[key] for b in batches),
                                          default=0)
        out["exec.action_s"] = action["end"] - action["start"]
        for key in ("jobs", "stages", "tasks", "failed_tasks"):
            out[f"exec.{key}"] = action[key]
        qe = executed_df._jdf.queryExecution()
        for k, v in plan_metrics(qe).items():
            out[f"exec.{k}"] = v
        for k, v in catalyst_ms(qe).items():
            out[f"catalyst.{k}_ms"] = v
        qspan["layers"] = out
        return out

    def _jobs(self, group: str) -> dict:
        jobs = stages = tasks = failed = 0
        for jid in list(self._status.getJobIdsForGroup(group)):
            info = self._status.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in list(info.stageIds()):
                st = self._status.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks()
                    failed += st.numFailedTasks()
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


def _self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part of it covered by its children."""
    kids = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                  for c in spans if c["parent"] == span["id"])
    covered, cur_start, cur_end = 0.0, None, None
    for a, b in kids:
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span["end"] - span["start"]) - covered
