"""Tracing for the benchmark's traced run.

Spans are recorded in memory by the benchmark's own code around its calls
into the engine's modules and written out once, when the run ends. Spark
counters are read from outside the engine: the SQL status store
(``executionsList`` / ``planGraph`` / ``executionMetrics``) and the core
status store (``lastStageAttempt``), both of which Spark keeps with the
UI disabled.

With tracing off every entry point here is a no-op, so the untraced run
executes the same benchmark code path minus the bookkeeping.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

#: units in Spark's formatted SQL metrics
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "ns": 1e-9, "min": 60.0,
          "h": 3600.0}
_PY_NODE_MARKERS = ("Python", "InPandas", "InArrow", "ArrowEval",
                    "BatchEval")


def metric_value(text: str | None) -> float:
    """Parse one formatted SQL metric: ``"362,385"``, ``"10.2 KiB"`` or
    the multi-task form ``"total (min, med, max ...)\\n774 ms (...)"``."""
    if not text:
        return 0.0
    head = text.split("\n")[-1].split(" (")[0].split()
    if not head:
        return 0.0
    num = float(head[0].replace(",", ""))
    return num * _UNITS.get(head[1], 1.0) if len(head) > 1 else num


class Tracer:
    """Span recorder; inert when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record ``name`` around the block. ``op`` names the request,
        job or micro-batch the span belongs to; children inherit it."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids),
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent or {}).get("op"),
               "name": name, "start": time.time(), **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def op_times(self, op: str) -> dict[str, float]:
        """Total seconds and call count per span name within one op."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] == op:
                out[s["name"] + "_s"] = (out.get(s["name"] + "_s", 0.0)
                                         + s["end"] - s["start"])
                out[s["name"] + ".calls"] = out.get(
                    s["name"] + ".calls", 0) + 1
        return out

    def dump(self, out_dir: str, workload: str, seed: int,
             ops: list[dict]) -> str:
        """Write the spans and the per-op counters; return the path."""
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"{workload}-seed{seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"workload": workload, "seed": seed, "ops": ops,
                       "spans": self.spans}, f)
        return path

    @contextmanager
    def checkpoint_spans(self):
        """Wrap ``checkpoint.materialize``/``materialize_counted`` in
        spans wherever the engine's modules bound them, for the duration
        of the block."""
        if not self.enabled:
            yield
            return
        from bigdata_project_hust_spark import checkpoint

        originals = {n: getattr(checkpoint, n)
                     for n in ("materialize", "materialize_counted")}
        wrapped = {n: self._wrap(f"checkpoint.{n}", f)
                   for n, f in originals.items()}
        patched = []
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(
                    "bigdata_project_hust_spark"):
                continue
            for n, f in originals.items():
                if getattr(mod, n, None) is f:
                    setattr(mod, n, wrapped[n])
                    patched.append((mod, n, f))
        try:
            yield
        finally:
            for mod, n, f in patched:
                setattr(mod, n, f)

    def _wrap(self, span_name, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(span_name, label=kwargs.get("label", "")):
                return fn(*args, **kwargs)
        return inner


class SparkCounters:
    """Per-op counters from Spark's status stores.

    The benchmark tags each op's jobs with a job group named after the
    op (``tag``); once the listener bus has drained, ``by_op`` folds the
    jobs, their stages and the SQL executions that ran them into one
    record per op. Reading at the end, not per op, keeps the store's
    asynchronous updates from racing the counts."""

    COUNTS = ("jobs", "stages", "tasks", "sql_executions",
              "shuffle_write_bytes", "shuffle_records", "spill_bytes",
              "scan_rows", "scan_bytes", "python_rows", "python_bytes",
              "unpartitioned_window_rows")

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc._jsc.sc().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def tag(self, op: str) -> None:
        self._sc.setJobGroup(op, op)

    def untag(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def by_op(self) -> dict[str, dict]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        conv = self._conv
        group_of: dict[int, str] = {}
        stages: dict[str, set[int]] = {}
        out: dict[str, dict] = {}
        for job in conv.asJava(self._app.jobsList(None)):
            group = job.jobGroup()
            if not group.isDefined():
                continue
            op = group.get()
            group_of[job.jobId()] = op
            rec = out.setdefault(op, dict.fromkeys(self.COUNTS, 0))
            rec["jobs"] += 1
            stages.setdefault(op, set()).update(
                int(s) for s in conv.asJava(job.stageIds()))
        for op, ids in stages.items():
            rec = out[op]
            for sid in ids:
                sd = self._app.lastStageAttempt(sid)
                rec["stages"] += 1
                if str(sd.status()) == "SKIPPED":
                    continue
                rec["tasks"] += sd.numTasks()
                rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                rec["shuffle_records"] += sd.shuffleWriteRecords()
                rec["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
                rec["scan_rows"] += sd.inputRecords()
                rec["scan_bytes"] += sd.inputBytes()
        for e in conv.asJava(self._sql.executionsList()):
            ops = {group_of.get(int(j))
                   for j in conv.asJava(e.jobs().keySet())}
            ops.discard(None)
            if len(ops) != 1:
                continue
            rec = out[ops.pop()]
            rec["sql_executions"] += 1
            self._plan_metrics(e.executionId(), rec)
        return out

    def _plan_metrics(self, execution_id: int, rec: dict) -> None:
        conv = self._conv
        graph = self._sql.planGraph(execution_id)
        nodes = {n.id(): n for n in conv.asJava(graph.allNodes())}
        names = {i: n.name() for i, n in nodes.items()}
        wanted = [i for i, name in names.items() if name == "Window"
                  or any(m in name for m in _PY_NODE_MARKERS)]
        if not wanted:
            return
        values = conv.asJava(self._sql.executionMetrics(execution_id))
        children: dict[int, list[int]] = {}
        for edge in conv.asJava(graph.edges()):
            children.setdefault(edge.toId(), []).append(edge.fromId())

        def metrics(i: int) -> dict[str, float]:
            return {m.name(): metric_value(values.get(m.accumulatorId()))
                    for m in conv.asJava(nodes[i].metrics())}

        for i in wanted:
            if names[i] == "Window":
                src = self._single_partition_exchange(i, nodes, names,
                                                      children)
                if src is not None:
                    rec["unpartitioned_window_rows"] += metrics(src).get(
                        "shuffle records written", 0.0)
                continue
            m = metrics(i)
            rec["python_rows"] += m.get("number of output rows", 0.0)
            rec["python_bytes"] += (
                m.get("data sent to Python workers", 0.0)
                + m.get("data returned from Python workers", 0.0))

    @staticmethod
    def _single_partition_exchange(i, nodes, names, children):
        """The ``Exchange SinglePartition`` feeding a Window with no
        partition spec, or None when the Window is partitioned."""
        frontier = list(children.get(i, []))
        for _ in range(4):
            nxt = []
            for c in frontier:
                if names.get(c) == "Exchange":
                    return c if "SinglePartition" in nodes[c].desc() \
                        else None
                nxt.extend(children.get(c, []))
            frontier = nxt
        return None
