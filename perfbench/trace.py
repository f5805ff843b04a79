"""Tracing from outside the program, for the benchmark's traced run.

``Tracer.install`` wraps every public function of each traced module so
that a call records a span (layer, start, end, parent). It also wraps
the DataFrame driver transfers (``collect``/``toPandas``) to count and
time them. ``SparkStatus`` reads Spark's status stores after a pass;
each job, stage and SQL execution is then charged to the innermost span
that was open when it was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import re
import time

from .stats import Span

# layer name -> module whose public functions form that layer; the
# modules the workloads call
LAYER_MODULES = {
    "sources": "mapreducenonequijoin_spark.sources.io",
    "operators.joins": "mapreducenonequijoin_spark.operators.joins",
    "operators.dedup": "mapreducenonequijoin_spark.operators.dedup",
    "operators.ivf": "mapreducenonequijoin_spark.operators.ivf",
    "operators.similarity": "mapreducenonequijoin_spark.operators.similarity",
    "operators.multimodal": "mapreducenonequijoin_spark.operators.multimodal",
    "operators.pq": "mapreducenonequijoin_spark.operators.pq",
    "operators.editdist": "mapreducenonequijoin_spark.operators.editdist",
}
_PACKAGE = "mapreducenonequijoin_spark"


def _resolve(module: str, name: str):
    return getattr(importlib.import_module(module), name)


class _Traced:
    """Callable stand-in for a traced function. It pickles as a
    reference to the original, so a UDF closure that captured it runs
    the untraced function on the workers."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._fn, self._layer, self._tracer = fn, layer, tracer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._fn.__name__):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return _resolve, (self._fn.__module__, self._fn.__name__)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []
        self.collect_calls = 0
        self.collect_s = 0.0
        self._in_collect = False

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, parent.sid if parent else None, layer, name,
                 time.time(), 0.0, len(self._stack))
        self._next += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self.spans.append(s)

    # -- patching ------------------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import sys

        wrapped: dict[int, _Traced] = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == modname
                ):
                    wrapped[id(obj)] = _Traced(obj, layer, self)
        # rebind every module-level reference, including names the plan
        # modules imported with ``from ... import``
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == _PACKAGE or modname.startswith(_PACKAGE + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None and inspect.isfunction(obj):
                    self._patch(mod, name, w)
        self._install_driver_transfer()

    def _install_driver_transfer(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        for meth in ("collect", "toPandas"):
            orig = getattr(DataFrame, meth)

            def timed(df, *a, __orig=orig, **kw):
                if tracer._in_collect:
                    return __orig(df, *a, **kw)
                tracer._in_collect = True
                t0 = time.perf_counter()
                try:
                    return __orig(df, *a, **kw)
                finally:
                    tracer.collect_s += time.perf_counter() - t0
                    tracer.collect_calls += 1
                    tracer._in_collect = False

            self._patch(DataFrame, meth, timed)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)


_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_ROWS = "number of output rows"


def parse_metric(val: str) -> float:
    """Total of a formatted SQL metric: '1,981', '28.0 KiB' or the
    multi-line 'total (min, med, max ...)\\n28.0 KiB (...)' form."""
    lines = val.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)


class SparkStatus:
    """New jobs, stages and SQL executions since the previous ``drain``."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._core = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._stage_defaults = [
            getattr(self._core, f"stageList$default${i}")() for i in range(2, 6)
        ]
        self.last_job = self.last_stage = self.last_exec = -1
        self.drain()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> dict[str, list[dict]]:
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = [
            {"id": j["jobId"], "t": j["submissionTime"] / 1000.0}
            for j in self._json(self._core.jobsList(None))
            if j["jobId"] > self.last_job and j.get("submissionTime")
        ]
        stages = [
            {
                "id": s["stageId"],
                "t": s["submissionTime"] / 1000.0,
                "tasks": s["numCompleteTasks"],
                "scan_bytes": s["inputBytes"],
                "shuffle_write_bytes": s["shuffleWriteBytes"],
                "shuffle_records": s["shuffleWriteRecords"],
                "spill_bytes": s["diskBytesSpilled"],
            }
            for s in self._json(self._core.stageList(None, *self._stage_defaults))
            if s["stageId"] > self.last_stage and s.get("submissionTime")
        ]
        execs = self._new_executions()
        self.last_job = max([j["id"] for j in jobs] + [self.last_job])
        self.last_stage = max([s["id"] for s in stages] + [self.last_stage])
        self.last_exec = max([e["id"] for e in execs] + [self.last_exec])
        return {"jobs": jobs, "stages": stages, "executions": execs}

    def _new_executions(self) -> list[dict]:
        count = self._sql.executionsCount()
        found: list = []
        offset = count
        while offset > 0:
            step = min(64, offset)
            offset -= step
            chunk = self._sql.executionsList(offset, step)
            ids = [chunk.apply(i).executionId() for i in range(chunk.size())]
            new = [chunk.apply(i) for i, x in enumerate(ids) if x > self.last_exec]
            found = new + found
            if len(new) < len(ids):
                break
        return [self._execution(e) for e in found]

    def _execution(self, e) -> dict:
        eid = e.executionId()
        out = {"id": eid, "t": e.submissionTime() / 1000.0,
               "py_sent": 0.0, "py_recv": 0.0, "py_rows": 0.0}
        names = {m["accumulatorId"]: m["name"] for m in self._json(e.metrics())}
        if _PY_RECV not in names.values():
            return out
        values = self._json(self._sql.executionMetrics(eid))
        for acc, name in names.items():
            v = values.get(str(acc))
            if v is not None and name == _PY_SENT:
                out["py_sent"] += parse_metric(v)
            elif v is not None and name == _PY_RECV:
                out["py_recv"] += parse_metric(v)
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            ms = {m["name"]: m["accumulatorId"] for m in self._json(nodes.apply(i).metrics())}
            if _PY_RECV in ms and _ROWS in ms:
                v = values.get(str(ms[_ROWS]))
                if v is not None:
                    out["py_rows"] += parse_metric(v)
        return out
