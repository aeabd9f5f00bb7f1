"""Tracing used only by traced runs: SQL metrics read from the final
adaptive plan after an action, Spark job counts from the status tracker,
and wall-clock spans around the benchmark's calls into each layer."""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

# operators that only wrap the real plan: descend without recording
_WRAPPERS = {"AdaptiveSparkPlan", "InputAdapter", "ReusedExchange", "ResultQueryStage"}


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.length())]


def _node_metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    return _scala_seq(node.children())


def plan_metrics(df) -> list[dict]:
    """Operators of ``df``'s executed plan with their SQL metrics, in
    pre-order. Call after an action on ``df``: adaptive execution then
    holds the final plan, whose metrics carry the action's work."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name not in _WRAPPERS:
            out.append({"op": name, "desc": node.simpleString(40)[:200], "metrics": _node_metrics(node)})
        stack.extend(reversed(_children(node)))
    return out


def metric_sum(ops: list[dict], metric: str, op_prefix: str = "", desc_has: str = "") -> int:
    """Sum of one SQL metric over the operators whose name starts with
    ``op_prefix`` and whose description contains ``desc_has``."""
    return sum(
        o["metrics"].get(metric, 0)
        for o in ops
        if o["op"].startswith(op_prefix) and desc_has in o["desc"]
    )


def shuffle_bytes(ops: list[dict]) -> int:
    return metric_sum(ops, "shuffleBytesWritten", "Exchange")


def python_times_s(ops: list[dict], op_prefix: str) -> dict[str, float]:
    """Python worker boot, init and run time of the Python operators whose
    name starts with ``op_prefix``, summed over tasks (Spark reports ms)."""
    return {
        k: metric_sum(ops, m, op_prefix) / 1e3
        for k, m in (("boot", "pythonBootTime"), ("init", "pythonInitTime"), ("exec", "pythonTotalTime"))
    }


@contextmanager
def job_group(sc, name: str):
    """Tag the Spark jobs started inside with ``name``; yields a callable
    that counts them through the status tracker."""
    sc.setJobGroup(name, name)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc._jsc.clearJobGroup()


class Tracer:
    """Spans and plan metrics when ``enabled``; a pass-through otherwise,
    so the same job code runs traced and untraced."""

    _ids = itertools.count()

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.plans: dict[str, list[dict]] = {}

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        with job_group(self.sc, f"bench-{layer}-{next(self._ids)}") as n_jobs:
            t0 = time.perf_counter()
            yield
            wall = time.perf_counter() - t0
        self.spans.append({"layer": layer, "wall_s": wall, "spark_jobs": n_jobs()})

    def collect(self, df, layer: str) -> list:
        rows = df.collect()
        if self.enabled:
            self.plans[layer] = plan_metrics(df)
        return rows
