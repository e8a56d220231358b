"""Spans and counters for the traced run.

Every span is recorded from the benchmark's side of a layer's public
entry point: the harness calls the entry point as its own step and
times it. Nothing inside the engine is edited. The only hooks are two
counting wrappers installed for traced runs alone: py4j
``GatewayClient.send_command`` (driver-to-JVM round trips) and the
``bo_sql_spark.parallel`` helpers ``lineage_cut`` / ``spread_scan``.
Untraced runs install neither.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span log; written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.counts = {"py4j": 0, "lineage_cut": 0, "spread_scan": 0}

    @contextlib.contextmanager
    def span(self, name: str, op: int = -1, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op, parent, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "op": s.op,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


def install_counters(tracer: Tracer) -> None:
    """Count py4j round trips and parallel-helper calls into ``tracer``.

    Must run before the query registry is imported: one operator module
    binds the parallel helpers at import time, so its names are rebound
    too (every loaded ``bo_sql_spark`` module holding the original)."""
    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command

    def counted_send(self, *a, **kw):
        tracer.counts["py4j"] += 1
        return send(self, *a, **kw)

    GatewayClient.send_command = counted_send

    import bo_sql_spark.parallel as par

    for name in ("lineage_cut", "spread_scan"):
        orig = getattr(par, name)

        def wrapper(*a, _orig=orig, _name=name, **kw):
            tracer.counts[_name] += 1
            return _orig(*a, **kw)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("bo_sql_spark") and getattr(mod, name, None) is orig:
                setattr(mod, name, wrapper)


# ---- Spark-side readings -------------------------------------------------


def catalyst_phases(qe) -> dict[str, float]:
    """Phase durations (ms) from the QueryExecution's planning tracker."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


_PLAN_NODES = {
    "scans": ("FileSourceScanExec", "RDDScanExec", "LocalTableScanExec", "InMemoryTableScanExec", "BatchScanExec"),
    "existing_rdd": ("RDDScanExec",),
    "exchanges": ("ShuffleExchangeExec",),
    "broadcasts": ("BroadcastExchangeExec",),
    "reused_exchanges": ("ReusedExchangeExec",),
}


def plan_counts(qe) -> dict[str, int]:
    """Node counts and parquet files read, from the executed (AQE final)
    plan, walking through query stages, reused exchanges and subqueries."""
    counts = {k: 0 for k in _PLAN_NODES}
    counts["files_read"] = 0
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        for key, names in _PLAN_NODES.items():
            if cls in names:
                counts[key] += 1
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics().get("numFiles")
            if m.isDefined():
                counts["files_read"] += int(m.get().value())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        subs = node.subqueries()
        todo.extend(subs.apply(i) for i in range(subs.size()))
    return counts


_STAGE_FIELDS = {
    "task_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


def job_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage task metrics of one job group, from
    the JVM status store (populated with the UI disabled). Waits for the
    listener bus to drain so finished stages are visible."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = {k: 0.0 for k in ("jobs", "stages", "tasks", "spill_bytes", "peak_exec_mem_mb", *_STAGE_FIELDS)}
    for jid in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            try:
                st = store.lastStageAttempt(sids.apply(i))
            except Py4JJavaError:  # a skipped stage (reused shuffle) has no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            for key, getter in _STAGE_FIELDS.items():
                out[key] += getattr(st, getter)()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"], st.peakExecutionMemory() / 2**20)
    return out
