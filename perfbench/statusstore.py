"""Spark's own counters, read over py4j from the in-process status stores.

`AppStatusStore` (stage totals: records and bytes read, task run time, GC,
shuffle, spill) and `SQLAppStatusStore` (per plan-node SQL metrics) are
filled by listeners that run with `spark.ui.enabled=false`, so no UI port
or REST scrape is needed.  Nothing is added inside the program: the
benchmark takes a `Mark` before an action and sums what came after it.

SQL metric values arrive pre-formatted ("2.5 MiB", "total (min, med, max
...)\\n15.9 s (...)"), so node totals carry the 2-4 significant digits
Spark prints.  "time to initialize Python workers" and "time to start
Python workers" are summed per task and overlap each other and the run
time, so they are never reported as wall time.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric → bytes, seconds or a count."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown SQL metric unit in {text!r}")
    return num * _UNITS.get(unit, 1.0)


@dataclass(frozen=True)
class Mark:
    stage: int
    job: int
    execution: int


_STAGE_FIELDS = {
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1.0),
    "input_records": ("inputRecords", 1.0),
    "output_bytes": ("outputBytes", 1.0),
    "shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "disk_spill_bytes": ("diskBytesSpilled", 1.0),
    "memory_spill_bytes": ("memoryBytesSpilled", 1.0),
}


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _drain(self) -> None:
        # listeners run on an async bus: let them catch up before reading
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        return _iterate(self._app.stageList(None, False, False, self._no_quantiles, None))

    def mark(self) -> Mark:
        self._drain()
        stage = max((s.stageId() for s in self._stages()), default=-1)
        job = max((j.jobId() for j in _iterate(self._app.jobsList(None))), default=-1)
        execution = max(
            (e.executionId() for e in _iterate(self._sql.executionsList())), default=-1
        )
        return Mark(stage, job, execution)

    def since(self, mark: Mark) -> dict[str, float]:
        """Totals over every stage, job and SQL execution after `mark`."""
        self._drain()
        out = {k: 0.0 for k in _STAGE_FIELDS}
        out.update(stages=0.0, tasks=0.0)
        for s in self._stages():
            if s.stageId() <= mark.stage or s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(s, getter)() * scale
        out["jobs"] = float(
            sum(1 for j in _iterate(self._app.jobsList(None)) if j.jobId() > mark.job)
        )
        return out

    def sql_nodes(self, mark: Mark) -> dict[tuple[str, str], float]:
        """(plan node name, metric name) → total over SQL executions after
        `mark`, e.g. ("ArrowEvalPython", "time to run Python workers")."""
        self._drain()
        out: dict[tuple[str, str], float] = {}
        for e in _iterate(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= mark.execution:
                continue
            values = self._sql.executionMetrics(eid)
            for node in _iterate(self._sql.planGraph(eid).allNodes()):
                name = node.name().strip()
                for m in _iterate(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        key = (name, m.name())
                        out[key] = out.get(key, 0.0) + parse_metric(v.get())
        return out


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()
