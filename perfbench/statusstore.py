"""Read Spark's in-process status stores around a call.

Spark keeps per-job, per-stage and per-SQL-execution metrics in the
driver's `AppStatusStore` / `SQLAppStatusStore` whether or not the web UI
is enabled. This module reads them through py4j, serialising each list to
JSON inside the JVM with Jackson (one round trip per list instead of one
per field), and diffs them against a mark taken before the call:

    reader = StatusStore(spark)
    mark = reader.mark()
    df.write.format("noop").mode("overwrite").save()
    rec = reader.since(mark)

`rec` sums executor run and CPU time, GC time, shuffle bytes, spill bytes
and peak execution memory over the stages the call ran, and the time the
SQL plan nodes spent in Python workers. Only stages of completed jobs are
counted; a stage skipped because its shuffle output was reused did no work
and contributes nothing.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

# SQL-metric names of the Python-evaluation nodes (ArrowEvalPython,
# FlatMapCoGroupsInPandas, MapInPandas, BatchEvalPython, ...)
PYTHON_TIME_METRIC = "time to run Python workers"

_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str | None) -> float:
    """A formatted SQL-metric value as a number: seconds for timings, bytes
    for sizes, a plain number for sums. Aggregated values look like
    'total (min, med, max (stageId: taskId))\\n3.5 s (855 ms, ...)'."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNIT_S:
        return value * _UNIT_S[unit]
    if unit in _UNIT_B:
        return value * _UNIT_B[unit]
    return value


@dataclass(frozen=True)
class Mark:
    job_id: int
    execution_id: int


@dataclass
class Record:
    """Work done by the Spark jobs started since a mark."""

    jobs: int = 0
    stages: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_execution_bytes: int = 0
    python_s: float = 0.0
    # job group -> (first submission, last completion) epoch ms
    groups: dict[str, tuple[int, int]] = field(default_factory=dict)
    # "<node kind>:<metric name>" -> summed value, for the node kinds
    # (first word of the plan node's name) asked for in node_names
    node_metrics: dict[str, float] = field(default_factory=dict)

    @property
    def shuffle_mb(self) -> float:
        return (self.shuffle_read_bytes + self.shuffle_write_bytes) / 1e6

    @property
    def spill_mb(self) -> float:
        return self.spill_bytes / 1e6


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def _json(self, obj) -> list | dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _jobs(self) -> list[dict]:
        return self._json(self._app.jobsList(None))

    def _stages(self) -> list[dict]:
        return self._json(
            self._app.stageList(None, False, False, self._no_quantiles, None)
        )

    def _last_execution_id(self) -> int:
        # the store keeps the most recent executions only, so the count of
        # kept executions is not the last id; the list is in id order
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).head().executionId())

    def mark(self) -> Mark:
        jobs = self._jobs()
        return Mark(
            job_id=max((j["jobId"] for j in jobs), default=-1),
            execution_id=self._last_execution_id(),
        )

    def since(
        self,
        mark: Mark,
        until: Mark | None = None,
        group: str | None = None,
        node_names: tuple[str, ...] = (),
    ) -> Record:
        """Work since ``mark`` (and up to ``until``, if given); with
        ``group``, only the jobs of that job group and their stages."""
        rec = Record()
        last_job = until.job_id if until else float("inf")
        jobs = [
            j
            for j in self._jobs()
            if mark.job_id < j["jobId"] <= last_job
            and (group is None or j.get("jobGroup") == group)
        ]
        stage_ids: set[int] = set()
        for j in jobs:
            rec.jobs += 1
            stage_ids.update(j["stageIds"])
            start, end = j.get("submissionTime"), j.get("completionTime")
            tag = j.get("jobGroup")
            if tag and start is not None and end is not None:
                lo, hi = rec.groups.get(tag, (start, end))
                rec.groups[tag] = (min(lo, start), max(hi, end))
        for s in self._stages():
            if s["stageId"] not in stage_ids or s["status"] != "COMPLETE":
                continue
            rec.stages += 1
            rec.executor_run_s += s["executorRunTime"] / 1e3
            rec.executor_cpu_s += s["executorCpuTime"] / 1e9
            rec.gc_s += s["jvmGcTime"] / 1e3
            rec.shuffle_read_bytes += s["shuffleReadBytes"]
            rec.shuffle_write_bytes += s["shuffleWriteBytes"]
            rec.spill_bytes += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            rec.peak_execution_bytes = max(rec.peak_execution_bytes, s["peakExecutionMemory"])
        last = until.execution_id if until else self._last_execution_id()
        for eid in range(mark.execution_id + 1, last + 1):
            self._add_plan_metrics(rec, eid, node_names)
        return rec

    def _add_plan_metrics(self, rec: Record, eid: int, node_names: tuple[str, ...]) -> None:
        try:
            nodes = self._json(self._sql.planGraph(eid).allNodes())
            values = self._json(self._sql.executionMetrics(eid))
        except Exception:  # noqa: BLE001 — an execution evicted from the store
            return
        for node in nodes:
            for m in node.get("metrics", []):
                value = parse_metric(values.get(str(m["accumulatorId"])))
                if m["name"] == PYTHON_TIME_METRIC:
                    rec.python_s += value
                kind = node["name"].split(" ")[0]
                if kind in node_names:
                    key = f"{kind}:{m['name']}"
                    rec.node_metrics[key] = rec.node_metrics.get(key, 0.0) + value
