"""Deterministic DAG runner: task-level retry, failure propagation, and
idempotent rerun over materialized parquet stage outputs.

Reference parity: the reference schedules its four ETL stages with Airflow
(`airflow/dags/etl_pipeline.py:26-58` — `[t1, t2] >> t3 >> t4`, default
`retries: 1`). The DATAFLOW twin is K2 (`plans/pipeline.py`), one composed
plan; this module is the twin of the SCHEDULING semantics that plan can't
model: per-task retry, downstream skip on upstream failure, and
restart-resumes-where-it-left-off.

Spark-first posture:
- Each task's output is a parquet directory; Spark's own job-commit
  ``_SUCCESS`` marker (written last by the commit protocol) doubles as the
  task-completion ledger — a task killed mid-write leaves no marker and
  reruns cleanly, so completion is exactly "the write committed", never a
  side file that can drift from the data.
- Rerun with the same ``out_dir`` skips every committed task (Airflow's
  catchup/clear semantics: only missing work runs) — at 100 TB a restarted
  pipeline must not recompute yesterday's good stages.
- The run ledger (`_RUN_LEDGER.json`) records status + attempts + rows per
  task per run, the runner's analog of Airflow's task-instance table.
  Rows are summed from the committed files' parquet footers
  (`registry.parquet_rows`), not counted by re-reading the output.

Interval scheduling (`@daily` + catchup, the reference's
``schedule_interval``/``catchup`` declaration) lives in
`orchestration/schedule.py` as a pure deterministic tick over dated
out_dirs — the daemon itself stays out of scope (a crontab entry invoking
`scripts/run_schedule.py` is the tick at any scale).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from australian_company_etl_spark.sources.publish import write_json_atomic
from australian_company_etl_spark.sources.registry import parquet_rows, read_parquet

LEDGER_NAME = "_RUN_LEDGER.json"

#: Airflow default_args parity (etl_pipeline.py: "retries": 1)
DEFAULT_RETRIES = 1


@dataclass(frozen=True)
class Task:
    """One DAG node. ``build(spark, inputs)`` returns the stage's output
    DataFrame; ``inputs`` maps each dependency name to a DataFrame read
    back from its PUBLISHED parquet — stages communicate only through
    materialized outputs, never closures, so a resumed run is identical
    to an uninterrupted one."""

    name: str
    build: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    deps: tuple[str, ...] = ()
    retries: int = DEFAULT_RETRIES


@dataclass
class TaskResult:
    status: str  # success | skipped | failed | upstream_failed
    attempts: int = 0
    rows: int | None = None
    error: str | None = None
    wave: int | None = None  # topological level the task ran in

    def as_dict(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if v is not None}


def task_output_path(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, f"{name}.parquet")


def _committed(out_dir: str, name: str) -> bool:
    return os.path.exists(os.path.join(task_output_path(out_dir, name), "_SUCCESS"))


def topo_order(tasks: list[Task]) -> list[Task]:
    """Kahn's algorithm with name-sorted tie-break — deterministic order,
    loud failure on unknown deps or cycles."""
    by_name = {t.name: t for t in tasks}
    if len(by_name) != len(tasks):
        raise ValueError("duplicate task names")
    for t in tasks:
        for d in t.deps:
            if d not in by_name:
                raise ValueError(f"task {t.name!r} depends on unknown task {d!r}")
    pending = {t.name: set(t.deps) for t in tasks}
    order: list[Task] = []
    while pending:
        ready = sorted(n for n, deps in pending.items() if not deps)
        if not ready:
            raise ValueError(f"dependency cycle among {sorted(pending)}")
        for n in ready:
            order.append(by_name[n])
            del pending[n]
        for deps in pending.values():
            deps.difference_update(ready)
    return order


def topo_waves(tasks: list[Task]) -> list[list[Task]]:
    """Group tasks into topological LEVELS: wave k holds every task whose
    longest dependency chain has k edges. Tasks within a wave are
    mutually independent by construction and run concurrently — the
    `[t1, t2] >> t3` parallelism Airflow's scheduler provides."""
    order = topo_order(tasks)  # validates names/deps/cycles
    level: dict[str, int] = {}
    for t in order:
        level[t.name] = 1 + max((level[d] for d in t.deps), default=-1)
    waves: list[list[Task]] = [[] for _ in range(max(level.values()) + 1)]
    for t in order:
        waves[level[t.name]].append(t)
    return waves


def _run_one(spark: SparkSession, task: Task, out_dir: str) -> TaskResult:
    """One task: retry loop → publish → commit check. Reads its inputs
    from the dependencies' PUBLISHED parquet inside the attempt, so a
    retry re-reads committed data, never a stale handle."""
    path = task_output_path(out_dir, task.name)
    res = TaskResult(status="failed")
    for attempt in range(1 + task.retries):
        res.attempts = attempt + 1
        try:
            inputs = {d: read_parquet(spark, task_output_path(out_dir, d)) for d in task.deps}
            df = task.build(spark, inputs)
            df.write.mode("overwrite").parquet(path)
            res.rows = parquet_rows(path)
            res.status = "success"
            res.error = None
            break
        except Exception as exc:  # noqa: BLE001 — retry semantics need the catch
            res.error = f"{type(exc).__name__}: {exc}"
    return res


def run_dag(
    spark: SparkSession, tasks: list[Task], out_dir: str, max_workers: int = 4
) -> dict[str, TaskResult]:
    """Run (or resume) the DAG wave by wave, tasks within a wave in
    parallel (Spark's scheduler interleaves their jobs across executor
    threads — concurrent INDEPENDENT stages keep a cluster busy where a
    serial runner would idle it between shuffles). Committed tasks are
    skipped; a task failing all ``1 + retries`` attempts is marked failed
    and every transitive downstream task is marked upstream_failed
    (independent branches still run — Airflow's trigger-rule default).
    Returns and persists the run ledger."""
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(out_dir, exist_ok=True)
    results: dict[str, TaskResult] = {}
    for wave_i, wave in enumerate(topo_waves(tasks)):
        to_run: list[Task] = []
        for task in wave:
            bad = [d for d in task.deps if results[d].status in ("failed", "upstream_failed")]
            if bad:
                results[task.name] = TaskResult(
                    status="upstream_failed", error=f"upstream: {bad}", wave=wave_i
                )
            elif _committed(out_dir, task.name):
                results[task.name] = TaskResult(status="skipped", wave=wave_i)
            else:
                to_run.append(task)
        if not to_run:
            continue
        with ThreadPoolExecutor(max_workers=min(max_workers, len(to_run))) as pool:
            futures = {t.name: pool.submit(_run_one, spark, t, out_dir) for t in to_run}
        for name, fut in futures.items():
            results[name] = fut.result()
            results[name].wave = wave_i

    ledger_path = os.path.join(out_dir, LEDGER_NAME)
    history = []
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            try:
                history = json.load(f)
            except ValueError:
                # a ledger torn by a pre-atomic-write crash must not brick
                # every subsequent run of this out_dir: completion truth
                # lives in the _SUCCESS markers, the ledger is reporting
                # history — start a fresh history rather than failing the
                # (already finished) run forever
                history = []
    history.append({name: r.as_dict() for name, r in results.items()})
    write_json_atomic(ledger_path, history)
    return results
