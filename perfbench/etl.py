"""Workload `etl_refresh`: new data lands, and the system makes it servable.

One pass runs the reference DAG `[t1 extract_commoncrawl, t2 extract_abr]
>> t3 entity_matching >> t4 run_quality_checks` on the runner into a fresh
out_dir, then publishes the serving snapshot (`snapshot_tables`, which also
builds the full-text, sharded and trigram indexes) into a fresh directory.
Each pass is checked: every task's ledger status is `success`, the t4
report equals the `etl_dag_end_to_end` DuckDB twin, and the snapshot
manifest's row counts equal the source tables'.

There is no warm-up pass. A scheduled refresh (`scripts/run_schedule.py`
from cron) starts a fresh session per tick, so its first pass pays JIT
and code generation every time. A run measures exactly that one pass
(about 20 s on a 4-core host); `--seconds` does not lengthen it.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import expected
from perfbench.common import system_cpu_s

TASKS = ["extract_commoncrawl", "extract_abr", "entity_matching", "run_quality_checks"]
PUBLISH_PARTS = {
    "fulltext": "build_fulltext_index",
    "sharded": "build_fulltext_index_sharded",
    "trigram": "build_trigram_index",
}
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")

LAYER_METRICS = (
    [f"runner.task.{t}_s" for t in TASKS]
    + ["runner.wave0_overlap", "runner.overhead_s", "runner.attempts"]
    + ["matching.exec_cpu_s", "matching.gc_s", "matching.shuffle_mb"]
    + ["matching.pairs_scored", "matching.pairs_kept", "matching.match_yield"]
    + ["publish.tables_s"]
    + [f"publish.{p}_s" for p in PUBLISH_PARTS]
)


class _Tracer:
    """Per-pass spans around the DAG tasks and the publish step, recorded
    from the benchmark side: each task's build is wrapped (as
    `dags.flaky` wraps it) to tag the task's Spark jobs with a job group and
    note when it started, and the publish step's index builds are timed by
    wrapping the module functions `snapshot_tables` calls."""

    def __init__(self, spark, store):
        self.spark = spark
        self.store = store
        self.start: dict[str, float] = {}
        self.marks: dict[str, object] = {}
        self.attempts = 0
        self.publish: dict[str, float] = {}

    def wrap(self, task):
        from australian_company_etl_spark.orchestration.runner import Task

        def build(spark, inputs):
            self.attempts += 1
            self.start.setdefault(task.name, time.time())
            self.marks.setdefault(task.name, self.store.mark())
            spark.sparkContext.setJobGroup(task.name, task.name)
            return task.build(spark, inputs)

        return Task(task.name, build, deps=task.deps, retries=task.retries)

    def patch_publish(self):
        from australian_company_etl_spark.serving import http_api

        originals = {part: getattr(http_api, fn) for part, fn in PUBLISH_PARTS.items()}

        def timed(part, fn):
            def call(*a, **kw):
                t = time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    self.publish[part] = self.publish.get(part, 0.0) + time.perf_counter() - t

            return call

        for part, fn in originals.items():
            setattr(http_api, PUBLISH_PARTS[part], timed(part, fn))

        def restore():
            for part, fn in originals.items():
                setattr(http_api, PUBLISH_PARTS[part], fn)

        return restore

    def layers(self, dag_wall_s: float, publish_s: float, matched_rows: int, scored: int, since) -> dict:
        rec = self.store.since(since)
        out: dict[str, float] = {}
        end = {t: rec.groups.get(t, (0, 0))[1] / 1e3 for t in TASKS}
        for t in TASKS:
            out[f"runner.task.{t}_s"] = max(0.0, end[t] - self.start.get(t, end[t]))
        t1, t2 = "extract_commoncrawl", "extract_abr"
        wave0 = max(end[t1], end[t2]) - min(self.start[t1], self.start[t2])
        out["runner.wave0_overlap"] = (out[f"runner.task.{t1}_s"] + out[f"runner.task.{t2}_s"]) / wave0
        waves = wave0 + out["runner.task.entity_matching_s"] + out["runner.task.run_quality_checks_s"]
        out["runner.overhead_s"] = dag_wall_s - waves
        out["runner.attempts"] = float(self.attempts)
        m = self.store.since(
            self.marks["entity_matching"],
            until=self.marks["run_quality_checks"],
            group="entity_matching",
            node_names=JOIN_NODES,
        )
        out["matching.exec_cpu_s"] = m.executor_cpu_s
        out["matching.gc_s"] = m.gc_s
        out["matching.shuffle_mb"] = m.shuffle_mb
        # the score threshold is pushed into the blocking join's condition,
        # so the join nodes emit only the pairs that passed it
        out["matching.pairs_kept"] = sum(
            v for k, v in m.node_metrics.items() if k.endswith(":number of output rows")
        )
        out["matching.pairs_scored"] = float(scored)
        out["matching.match_yield"] = matched_rows / scored if scored else 0.0
        for part in PUBLISH_PARTS:
            out[f"publish.{part}_s"] = self.publish.get(part, 0.0)
        out["publish.tables_s"] = publish_s - sum(self.publish.values())
        return out


def _report_digest(dag_dir: str) -> str:
    con = expected.connect(dag_dir)
    return expected.sql_digest(con, "SELECT * FROM run_quality_checks")


def _scored_pairs(dag_dir: str) -> int:
    """Candidate pairs t3 scores: Σ over nation-key blocks of |suppliers| ×
    |customers with a valid name|, from the staged t1 and t2 outputs (the
    blocking and the name filter of `plans.matching.unify_frames`)."""
    from australian_company_etl_spark.functions.normalize import valid_name_sql

    con = expected.connect(dag_dir)
    return con.execute(
        f"""SELECT coalesce(sum(s.n * c.n), 0)
            FROM (SELECT s_nationkey AS k, count(*) AS n FROM extract_abr GROUP BY 1) s
            JOIN (SELECT c_nationkey AS k, count(*) AS n FROM extract_commoncrawl
                  WHERE {valid_name_sql("c_name")} GROUP BY 1) c USING (k)"""
    ).fetchone()[0]


def run(spark, ctx) -> dict:
    from australian_company_etl_spark.orchestration.dags import reference_dag
    from australian_company_etl_spark.orchestration.runner import run_dag
    from australian_company_etl_spark.serving.http_api import SERVING_TABLES, snapshot_tables

    with ctx.building():
        want_report = expected.oracle_digests(
            ctx.data_dir, ctx.data_digest, ["etl_dag_end_to_end"], ctx.expected_cache
        )["etl_dag_end_to_end"]
    con = expected.connect(ctx.data_dir)
    want_rows = {
        t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in SERVING_TABLES
    }
    want_rows["fulltext_index.n_docs"] = con.execute(
        "SELECT count(DISTINCT doc_id) FROM documents"
    ).fetchone()[0]

    def one_pass(tracer: _Tracer | None) -> tuple[float, float, bool, dict]:
        out = os.path.join(ctx.scratch, "etl")
        tasks = reference_dag(ctx.data_dir)
        if tracer:
            tasks = [tracer.wrap(t) for t in tasks]
            mark = tracer.store.mark()
            restore = tracer.patch_publish()
        cpu0 = system_cpu_s()
        t0 = time.perf_counter()
        ledger = run_dag(spark, tasks, os.path.join(out, "dag"))
        t1 = time.perf_counter()
        if tracer:
            spark.sparkContext.setJobGroup("publish", "publish")
        try:
            manifest = snapshot_tables(spark, ctx.data_dir, os.path.join(out, "snap"))
        finally:
            if tracer:
                restore()
                spark.sparkContext.setJobGroup("", "")
        t2 = time.perf_counter()
        cpu = system_cpu_s() - cpu0
        ctx.measured.close()  # the checks and trace reads below are not part of the pass
        ok = all(r.status == "success" for r in ledger.values()) and len(ledger) == len(TASKS)
        ok = ok and _report_digest(os.path.join(out, "dag")) == want_report
        got_rows = {t: manifest[t]["rows"] for t in SERVING_TABLES}
        got_rows["fulltext_index.n_docs"] = manifest["fulltext_index"]["n_docs"]
        ok = ok and got_rows == want_rows
        layers = {}
        if tracer:
            matched = ledger["entity_matching"].rows or 0
            scored = _scored_pairs(os.path.join(out, "dag"))
            layers = tracer.layers(t1 - t0, t2 - t1, matched, scored, mark)
        shutil.rmtree(out, ignore_errors=True)
        return t2 - t0, cpu, ok, layers

    # one pass, and no warm-up: a scheduled refresh runs in a fresh session,
    # so its first pass pays JIT and code generation the way every refresh
    # does; a second pass in the same session would time something else
    ctx.setup_done()
    ctx.window()
    tracer = _Tracer(spark, ctx.store) if ctx.trace else None
    dt, cpu_s, ok, layers = one_pass(tracer)
    return {
        "ops_ms": [dt * 1e3],
        "busy_s": dt,
        "cpu_s": cpu_s,
        "attempted": 1,
        "failed": 0 if ok else 1,
        "layers": layers,
    }
