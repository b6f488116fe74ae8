"""Orchestration runtime: retry, failure propagation, idempotent resume,
and materialized-DAG == composed-plan equality.

Reference parity: airflow/dags/etl_pipeline.py:26-58 ([t1,t2] >> t3 >> t4
with default retries=1) — these tests make the scheduling semantics the
reference gets from Airflow executable against the runner.
"""

from __future__ import annotations

import pytest

from australian_company_etl_spark.orchestration.dags import flaky, reference_dag
from australian_company_etl_spark.orchestration.runner import (
    Task,
    run_dag,
    task_output_path,
    topo_order,
)


def _marker_mtime(out_dir: str, name: str) -> float:
    import os

    return os.path.getmtime(os.path.join(task_output_path(out_dir, name), "_SUCCESS"))


def test_topo_order_deterministic_and_validated():
    t = lambda s, i: None  # noqa: E731 — builds never run here
    order = topo_order(
        [Task("c", t, deps=("a", "b")), Task("b", t), Task("a", t), Task("d", t, deps=("c",))]
    )
    assert [x.name for x in order] == ["a", "b", "c", "d"]
    with pytest.raises(ValueError, match="unknown task"):
        topo_order([Task("a", t, deps=("ghost",))])
    with pytest.raises(ValueError, match="cycle"):
        topo_order([Task("a", t, deps=("b",)), Task("b", t, deps=("a",))])
    with pytest.raises(ValueError, match="duplicate"):
        topo_order([Task("a", t), Task("a", t)])


def test_reference_dag_end_to_end_equals_composed_plan(spark, sf_dir, tmp_path):
    """The orchestrated t4 report (each stage materialized to parquet)
    must equal the oracle-gated composed K2 plan — materialization
    boundaries change scheduling, not results."""
    from australian_company_etl_spark.plans.pipeline import etl_dag_end_to_end

    out = str(tmp_path / "run")
    results = run_dag(spark, reference_dag(sf_dir), out)
    assert {n: r.status for n, r in results.items()} == {
        "extract_commoncrawl": "success",
        "extract_abr": "success",
        "entity_matching": "success",
        "run_quality_checks": "success",
    }
    staged = {
        (r.metric, r.value)
        for r in spark.read.parquet(task_output_path(out, "run_quality_checks")).collect()
    }
    composed = {(r.metric, r.value) for r in etl_dag_end_to_end(spark, sf_dir).collect()}
    assert staged == composed


def test_warm_reference_dag_counts_rows_from_footers(spark, sf_dir, tmp_path):
    """Each task's ledger `rows` is its output's parquet-footer row count,
    equal to what Spark reads back, so a warm run of the reference DAG
    starts no job to count what it wrote: at most 14 jobs in all."""
    from tests.conftest import spark_jobs

    run_dag(spark, reference_dag(sf_dir), str(tmp_path / "warm"))
    out = str(tmp_path / "run")
    results = {}
    names = spark_jobs(spark, lambda: results.update(run_dag(spark, reference_dag(sf_dir), out)))
    assert len(names) <= 14, names
    for name, r in results.items():
        assert r.rows == spark.read.parquet(task_output_path(out, name)).count() > 0


def test_rerun_skips_committed_tasks(spark, sf_dir, tmp_path):
    out = str(tmp_path / "run")
    run_dag(spark, reference_dag(sf_dir), out)
    before = {n: _marker_mtime(out, n) for n in ("extract_abr", "entity_matching")}
    results = run_dag(spark, reference_dag(sf_dir), out)
    assert all(r.status == "skipped" for r in results.values())
    after = {n: _marker_mtime(out, n) for n in before}
    assert after == before, "a skipped task rewrote its output"


def test_transient_failure_retried_to_success(spark, sf_dir, tmp_path):
    """Airflow default_args retries=1 parity: one transient failure is
    absorbed by the retry; the run still succeeds end-to-end."""
    counter: dict = {}
    tasks = [
        flaky(t, fail_times=1, counter=counter) if t.name == "entity_matching" else t
        for t in reference_dag(sf_dir)
    ]
    results = run_dag(spark, tasks, str(tmp_path / "run"))
    assert results["entity_matching"].status == "success"
    assert results["entity_matching"].attempts == 2
    assert results["run_quality_checks"].status == "success"


def test_exhausted_retries_fail_and_propagate(spark, sf_dir, tmp_path):
    """A task failing every attempt is failed; its downstream is
    upstream_failed (never attempted); the independent branch still
    runs (Airflow's default trigger rule)."""
    counter: dict = {}
    tasks = [
        flaky(t, fail_times=99, counter=counter) if t.name == "extract_abr" else t
        for t in reference_dag(sf_dir)
    ]
    out = str(tmp_path / "run")
    results = run_dag(spark, tasks, out)
    assert results["extract_abr"].status == "failed"
    assert results["extract_abr"].attempts == 2  # 1 + retries
    assert "injected transient failure" in results["extract_abr"].error
    assert results["entity_matching"].status == "upstream_failed"
    assert results["run_quality_checks"].status == "upstream_failed"
    assert results["extract_commoncrawl"].status == "success"
    # resume with the failure cleared: the good branch is skipped, only
    # the failed task and its downstream run
    results2 = run_dag(spark, reference_dag(sf_dir), out)
    assert results2["extract_commoncrawl"].status == "skipped"
    assert results2["extract_abr"].status == "success"
    assert results2["entity_matching"].status == "success"
    assert results2["run_quality_checks"].status == "success"


def test_ledger_records_run_history(spark, sf_dir, tmp_path):
    import json
    import os

    from australian_company_etl_spark.orchestration.runner import LEDGER_NAME

    out = str(tmp_path / "run")
    run_dag(spark, reference_dag(sf_dir), out)
    run_dag(spark, reference_dag(sf_dir), out)
    with open(os.path.join(out, LEDGER_NAME)) as f:
        history = json.load(f)
    assert len(history) == 2
    assert history[0]["entity_matching"]["status"] == "success"
    assert history[0]["entity_matching"]["rows"] > 0
    assert history[1]["entity_matching"] == {"status": "skipped", "attempts": 0, "wave": 1}


def test_torn_run_ledger_does_not_brick_reruns(spark, sf_dir, tmp_path):
    """Review finding (the serving fuzz's torn-manifest class): the run
    ledger was written with an in-place truncating open — a crash between
    truncate and dump left a torn _RUN_LEDGER.json that every later
    run_dag call died on at json.load. A rerun over a torn ledger must
    succeed (completion truth is the _SUCCESS markers, the ledger is
    history), start a fresh history, and publish it atomically."""
    import json
    import os

    from australian_company_etl_spark.orchestration.runner import LEDGER_NAME

    out = str(tmp_path / "run")
    run_dag(spark, reference_dag(sf_dir), out)
    ledger = os.path.join(out, LEDGER_NAME)
    with open(ledger, "w") as f:
        f.write('[{"entity_match')  # the torn truncate-crash state
    results = run_dag(spark, reference_dag(sf_dir), out)
    assert all(r.status in ("success", "skipped") for r in results.values())
    with open(ledger) as f:
        history = json.load(f)  # valid again
    assert len(history) == 1  # fresh history, this tick only
    assert not os.path.exists(ledger + ".tmp")


def test_waves_match_topological_levels(spark, sf_dir, tmp_path):
    """[t1, t2] >> t3 >> t4: the extracts share wave 0 (scheduled
    concurrently), matching wave 1, quality wave 2."""
    results = run_dag(spark, reference_dag(sf_dir), str(tmp_path / "run"))
    assert {n: r.wave for n, r in results.items()} == {
        "extract_commoncrawl": 0,
        "extract_abr": 0,
        "entity_matching": 1,
        "run_quality_checks": 2,
    }


def test_same_wave_tasks_run_concurrently(spark, tmp_path):
    """Deterministic concurrency proof: two wave-0 tasks each block until
    the OTHER has started (paired events). A serial runner deadlocks the
    first task into its timeout; the parallel runner passes."""
    import threading

    started = {"a": threading.Event(), "b": threading.Event()}

    def make(mine: str, other: str):
        def build(spark, _inputs):
            started[mine].set()
            assert started[other].wait(timeout=120), (
                f"{other} never started while {mine} was running — tasks "
                f"in one wave are executing serially"
            )
            return spark.range(3)

        return build

    tasks = [
        Task("a", make("a", "b"), retries=0),
        Task("b", make("b", "a"), retries=0),
    ]
    results = run_dag(spark, tasks, str(tmp_path / "run"))
    assert {n: r.status for n, r in results.items()} == {"a": "success", "b": "success"}


# ── schedule semantics (interval + catchup, etl_pipeline.py:22-31) ──────────


def _toy_dag(spark):
    """Two-task DAG whose output encodes nothing date-specific — completion
    is judged per dated out_dir, which is what the schedule tests probe."""

    def src(spark_, inputs):
        return spark_.range(10).withColumnRenamed("id", "k")

    def double(spark_, inputs):
        from pyspark.sql import functions as F

        return inputs["src"].select((F.col("k") * 2).alias("k2"))

    return [Task("src", src, retries=0), Task("double", double, deps=("src",), retries=0)]


def test_closed_intervals_and_catchup_selection(tmp_path):
    from datetime import date

    from australian_company_etl_spark.orchestration.schedule import (
        closed_intervals,
        due_runs,
    )

    start = date(2025, 6, 28)
    # nothing closed before start+Δ; three dailies closed by July 1
    assert closed_intervals(start, date(2025, 6, 28)) == []
    assert closed_intervals(start, date(2025, 7, 1)) == [
        date(2025, 6, 28),
        date(2025, 6, 29),
        date(2025, 6, 30),
    ]
    # weekly interval: one closed run after 8 days
    assert closed_intervals(start, date(2025, 7, 6), interval_days=7) == [start]
    t = [Task("a", lambda s, i: None, retries=0)]
    base = str(tmp_path / "sched")
    # catchup=True: full backlog due; catchup=False: only the latest
    assert due_runs(t, base, start, date(2025, 7, 1), catchup=True) == [
        date(2025, 6, 28),
        date(2025, 6, 29),
        date(2025, 6, 30),
    ]
    assert due_runs(t, base, start, date(2025, 7, 1), catchup=False) == [
        date(2025, 6, 30)
    ]
    with pytest.raises(ValueError, match="interval_days"):
        closed_intervals(start, start, interval_days=0)


def test_scheduled_backlog_runs_then_ticks_are_idempotent(spark, tmp_path):
    """catchup=True over a 3-day backlog executes 3 dated runs; the next
    tick at the same `now` runs NOTHING (all complete); advancing `now`
    one day runs exactly the newly closed interval."""
    from datetime import date

    from australian_company_etl_spark.orchestration.schedule import run_scheduled

    base = str(tmp_path / "sched")
    start = date(2025, 6, 28)
    ran = run_scheduled(
        spark, lambda d: _toy_dag(spark), base, start, date(2025, 7, 1), catchup=True
    )
    assert sorted(ran) == ["2025-06-28", "2025-06-29", "2025-06-30"]
    assert all(
        r.status == "success" for res in ran.values() for r in res.values()
    )
    import os

    assert sorted(os.listdir(base)) == [
        "run_date=2025-06-28",
        "run_date=2025-06-29",
        "run_date=2025-06-30",
    ]
    # same tick again: nothing due
    again = run_scheduled(
        spark, lambda d: _toy_dag(spark), base, start, date(2025, 7, 1), catchup=True
    )
    assert again == {}
    # next day: exactly one new run
    nxt = run_scheduled(
        spark, lambda d: _toy_dag(spark), base, start, date(2025, 7, 2), catchup=True
    )
    assert sorted(nxt) == ["2025-07-01"]


def test_scheduled_no_catchup_skips_backlog(spark, tmp_path):
    """catchup=False (the reference's setting): a freshly-enabled schedule
    with a backlog runs ONLY the most recently closed interval."""
    from datetime import date

    from australian_company_etl_spark.orchestration.schedule import run_scheduled

    base = str(tmp_path / "sched")
    ran = run_scheduled(
        spark,
        lambda d: _toy_dag(spark),
        base,
        date(2025, 6, 28),
        date(2025, 7, 1),
        catchup=False,
    )
    assert sorted(ran) == ["2025-06-30"]
    import os

    assert os.listdir(base) == ["run_date=2025-06-30"]


def test_scheduled_failed_run_stays_due_and_resumes(spark, tmp_path):
    """A run whose task fails remains due on the next tick and RESUMES
    (committed upstream task skipped, failed task re-run) — a half-done
    scheduled run can never be silently recorded as complete."""
    from datetime import date

    from australian_company_etl_spark.orchestration.schedule import run_scheduled

    base = str(tmp_path / "sched")
    start, now = date(2025, 6, 29), date(2025, 7, 1)
    counter: dict = {}

    def dag_with_flaky(_d):
        tasks = _toy_dag(spark)
        # `double` has 0 retries: its single tick-1 attempt fails and the
        # run is recorded failed; the tick-2 invocation then succeeds
        return [tasks[0], flaky(tasks[1], 1, counter)]

    t1 = run_scheduled(spark, dag_with_flaky, base, start, now, catchup=False)
    assert t1["2025-06-30"]["src"].status == "success"
    assert t1["2025-06-30"]["double"].status == "failed"
    # still due → tick 2 resumes: src skipped (committed), double succeeds
    t2 = run_scheduled(spark, dag_with_flaky, base, start, now, catchup=False)
    assert t2["2025-06-30"]["src"].status == "skipped"
    assert t2["2025-06-30"]["double"].status == "success"
    # complete now → tick 3 is a no-op
    assert run_scheduled(spark, dag_with_flaky, base, start, now, catchup=False) == {}


def test_closed_intervals_properties():
    """Property: for any (start, now, Δ) the closed intervals exactly tile
    [start, start + kΔ) with k = floor((now-start)/Δ) — no gaps, no
    overlap, nothing open past `now`."""
    from datetime import date, timedelta

    from hypothesis import given, strategies as st

    from australian_company_etl_spark.orchestration.schedule import closed_intervals

    @given(
        start_off=st.integers(min_value=0, max_value=2000),
        span=st.integers(min_value=0, max_value=2000),
        delta=st.integers(min_value=1, max_value=30),
    )
    def check(start_off, span, delta):
        start = date(2024, 1, 1) + timedelta(days=start_off)
        now = start + timedelta(days=span)
        got = closed_intervals(start, now, interval_days=delta)
        assert len(got) == span // delta
        assert got == [start + timedelta(days=i * delta) for i in range(len(got))]
        if got:  # last interval closes at or before now; next would be open
            assert got[-1] + timedelta(days=delta) <= now
            assert got[-1] + timedelta(days=2 * delta) > now or len(got) * delta <= span

    check()


def test_no_catchup_still_resumes_started_half_finished_run(tmp_path):
    """catchup=False skips intervals that never ran, but a run that already
    STARTED (its dated out_dir exists — run_dag creates it on entry) and
    failed partway must stay due after newer intervals close: Airflow
    re-schedules a failed run regardless of catchup, and abandoning it
    would strand the half-complete run forever (review finding)."""
    import os
    from datetime import date

    from australian_company_etl_spark.orchestration.schedule import (
        due_runs,
        run_dir_for,
    )

    t = [Task("a", lambda s, i: None, retries=0)]
    base = str(tmp_path / "sched")
    start = date(2025, 6, 28)
    # June 28's run started but never committed a task; June 29 never ran
    os.makedirs(run_dir_for(base, date(2025, 6, 28)))
    assert due_runs(t, base, start, date(2025, 7, 1), catchup=False) == [
        date(2025, 6, 28),
        date(2025, 6, 30),
    ]
