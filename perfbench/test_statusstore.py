"""The status-store reader against jobs whose work is known."""

from __future__ import annotations

import time

import pytest

from perfbench.statusstore import StatusStore, parse_metric


def test_parse_metric_units():
    assert parse_metric("0 ms") == 0.0
    assert parse_metric("1,234") == 1234.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.5 s (855 ms, 874 ms)") == 3.5
    assert parse_metric("total (min, med, max)\n2.0 KiB (1.0 KiB)") == 2048.0
    assert parse_metric(None) == 0.0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.common import configure_env, start_spark, stop_spark

    configure_env(str(tmp_path_factory.mktemp("statusstore")))
    session = start_spark()
    yield session
    stop_spark(session)


def test_shuffle_job_is_accounted(spark):
    store = StatusStore(spark)
    cores = spark.sparkContext.defaultParallelism
    mark = store.mark()
    t = time.perf_counter()
    rows = (
        spark.range(0, 2_000_000, numPartitions=4)
        .selectExpr("id % 100 AS k")
        .groupBy("k")
        .count()
        .collect()
    )
    wall = time.perf_counter() - t
    rec = store.since(mark)
    assert len(rows) == 100
    assert rec.jobs >= 1
    assert rec.stages >= 2  # map side and reduce side of the shuffle
    assert rec.shuffle_write_bytes > 0
    assert rec.shuffle_read_bytes > 0
    assert 0 < rec.executor_run_s <= wall * cores
    assert 0 < rec.executor_cpu_s
    assert rec.peak_execution_bytes > 0
    assert rec.python_s == 0.0


def test_python_node_time_and_job_groups(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s):
        return s + 1

    store = StatusStore(spark)
    mark = store.mark()
    spark.sparkContext.setJobGroup("probe", "probe")
    try:
        spark.range(0, 200_000, numPartitions=4).select(plus_one("id").alias("x")).agg(
            {"x": "sum"}
        ).collect()
    finally:
        spark.sparkContext.setJobGroup("", "")
    rec = store.since(mark)
    assert rec.python_s > 0
    first_submit, last_complete = rec.groups["probe"]
    assert last_complete > first_submit
    assert store.since(mark, group="probe").jobs == rec.jobs
    assert store.since(mark, group="other").jobs == 0
