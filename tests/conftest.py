"""Session fixtures.

ANSI mode is the session DEFAULT (pinned on in session.py — it always
was the effective mode, being the pyspark-4 build default).
`SPARK_GRAFT_ANSI=0 python -m pytest tests/` opts the whole suite into
the legacy non-ANSI mode (must be set before the first fixture use; the
config is fixed at JVM creation). Both modes hold full oracle parity:
ansi_sweep_r9.log / noansi_sweep_r9.log, 151/151 each — the non-ANSI
run depends on the pinned spark.sql.legacy.sizeOfNull=false (round 9
found seven size(NULL)-scored queries diverging without it).
"""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from australian_company_etl_spark.session import get_spark

    spark = get_spark(app_name="aus-etl-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def registry_dfs_small(spark):
    """Every registry query's DataFrame built ONCE at the gate SF — shared
    by the full-registry schema and plan sweeps (round-9 suite-time
    ledger: the nested-columns and single-task-sort sweeps each rebuilt
    all 155 plans, and plan construction is the dominant cost — the
    iterative plans execute driver loops at build time). DataFrames are
    immutable plans; sharing them across read-only sweeps is safe."""
    import __spark_entry__ as entrymod

    return {name: fn(spark, SF_DIR) for name, fn in entrymod.queries().items()}


def spark_jobs(spark, fn) -> list[str]:
    """Names of the Spark jobs that ``fn()`` starts, in job-id order, read
    from the driver's status store (kept even with the UI off). The
    listener bus is drained on both sides so no finished job is missed."""
    sc = spark.sparkContext._jsc.sc()

    def jobs() -> dict[int, str]:
        sc.listenerBus().waitUntilEmpty(60_000)
        js = sc.statusStore().jobsList(None)
        return {int(js.apply(i).jobId()): js.apply(i).name() for i in range(js.size())}

    last = max(jobs(), default=-1)
    fn()
    after = jobs()
    return [after[k] for k in sorted(after) if k > last]
