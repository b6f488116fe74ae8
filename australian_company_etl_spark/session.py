"""SparkSession factory.

Scale posture: AQE on (runtime coalesce + skew-join splitting), UTC session
timezone (oracle comparability), Arrow for the few Pandas-UDF paths.
`shuffle_partitions` defaults to the local core count; on a real cluster this
would be ~2-3x total executor cores (or left to AQE's coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Local-mode driver heap sized from the HOST, not a flat constant
    (ADVICE r10): a flat 24g default turns every entry point — unit tests,
    sf0.001 regime runs — into an OS OOM-killer risk on hosts with less
    RAM than the 128 GiB bench box, where a graceful in-JVM spill/broadcast
    failure is the right outcome. Clamp to ~1/5 of detected host memory,
    floor 8g (the pre-r10 default, ample for every small-SF gate), cap 24g
    (the sf10-bench-measured need: a borderline AQE broadcast build inside
    the setsim verify OOM'd nondeterministically at 8g, round-10 bench run
    2). Detection failure falls back to the conservative 8g. On a real
    cluster per-executor sizing replaces this knob entirely."""
    try:
        total_gib = (os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")) // (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{min(24, max(8, total_gib // 5))}g"


def get_spark(
    app_name: str = "australian_company_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce floor tuned for CPU-DENSE rows: with parallelismFirst
        # (default) AQE targets max(total/parallelism, minPartitionSize), so
        # the floor decides how small a shuffle still keeps every core. The
        # original 8m floor was measured pinning the 41 MB set-verify join
        # (seconds of array_intersect per MB) to 4-5 tasks on 32 cores; the
        # 1m default still halved it to 16 tasks on its ~20 MB exchanges.
        # 256k keeps such joins at full width (ngram verify at sf1:
        # 8m 38s → 1m 5-6s → 256k 3.0s) while a tiny iterative frame
        # (~500 rows ≪ 256k) still coalesces to ONE partition, so the
        # scheduling-overhead motive for a floor is preserved. At 100 TB
        # total/parallelism dwarfs any floor — this knob is local-only.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the output partitioning of persisted plans too:
        # iterative ops (connected components) cache tiny label/edge frames,
        # and without this they pin the full shuffle-partition fan-out —
        # every micro-round pays a 32-task scheduling bill for ~500 rows
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet has carried TIMESTAMP(NANOS) (vanilla Spark refuses
        # it — read as epoch-nanos long, converted in the source registry) or
        # naive TIMESTAMP(MICROS) (don't infer NTZ — read as a UTC instant,
        # matching DuckDB's view of the same bytes under a UTC session).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # off by default (test/bench noise); scripts/shuffle_audit.py turns it
        # on to read per-stage shuffle/spill bytes from the REST API. Spark
        # only accepts literal true/false, so normalize common truthy forms.
        .config(
            "spark.ui.enabled",
            str(
                os.environ.get("SPARK_GRAFT_UI", "false").strip().lower()
                in ("true", "1", "yes")
            ).lower(),
        )
        # host-clamped, not flat (see _default_driver_mem): in local mode
        # this ONE heap holds every executor's storage + shuffle state +
        # broadcast builds — 8g was measured marginal at the sf10 bench
        # tier ("Not enough memory to build and broadcast" in the setsim
        # verify, round 10 bench run 2), so big hosts get up to 24g, while
        # small hosts keep the 8g floor instead of inviting the OS
        # OOM-killer.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        # ANSI mode is PINNED ON by default — not merely inherited from the
        # Spark 4 build default (which is also on: every gate since this
        # repo moved to pyspark 4 has in fact run under ANSI). Round 9
        # briefly shipped this knob defaulting OFF and the NULL-corpus gate
        # caught seven text queries diverging within hours: with ANSI off,
        # the legacy spark.sql.legacy.sizeOfNull behavior returns -1 for
        # size(NULL) where ANSI (and the DuckDB oracle's len(NULL)) return
        # NULL, so every size()-based vote/count silently mis-scored NULL
        # documents. SPARK_GRAFT_ANSI=0 remains as an explicit opt-OUT for
        # experiments; sizeOfNull is pinned false regardless, so the
        # engine's NULL-array semantics no longer depend on the mode.
        .config(
            "spark.sql.ansi.enabled",
            str(
                os.environ.get("SPARK_GRAFT_ANSI", "true").strip().lower()
                not in ("false", "0", "no")
            ).lower(),
        )
        .config("spark.sql.legacy.sizeOfNull", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
