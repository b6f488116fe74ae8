"""Group K — end-to-end corpus curation: the composed training-data pipeline.

`curate_corpus` chains the H2 quality score with F2 minhash near-dup
detection the way a production pretraining-data pipeline does:

    score docs → drop low-quality → drop the younger half of each
    strong near-dup pair (Jaccard ≥ 0.5) → emit the kept corpus

This is the Spark-first analog of the reference's full DAG (extract →
match → quality-gate → publish, airflow/dags/*): one declarative plan,
no intermediate tables, each stage's filter pushed as far down as
Catalyst allows.

Scale: quality scoring is scan-bound codegen; the dedup pair list is tiny
relative to the corpus, so the kill-list anti-join broadcasts. At 100 TB
the minhash stages dominate — see plans/dedup.py for their shuffle story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from australian_company_etl_spark.plans.dedup import _minhash_pairs_body, dedup_minhash_lsh
from australian_company_etl_spark.plans.text import _quality_sql, text_quality_score

QUALITY_T = 0.35
STRONG_DUP_T = 0.5


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 — quality-gate + near-dup-drop; returns the kept corpus."""
    qual = text_quality_score(spark, sf_dir).filter(F.col("quality") >= QUALITY_T)
    kill = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("jaccard") >= STRONG_DUP_T)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
    )
    # kill-list join UNHINTED: near-dup density is data-dependent (web
    # crawls run 30-50% near-duplicates — the very condition this
    # pipeline exists for), so the kill list is O(corpus) in the worst
    # case and a mandatory broadcast would OOM the driver exactly when
    # dedup matters most; AQE broadcasts it whenever it actually fits
    return qual.join(kill, "doc_id", "left_anti").select(
        "doc_id", "n_tokens", "quality"
    )


def _curate_sql() -> str:
    return f"""
WITH qual AS (SELECT * FROM ({_quality_sql()}) q WHERE quality >= {QUALITY_T}),
kill AS (SELECT DISTINCT doc_id_b AS doc_id FROM ({_minhash_pairs_body()}) p
         WHERE jaccard >= {STRONG_DUP_T})
SELECT doc_id, n_tokens, quality
FROM qual
WHERE doc_id NOT IN (SELECT doc_id FROM kill)
"""


def curate_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 — keep-BEST near-dup resolution: F6's connected-component
    clusters joined with H2's quality score; within every cluster the
    highest-quality member is the keeper (ties → lowest doc_id). This is
    the curation decision rule production pipelines actually use —
    keep-first (F1/F8) discards by arrival order, keep-best discards by
    value (RefinedWeb, FineWeb keep the longest/cleanest copy of a
    near-dup family, not the earliest).

    The ranking key is the ROUNDED (4dp) quality column both engines
    already agree on hash-exactly, so the argmax can never flip on an ulp.

    Scale: the cluster labels and the score are both per-doc frames keyed
    by doc_id — one equi-join, then a per-cluster window (single shuffle on
    cluster_id, where cluster cardinality ≈ corpus cardinality)."""
    from australian_company_etl_spark.plans.dedup import dedup_cluster_cc
    from pyspark.sql import Window

    labels = dedup_cluster_cc(spark, sf_dir)
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        labels.join(q, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "quality",
            (F.col("rk") == 1).alias("is_keeper"),
        )
    )


def _keep_best_sql() -> str:
    from australian_company_etl_spark.plans.dedup import _cluster_cc_sql

    return f"""
WITH clusters AS ({_cluster_cc_sql()}),
q AS ({_quality_sql()})
SELECT c.doc_id, c.cluster_id, c.cluster_size, q.quality,
       (row_number() OVER (PARTITION BY c.cluster_id
                           ORDER BY q.quality DESC, c.doc_id) = 1) AS is_keeper
FROM clusters c JOIN q USING (doc_id)
"""


def etl_dag_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 — the reference's full Airflow DAG as ONE declarative plan
    (airflow/dags/etl_pipeline.py: t1+t2 extract → t3 entity_matching →
    t4 quality_checks): run the B6 unify pipeline, then emit the t4-style
    quality report over the unified table as (metric, value) rows —
    row count, NULL counts on critical columns, duplicate-key count, and
    the confidence distribution (run_quality_checks.py:46-98).

    Scale: the unified table streams once through a single 4-metric
    aggregate; the dup-key check is a groupBy on the insert key. The
    report is a handful of rows — the two 1-row aggregates combine with a
    broadcast cross join, and `stack` unpivots without any shuffle."""
    from australian_company_etl_spark.plans.matching import unify_entities

    return quality_report(unify_entities(spark, sf_dir))


def quality_report(u: DataFrame) -> DataFrame:
    """The t4 metric pass over an explicit unified frame (the K2 core) —
    consumed both composed (`etl_dag_end_to_end`) and over a materialized
    stage output by the orchestrated DAG (orchestration/dags.py)."""
    # count(when(cond, 1)), not sum(when/otherwise): count never returns
    # NULL, so a ZERO-row unified table (every candidate filtered out)
    # reports 0 for each bucket like the oracle's `count(*) FILTER` — the
    # sum form returned NULL over empty input (empty-corpus sweep finding)
    base = u.agg(
        F.count("*").alias("rows_unified"),
        F.count(F.when(F.col("matched_name").isNull(), 1)).alias(
            "null_matched_name"
        ),
        F.count(F.when(F.col("merged_confidence") >= 80, 1)).alias("conf_ge_80"),
        F.count(
            F.when(
                (F.col("merged_confidence") >= 50) & (F.col("merged_confidence") < 80), 1
            )
        ).alias("conf_50_79"),
    )
    dups = (
        u.groupBy("abn")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count("*").alias("dup_abn"))
    )
    return base.crossJoin(F.broadcast(dups)).select(
        F.expr(
            "stack(5,"
            " 'rows_unified', rows_unified,"
            " 'null_matched_name', null_matched_name,"
            " 'dup_abn', dup_abn,"
            " 'conf_ge_80', conf_ge_80,"
            " 'conf_50_79', conf_50_79) AS (metric, value)"
        )
    ).select("metric", F.col("value").cast("bigint").alias("value"))


def _etl_dag_sql() -> str:
    from australian_company_etl_spark.plans.matching import UNIFY_SQL

    return f"""
WITH unified AS ({UNIFY_SQL})
SELECT 'rows_unified' AS metric, count(*)::BIGINT AS value FROM unified
UNION ALL
SELECT 'null_matched_name', coalesce(count(*) FILTER (WHERE matched_name IS NULL), 0)::BIGINT FROM unified
UNION ALL
SELECT 'dup_abn', (SELECT count(*)::BIGINT FROM
  (SELECT abn FROM unified GROUP BY abn HAVING count(*) > 1))
UNION ALL
SELECT 'conf_ge_80', coalesce(count(*) FILTER (WHERE merged_confidence >= 80), 0)::BIGINT FROM unified
UNION ALL
SELECT 'conf_50_79', coalesce(count(*) FILTER (WHERE merged_confidence >= 50 AND merged_confidence < 80), 0)::BIGINT FROM unified
"""


QUERIES = {
    "curate_corpus": curate_corpus,
    "etl_dag_end_to_end": etl_dag_end_to_end,
    "curate_keep_best": curate_keep_best,
}
ORACLES = {
    "curate_corpus": _curate_sql(),
    "etl_dag_end_to_end": _etl_dag_sql(),
    "curate_keep_best": _keep_best_sql(),
}
