"""Entity-matching operators (reference parity: scripts/entity_matching.py).

The reference loads all Common Crawl candidates into driver memory and runs
rapidfuzz ``process.extractOne`` per ABR row — a driver-side O(N·M) loop.
Spark-first re-expression:

- ``best_fuzzy_match``   — extractOne semantics: broadcast the candidate set,
  score every pair with the JVM ``levenshtein`` expression, keep the best
  per left row (window). Correct for dim-sized candidate sets (the
  reference's own regime: ~2k CC rows vs 10k ABR rows).
- ``blocked_fuzzy_pairs`` — the 100 TB path: candidates are generated per
  blocking key (equi-join ⇒ shuffle hash/sort-merge, never cartesian), so
  cost is Σ|block|² instead of N·M and AQE splits skewed blocks.
- ``score_once``          — the evaluate-once verify step every pairwise
  join (fuzzy match, set-Jaccard dedup, embedding cosine) scores through.
- ``first_wins``          — Postgres ``ON CONFLICT (key) DO NOTHING`` analog:
  keep the first row per key in a deterministic insertion order (window
  row_number, not dropDuplicates which is order-nondeterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from australian_company_etl_spark.functions.partitioning import spread_if_narrow
from australian_company_etl_spark.functions.textfns import lev_ratio_spark


def first_wins(df: DataFrame, key_cols: list[str], order_cols: list[Column]) -> DataFrame:
    """Keep the first row per key under an explicit deterministic order."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def best_fuzzy_match(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    left_name: str,
    right_key: str,
    right_name: str,
    score: Column | None = None,
) -> DataFrame:
    """extractOne: best-scoring candidate per left row; ties break to the
    lowest right key. Right side is broadcast (candidate dim). ``score``
    defaults to plain levenshtein ratio; pass a multi-scorer column
    (entity_matching.py:405-418 max-of-three) to override — it is evaluated
    over the joined frame, so reference precomputed per-side columns in it.

    The left side is spread across all cores only when it arrives narrow
    (``spread_if_narrow``): a dim-sized left often scans as ONE file
    partition, which would serialize every left×right score evaluation into
    a single task; a wide input passes through with no exchange."""
    if score is None:
        score = lev_ratio_spark(F.col(left_name), F.col(right_name))
    spread = spread_if_narrow(left)
    scored = spread.crossJoin(F.broadcast(right)).withColumn("score", score)
    # min_by aggregate, NOT a window: a window shuffles the entire N×M
    # scored cross product through its Exchange before picking one row per
    # left key; the aggregate partial-combines map-side, so each partition
    # ships at most one candidate per key. The ordering struct (null-flag,
    # −score, right_key) minimized ≡ (score desc NULLS LAST, right_key asc)
    # — struct comparison sorts a NULL field FIRST, so without the explicit
    # isNull flag a NULL-scored candidate (any null name: the normalizers
    # propagate nulls) would beat every real score, diverging from both the
    # window form this replaced and the DuckDB oracle's NULLS-LAST default.
    # Right keys are unique within the candidate dim, so the order is total
    # and the pick deterministic.
    ord_ = F.struct(
        F.col("score").isNull().cast("int").alias("nl"),
        (-F.col("score")).alias("s"),
        F.col(right_key).alias("k"),
    )
    return (
        scored.groupBy(left_key)
        .agg(F.min_by(F.struct(*[scored[c] for c in scored.columns]), ord_).alias("best"))
        .select("best.*")
    )


def blocked_fuzzy_pairs(
    left: DataFrame,
    right: DataFrame,
    block_cols: list[str],
    left_name: str,
    right_name: str,
    threshold: int,
    score: Column | None = None,
) -> DataFrame:
    """Scalable fuzzy join: equi-join on blocking key(s), then score.
    ``score`` defaults to plain levenshtein ratio; see ``best_fuzzy_match``.

    The probe side is spread across all cores only when it arrives narrow
    (``spread_if_narrow``): a dim-sized table scans as ONE file partition,
    and with the other side broadcast the whole Σ|block|² levenshtein
    workload would run in a single task. At 100 TB the scan yields thousands
    of partitions and no exchange is inserted at all."""
    if score is None:
        score = lev_ratio_spark(F.col(left_name), F.col(right_name))
    spread = spread_if_narrow(right)
    joined = left.join(spread, on=block_cols)
    return score_once(joined, score, "score").filter(F.col("score") >= threshold)


def score_once(df: DataFrame, score: Column, name: str) -> DataFrame:
    """``df`` plus column ``name`` = ``score``, evaluated ONCE per row — the
    verify step of every pairwise join (candidate pairs → score → keep).

    Without a barrier, a threshold filter on a deterministic score collapses
    into the candidate join's condition, and Catalyst has no common-
    subexpression elimination across the condition and the output
    projection: each surviving pair pays the scorer twice (three times when
    the filter names the score twice). So the score is computed in a
    projection and ``explode(array(<that attribute>))`` is put over it. A
    predicate on generator output cannot be pushed below the Generate, so
    the join emits every candidate and the filter and output reuse the one
    attribute; because the score sits in an ordinary projection rather than
    inside the generator expression, codegen's subexpression elimination
    still applies within it."""
    scored = df.select("*", score.alias(name))
    return scored.select(*df.columns, F.explode(F.array(name)).alias(name))
