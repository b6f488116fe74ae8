"""Group B — normalization & entity matching (reference t3,
scripts/entity_matching.py). Testdata stand-ins: supplier ≈ staging_abr
(keyed registry), customer ≈ staging_commoncrawl (crawled candidates),
part names ≈ free-text company names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from australian_company_etl_spark.functions.normalize import (
    norm_name_spark,
    norm_name_sql,
    valid_name_spark,
    valid_name_sql,
)
from australian_company_etl_spark.functions.textfns import (
    jaccard_pct_spark,
    jaccard_pct_sql,
    lev_ratio_spark,
    lev_ratio_sql,
    token_array_spark,
    token_array_sql,
    token_set_ratio_spark,
    token_set_ratio_sql,
    token_set_strings_spark,
    token_set_strings_sql,
    token_sort_str_spark,
    token_sort_str_sql,
    tokens_spark,
    tokens_sql,
)
from australian_company_etl_spark.operators.matching import (
    best_fuzzy_match,
    blocked_fuzzy_pairs,
    score_once,
)
from australian_company_etl_spark.functions.exactmath import sum_cents, sum_cents_sql
from australian_company_etl_spark.functions.partitioning import spread_if_narrow
from australian_company_etl_spark.sources.registry import load_tables

FUZZY_THRESHOLD = 50
JACCARD_THRESHOLD = 30


# ── multi-scorer plumbing (entity_matching.py:405-418) ──────────────────────
# The reference scores each (ABR, CC) pair with rapidfuzz token_sort_ratio,
# token_set_ratio, and ratio, keeping the best. Per-side canonical forms
# (token-sort string, distinct-sorted token array) are precomputed BEFORE the
# join so the per-pair cost inside the blocked/cross join is just the
# levenshtein kernels — at 100 TB that keeps the Σ|block|² stage arithmetic-
# bound instead of re-tokenizing every pair.


def _match_side(df, key_cols: list[str], name_col: str, prefix: str):
    norm = norm_name_spark(F.col(name_col))
    return (
        df.select(*key_cols, norm.alias(f"{prefix}_norm"))
        .withColumn(f"{prefix}_ts", token_sort_str_spark(F.col(f"{prefix}_norm")))
        .withColumn(f"{prefix}_tk", token_array_spark(F.col(f"{prefix}_norm")))
    )


def _multi_score_col(a: str, b: str):
    """Max-of-three score over precomputed side columns {a,b}_{norm,ts,tk}.

    r13 negative result (measured, kept JVM): an Arrow-batched Myers
    bit-parallel levenshtein kernel (exact F.levenshtein twin, pinned on
    806 adversarial cases) was wired here and MEASURED 3.4× SLOWER on the
    cross-join extractOne (sf0.1 interleaved min-of-3: 9.8 s JVM vs
    34.0 s Arrow; blocked multi_scorer 1.5 vs 2.7 s) — the boundary cost
    of materializing ~90M Python string objects (15M pairs × 6 string
    cols) dwarfs the DP saving, and the token-set string building stays
    JVM-side either way, capping the theoretical win at ~1.25×. The
    kernel and its A/B driver (scripts/lev_arrow_ab_r13.py) are in git
    history; rapidfuzz (the VERDICT r12 item-6 suggestion) is not
    installed in this environment."""
    t0, t1, t2 = token_set_strings_spark(F.col(f"{a}_tk"), F.col(f"{b}_tk"))
    return F.greatest(
        lev_ratio_spark(F.col(f"{a}_norm"), F.col(f"{b}_norm")),
        lev_ratio_spark(F.col(f"{a}_ts"), F.col(f"{b}_ts")),
        token_set_ratio_spark(t0, t1, t2),
    )


def _side_cte_sql(table: str, key_sql: str, name_col: str, prefix: str) -> str:
    """CTE body computing the per-side canonical columns in DuckDB."""
    return (
        f"SELECT {key_sql}, {prefix}_norm, "
        f"{token_sort_str_sql(f'{prefix}_norm')} AS {prefix}_ts, "
        f"{token_array_sql(f'{prefix}_norm')} AS {prefix}_tk "
        f"FROM (SELECT *, {norm_name_sql(name_col)} AS {prefix}_norm FROM {table})"
    )


# (t0, t1, t2) expressions over the joined pair columns, then the final score.
_TS_T0, _TS_T1, _TS_T2 = token_set_strings_sql("s_tk", "c_tk")
_MULTI_SCORE_SQL = (
    f"greatest({lev_ratio_sql('s_norm', 'c_norm')}, "
    f"{lev_ratio_sql('s_ts', 'c_ts')}, "
    f"{token_set_ratio_sql('t0', 't1', 't2')})"
)


def norm_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 — normalize_name over part names (entity_matching.py:74-97)."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    return part.select(
        "p_partkey",
        "p_name",
        norm_name_spark(F.col("p_name")).alias("norm_name"),
    )


NORM_NAMES_SQL = f"""
SELECT p_partkey, p_name, {norm_name_sql('p_name')} AS norm_name
FROM part
"""


def match_exact_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 — exact key join (≈ direct ABN join) + per-entity rollup."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("n_orders"),
            sum_cents("o_totalprice").alias("total_spend"),
        )
    )


MATCH_EXACT_SQL = f"""
SELECT c_custkey, c_name, count(*) AS n_orders,
       {sum_cents_sql('o_totalprice')} AS total_spend
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


def match_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 — extractOne semantics with the reference's multi-strategy scoring
    (entity_matching.py:405-425): every pair scored with ratio, token_sort,
    and token_set, best kept; best-scoring customer per supplier, candidate
    set broadcast."""
    t = load_tables(spark, sf_dir, ["supplier", "customer"])
    left = _match_side(t["supplier"], ["s_suppkey"], "s_name", "s")
    right = _match_side(t["customer"], ["c_custkey"], "c_name", "c")
    return best_fuzzy_match(
        left,
        right,
        "s_suppkey",
        "s_norm",
        "c_custkey",
        "c_norm",
        score=_multi_score_col("s", "c"),
    ).select("s_suppkey", "c_custkey", "score")


MATCH_FUZZY_SQL = f"""
WITH l AS ({_side_cte_sql('supplier', 's_suppkey', 's_name', 's')}),
     r AS ({_side_cte_sql('customer', 'c_custkey', 'c_name', 'c')}),
     pairs AS (
       SELECT s_suppkey, c_custkey, s_norm, c_norm, s_ts, c_ts,
              {_TS_T0} AS t0, {_TS_T1} AS t1, {_TS_T2} AS t2
       FROM l CROSS JOIN r
     ),
     scored AS (SELECT s_suppkey, c_custkey, {_MULTI_SCORE_SQL} AS score FROM pairs),
     ranked AS (
       SELECT *, row_number() OVER (PARTITION BY s_suppkey
                                    ORDER BY score DESC, c_custkey ASC) AS rn
       FROM scored
     )
SELECT s_suppkey, c_custkey, score FROM ranked WHERE rn = 1
"""


def match_multi_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3b — per-pair scorer breakdown (entity_matching.py:405-418): ratio,
    token_sort, token_set and the winning max for every blocked pair at or
    above threshold. Blocked on nation key — the same never-cartesian plan
    as B5; the probe side is re-spread for the one-file sandbox scan."""
    t = load_tables(spark, sf_dir, ["supplier", "customer"])
    left = _match_side(
        t["supplier"].withColumnRenamed("s_nationkey", "nationkey"),
        ["s_suppkey", "nationkey"],
        "s_name",
        "s",
    )
    right = _match_side(
        t["customer"].withColumnRenamed("c_nationkey", "nationkey"),
        ["c_custkey", "nationkey"],
        "c_name",
        "c",
    )
    t0, t1, t2 = token_set_strings_spark(F.col("s_tk"), F.col("c_tk"))
    scores = F.struct(
        lev_ratio_spark(F.col("s_norm"), F.col("c_norm")).alias("ratio_score"),
        lev_ratio_spark(F.col("s_ts"), F.col("c_ts")).alias("token_sort_score"),
        token_set_ratio_spark(t0, t1, t2).alias("token_set_score"),
    )
    return (
        score_once(left.join(spread_if_narrow(right), "nationkey"), scores, "sc")
        .select("s_suppkey", "c_custkey", "sc.*")
        .withColumn(
            "best_score",
            F.greatest("ratio_score", "token_sort_score", "token_set_score"),
        )
        .filter(F.col("best_score") >= FUZZY_THRESHOLD)
    )


MATCH_MULTI_SCORER_SQL = f"""
WITH l AS ({_side_cte_sql('supplier', 's_suppkey, s_nationkey AS nationkey', 's_name', 's')}),
     r AS ({_side_cte_sql('customer', 'c_custkey, c_nationkey AS nationkey', 'c_name', 'c')}),
     pairs AS (
       SELECT s_suppkey, c_custkey, s_norm, c_norm, s_ts, c_ts,
              {_TS_T0} AS t0, {_TS_T1} AS t1, {_TS_T2} AS t2
       FROM l JOIN r USING (nationkey)
     ),
     scored AS (
       SELECT s_suppkey, c_custkey,
              {lev_ratio_sql('s_norm', 'c_norm')} AS ratio_score,
              {lev_ratio_sql('s_ts', 'c_ts')} AS token_sort_score,
              {token_set_ratio_sql('t0', 't1', 't2')} AS token_set_score
       FROM pairs
     )
SELECT *, greatest(ratio_score, token_sort_score, token_set_score) AS best_score
FROM scored
WHERE greatest(ratio_score, token_sort_score, token_set_score) >= {FUZZY_THRESHOLD}
"""


def match_keyword_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 — keyword-overlap Jaccard score (entity_matching.py:142-170):
    DISTINCT part names (the reference matches unique entity names, and
    deduping first keeps pair-gen sub-quadratic in row duplication — the
    100 TB posture), blocked on the last word, Jaccard ≥ threshold."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    base = part.select("p_name").distinct().select(
        F.col("p_name").alias("name"),
        tokens_spark(F.col("p_name")).alias("toks"),
        F.element_at(F.split(F.col("p_name"), " "), -1).alias("block"),
    )
    a = base.select(F.col("name").alias("name_a"), F.col("toks").alias("toks_a"), "block")
    b = base.select(F.col("name").alias("name_b"), F.col("toks").alias("toks_b"), "block")
    pairs = a.join(b, "block").filter(F.col("name_a") < F.col("name_b"))
    return (
        score_once(pairs, jaccard_pct_spark(F.col("toks_a"), F.col("toks_b")), "jaccard_pct")
        .select("name_a", "name_b", "jaccard_pct")
        .filter(F.col("jaccard_pct") >= JACCARD_THRESHOLD)
    )


MATCH_KEYWORD_SQL = f"""
WITH base AS (
  SELECT p_name AS name, {tokens_sql('p_name')} AS toks,
         string_split(p_name, ' ')[-1] AS block
  FROM (SELECT DISTINCT p_name FROM part)
)
SELECT a.name AS name_a, b.name AS name_b,
       {jaccard_pct_sql('a.toks', 'b.toks')} AS jaccard_pct
FROM base a JOIN base b ON a.block = b.block AND a.name < b.name
WHERE {jaccard_pct_sql('a.toks', 'b.toks')} >= {JACCARD_THRESHOLD}
"""


def match_blocked_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 — the 100 TB fuzzy-join plan: block on nation key (equi-join,
    never cartesian), then levenshtein-ratio score ≥ threshold."""
    t = load_tables(spark, sf_dir, ["supplier", "customer"])
    left = t["supplier"].select(
        "s_suppkey",
        F.col("s_nationkey").alias("nationkey"),
        norm_name_spark(F.col("s_name")).alias("s_norm"),
    )
    right = t["customer"].select(
        "c_custkey",
        F.col("c_nationkey").alias("nationkey"),
        norm_name_spark(F.col("c_name")).alias("c_norm"),
    )
    return blocked_fuzzy_pairs(left, right, ["nationkey"], "s_norm", "c_norm", FUZZY_THRESHOLD).select(
        "s_suppkey", "c_custkey", "nationkey", "score"
    )


MATCH_BLOCKED_SQL = f"""
WITH l AS (SELECT s_suppkey, s_nationkey AS nationkey,
                  {norm_name_sql('s_name')} AS s_norm FROM supplier),
     r AS (SELECT c_custkey, c_nationkey AS nationkey,
                  {norm_name_sql('c_name')} AS c_norm FROM customer)
SELECT s_suppkey, c_custkey, l.nationkey AS nationkey,
       {lev_ratio_sql('s_norm', 'c_norm')} AS score
FROM l JOIN r USING (nationkey)
WHERE {lev_ratio_sql('s_norm', 'c_norm')} >= {FUZZY_THRESHOLD}
"""


def unify_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 — full t3 pipeline: normalize → block → multi-scorer score
    (ratio/token_sort/token_set max, entity_matching.py:405-418) → threshold
    → best-per-left → first-wins keyed insert with merged_confidence
    (entity_matching.py:311-515 end-to-end). Candidate names pass the
    is_valid_company_name web-noise filter (entity_matching.py:121-141)
    before matching, as in the reference's candidate-load loop."""
    t = load_tables(spark, sf_dir, ["supplier", "customer"])
    return unify_frames(t["supplier"], t["customer"])


def unify_frames(supplier: DataFrame, customer: DataFrame) -> DataFrame:
    """The B6 matching core over explicit input frames — so the
    orchestrated DAG (orchestration/dags.py) can run the same logic over
    MATERIALIZED upstream stage outputs while `unify_entities` runs it
    composed over the source tables; the oracle gate covers both because
    the plan is identical."""
    left = _match_side(
        supplier.withColumnRenamed("s_nationkey", "nationkey"),
        ["s_suppkey", "s_name", "nationkey"],
        "s_name",
        "s",
    )
    right = _match_side(
        customer
        .filter(valid_name_spark(F.col("c_name")))
        .withColumnRenamed("c_nationkey", "nationkey"),
        ["c_custkey", "c_name", "nationkey"],
        "c_name",
        "c",
    )
    scored = blocked_fuzzy_pairs(
        left,
        right,
        ["nationkey"],
        "s_norm",
        "c_norm",
        FUZZY_THRESHOLD,
        score=_multi_score_col("s", "c"),
    )
    w = Window.partitionBy("s_suppkey").orderBy(F.desc("score"), F.asc("c_custkey"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("s_suppkey").alias("abn"),
            F.col("s_name").alias("entity_name"),
            F.col("c_custkey").alias("matched_key"),
            F.col("c_name").alias("matched_name"),
            F.col("score").alias("merged_confidence"),
        )
    )


UNIFY_SQL = f"""
WITH l AS ({_side_cte_sql('supplier', 's_suppkey, s_name, s_nationkey AS nationkey', 's_name', 's')}),
     r AS ({_side_cte_sql(f'(SELECT * FROM customer WHERE {valid_name_sql("c_name")})', 'c_custkey, c_name, c_nationkey AS nationkey', 'c_name', 'c')}),
     pairs AS (
       SELECT s_suppkey, s_name, c_custkey, c_name, s_norm, c_norm, s_ts, c_ts,
              {_TS_T0} AS t0, {_TS_T1} AS t1, {_TS_T2} AS t2
       FROM l JOIN r USING (nationkey)
     ),
     scored AS (
       SELECT s_suppkey, s_name, c_custkey, c_name,
              {_MULTI_SCORE_SQL} AS score
       FROM pairs
     ),
     ranked AS (
       SELECT *, row_number() OVER (PARTITION BY s_suppkey
                                    ORDER BY score DESC, c_custkey ASC) AS rn
       FROM scored
       WHERE score >= {FUZZY_THRESHOLD}
     )
SELECT s_suppkey AS abn, s_name AS entity_name, c_custkey AS matched_key,
       c_name AS matched_name, score AS merged_confidence
FROM ranked WHERE rn = 1
"""


_SOUNDEX_FROM = "abcdefghijklmnopqrstuvwxyz"
_SOUNDEX_TO = "01230120022455012623010202"  # vowels+h/w/y → 0


def match_phonetic_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 — phonetic blocking stats: group part names by a Soundex-class
    consonant-skeleton key (first letter + first 3 consonant-class digits
    of the rest, runs collapsed, vowels dropped) and report each block's
    size and candidate-pair count. Phonetic blocking is the classic
    entity-matching candidate generator for MISSPELLED names — 'Smith' /
    'Smyth' share a block that no exact or prefix key catches — and the
    per-block pair counts are exactly the Σ|block|² cost the matcher will
    pay (the number you inspect before running B5's blocked fuzzy match).

    The key is a deliberately simplified Soundex variant defined by the
    same primitive ops in both dialects (translate → collapse runs →
    strip zeros), so parity holds by construction; it is NOT
    byte-compatible with American Soundex's H/W-adjacency edge rules
    (entity_matching.py:74-97 normalizes spelling; this blocks on sound).

    Scale: a pure per-row key projection + one map-side-combined count —
    no pairs are materialized here; the matcher joins within blocks."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    # tier-0 non-ASCII strip BEFORE lower() (round-12 locale_casing regime):
    # Java's full lowercase of İ U+0130 is "i"+U+0307 while DuckDB's simple
    # mapping is "i", so "İstanbul" keyed as "i" vs "istanbul". Stripping
    # non-ASCII to space first (NOT all punctuation — leading ASCII
    # punctuation must keep yielding w='' exactly as before) leaves lower()
    # a pure-ASCII input where the engines agree by construction.
    pre = F.regexp_replace(F.col("p_name"), r"[^\x00-\x7f]+", " ")
    w = F.regexp_extract(F.lower(F.trim(pre)), "^[a-z]+", 0)
    code = F.translate(F.expr("substring(w, 2)"), _SOUNDEX_FROM, _SOUNDEX_TO)
    d = part.select("p_partkey", w.alias("w")).filter(F.col("w") != "")
    d = d.select("p_partkey", "w", code.alias("code"))
    for digit in "123456":
        d = d.withColumn(
            "code", F.regexp_replace(F.col("code"), digit + "{2,}", digit)
        )
    d = d.withColumn("code", F.regexp_replace(F.col("code"), "0", ""))
    key = F.concat(
        F.upper(F.substring(F.col("w"), 1, 1)),
        F.rpad(F.substring(F.col("code"), 1, 3), 3, "0"),
    )
    return (
        d.select(key.alias("phonetic_key"))
        .groupBy("phonetic_key")
        .agg(F.count("*").alias("n_parts"))
        .select(
            "phonetic_key",
            "n_parts",
            # DECIMAL(38,0) numerator: n(n-1) overflows int64 once a block
            # holds ≥ 3.04e9 members; with the decimal intermediate the
            # envelope is exactly "the pair count itself fits bigint"
            # (n < 4.3e9). DuckDB promotes to HUGEINT on its own.
            F.expr(
                "(CAST(n_parts AS DECIMAL(38,0)) * (n_parts - 1)) div 2"
            ).alias("n_candidate_pairs"),
        )
    )


def _phonetic_sql() -> str:
    collapse = "code"
    for digit in "123456":
        collapse = f"regexp_replace({collapse}, '{digit}{{2,}}', '{digit}', 'g')"
    collapse = f"regexp_replace({collapse}, '0', '', 'g')"
    return f"""
WITH words AS (
  SELECT p_partkey,
         regexp_extract(lower(trim(regexp_replace(p_name, '[^\\x00-\\x7f]+', ' ', 'g'))), '^[a-z]+') AS w
  FROM part
),
coded AS (
  SELECT p_partkey, w,
         translate(substring(w, 2), '{_SOUNDEX_FROM}', '{_SOUNDEX_TO}') AS code
  FROM words WHERE w <> ''
),
keyed AS (
  SELECT upper(substring(w, 1, 1)) || rpad(substring({collapse}, 1, 3), 3, '0')
           AS phonetic_key
  FROM coded
)
SELECT phonetic_key, count(*) AS n_parts,
       (count(*) * (count(*) - 1)) // 2 AS n_candidate_pairs
FROM keyed GROUP BY 1
"""


QUERIES = {
    "norm_names": norm_names,
    "match_exact_key": match_exact_key,
    "match_fuzzy_levenshtein": match_fuzzy_levenshtein,
    "match_multi_scorer": match_multi_scorer,
    "match_keyword_jaccard": match_keyword_jaccard,
    "match_blocked_fuzzy": match_blocked_fuzzy,
    "unify_entities": unify_entities,
    "match_phonetic_block": match_phonetic_block,
}

ORACLES = {
    "norm_names": NORM_NAMES_SQL,
    "match_exact_key": MATCH_EXACT_SQL,
    "match_fuzzy_levenshtein": MATCH_FUZZY_SQL,
    "match_multi_scorer": MATCH_MULTI_SCORER_SQL,
    "match_keyword_jaccard": MATCH_KEYWORD_SQL,
    "match_blocked_fuzzy": MATCH_BLOCKED_SQL,
    "unify_entities": UNIFY_SQL,
    "match_phonetic_block": _phonetic_sql(),
}
