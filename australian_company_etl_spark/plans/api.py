"""Group D — query/API surface (reference fastapi_service/main.py).

Each endpoint becomes a DataFrame plan. At scale these are the
point-lookup / secondary-index access paths: the key filter pushes down to
the parquet scan (row-group pruning); the ILIKE scan is a full-column scan
exactly like the reference's un-indexed ILIKE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from australian_company_etl_spark.functions.partitioning import spread_if_narrow
from australian_company_etl_spark.functions.textfns import tokens_all_spark, tokens_all_sql
from australian_company_etl_spark.sources.registry import (
    load_tables, parquet_columns, table_path, where_in,
)

LOOKUP_KEY = 42
SEARCH_PATTERN = "widget"
STATE_NAME = "NATION_3"


def _nation_names(sf_dir: str, state: str | None = None) -> dict:
    """{n_nationkey: [n_name per nation row with that key]} — every nation
    row (those named ``state`` only, when given), read on the driver with
    no Spark job. Rows with a NULL key are left out: `c_nationkey =
    n_nationkey` is never true for them."""
    where = None if state is None else where_in("n_name", [state])
    t = parquet_columns(table_path(sf_dir, "nation"), ["n_nationkey", "n_name"], where)
    out: dict = {}
    for k, name in zip(t.column("n_nationkey").to_pylist(), t.column("n_name").to_pylist()):
        if k is not None:
            out.setdefault(k, []).append(name)
    return out


def _join_nation_names(customer: DataFrame, names: dict) -> DataFrame:
    """``customer ⋈ nation ON c_nationkey = n_nationkey`` with ``names``
    (`_nation_names`) folded into the plan as literals, adding ``n_name``:
    the keys filter the scan (pushed down), and each surviving row is
    exploded into one row per nation row of its key. Row for row the inner
    join: a duplicated nation key yields one row per name, a NULL or
    unmatched c_nationkey none, and n_name stays a nullable string. Both
    expressions are parsed from SQL text (nation keys are integers), one
    py4j call each: built from Column calls, the 25-arm CASE took ~150
    calls and ~160 ms of driver time per request at sf0.1 on a 4-core
    host, more than the broadcast job it replaces."""
    if not names:
        return customer.filter(F.lit(False)).withColumn("n_name", F.lit(None).cast("string"))

    def sql_str(v: str | None) -> str:
        if v is None:
            return "CAST(NULL AS STRING)"
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    keys = ", ".join(str(int(k)) for k in names)
    arms = " ".join(
        f"WHEN {int(k)} THEN array({', '.join(map(sql_str, ns))})" for k, ns in names.items()
    )
    return customer.filter(F.expr(f"c_nationkey IN ({keys})")).withColumn(
        "n_name", F.explode(F.expr(f"CAST(CASE c_nationkey {arms} END AS ARRAY<STRING>)"))
    )


def api_lookup_by_key(spark: SparkSession, sf_dir: str, key: int = LOOKUP_KEY) -> DataFrame:
    """D1 — GET /companies/{abn}: point lookup by key (main.py:15-38).

    ``key`` parameterizes the served route (serving/http_api.py); the
    registry/oracle pair pins the default. The nation join is folded into
    the plan (`_join_nation_names`), so a lookup is the one job of its
    collect; a broadcast join cost a second job to collect the same rows.
    The fold is exact — it maps each c_nationkey to the names of every
    nation row with that key and explodes them, which is the inner join's
    multiplicity — and safe because `nation` has 25 rows at every TPC-H
    scale factor."""
    c = load_tables(spark, sf_dir, ["customer"])["customer"]
    return _join_nation_names(c.filter(F.col("c_custkey") == key), _nation_names(sf_dir)).select(
        "c_custkey", "c_name", "c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal"), "n_name"
    )


LOOKUP_SQL = f"""
SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS c_acctbal, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey = {LOOKUP_KEY}
"""


def api_search_ilike(
    spark: SparkSession, sf_dir: str, pattern: str = SEARCH_PATTERN
) -> DataFrame:
    """D2 — GET /companies/search: case-insensitive substring (main.py:40-49)."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    return part.filter(F.lower(F.col("p_name")).contains(pattern.lower())).select(
        "p_partkey", "p_name", "p_brand"
    )


SEARCH_SQL = f"""
SELECT p_partkey, p_name, p_brand
FROM part WHERE lower(p_name) LIKE '%{SEARCH_PATTERN}%'
"""


def api_by_state(
    spark: SparkSession, sf_dir: str, state: str = STATE_NAME
) -> DataFrame:
    """D3 — GET /companies/by_state: categorical filter via dim join
    (main.py:51-59). The nation rows named ``state`` are folded into the
    plan as literals (`_join_nation_names`): their keys filter the
    customer scan, so the route is the one job of its collect. Exact for
    the same reason as D1's fold (a key held by k such rows yields k rows,
    as the join does; no such row, no rows), and safe because `nation`
    has 25 rows at every TPC-H scale factor."""
    c = load_tables(spark, sf_dir, ["customer"])["customer"]
    return _join_nation_names(c, _nation_names(sf_dir, state)).select(
        "c_custkey", "c_name", "n_name"
    )


BY_STATE_SQL = f"""
SELECT c_custkey, c_name, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_name = '{STATE_NAME}'
"""


PAGE_AFTER = 900  # cursor from the previous page
PAGE_SIZE = 25


def api_page_keyset(
    spark: SparkSession, sf_dir: str, after: int = PAGE_AFTER, limit: int = PAGE_SIZE
) -> DataFrame:
    """D4 — GET /companies?after={cursor}&limit=n: KEYSET pagination
    (`WHERE key > cursor ORDER BY key LIMIT n`). Unlike OFFSET — which
    scans and discards `offset` rows, O(page²) to walk a table and a
    full-sort-per-page on an engine — the keyset predicate pushes into the
    parquet scan (row-group min/max skips everything ≤ cursor) and the
    sort-limit prunes to n rows per partition before the single-partition
    merge. The only pagination that survives a 100 TB table."""
    c = load_tables(spark, sf_dir, ["customer"])["customer"]
    return (
        c.filter(F.col("c_custkey") > after)
        .orderBy("c_custkey")
        .limit(limit)
        .select("c_custkey", "c_name", "c_mktsegment")
    )


PAGE_KEYSET_SQL = f"""
SELECT c_custkey, c_name, c_mktsegment
FROM customer WHERE c_custkey > {PAGE_AFTER}
ORDER BY c_custkey LIMIT {PAGE_SIZE}
"""


FT_QUERY_TERMS = ["quick", "spark", "table"]
FT_TOPK = 20


def api_fulltext_rank(
    spark: SparkSession,
    sf_dir: str,
    terms: list[str] | None = None,
    topk: int = FT_TOPK,
) -> DataFrame:
    """D5 — GET /search?q=...: ranked full-text search over the corpus,
    the query-side twin of the H12 inverted index. Per query term:
    tf in the doc × the exact integer idf surrogate ((10⁶·N) div df); doc
    score = Σ over matched terms; top-k with deterministic (score desc,
    doc_id) tie-break. The surrogate is a deterministic cross-engine
    ranking that equals true tf·ln-idf ranking for single-term matches;
    for multi-term docs the monotone transform does not commute with the
    sum, so orderings can differ from ln-idf — the oracle uses the same
    surrogate, so parity is exact either way.

    Scale: the term list is a broadcast literal; tf comes from one
    map-side-combined (doc, term) aggregate over the posting rows of JUST
    the query terms (filter pushed before the explode output shuffles);
    df is a 3-row aggregate. Serving form: precompute H12's index and this
    becomes an index lookup instead of a corpus scan — same ranking."""
    terms = terms if terms is not None else FT_QUERY_TERMS
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    toks = docs.select(
        "doc_id", F.explode(tokens_all_spark(F.col("text"))).alias("tok")
    ).filter(F.col("tok").isin(*terms))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df_docs"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            # DECIMAL(38,0) intermediates (same formula SHAPE as the oracle
            # and the serving probe: tf × the per-term integer idf): the
            # idf numerator 1e6·n_docs overflows int64 past ~9.2e12 docs
            # and the tf× product overflows for rare-term long docs well
            # before that — ANSI mode would fail the query. The summed
            # score is cast back to the bigint output type, so the envelope
            # is exactly "the OUTPUT fits"; DuckDB promotes to HUGEINT on
            # its own and applies the same ::BIGINT at the end.
            F.sum(
                F.expr(
                    "CAST(tf AS DECIMAL(38,0))"
                    " * ((CAST(1000000 AS DECIMAL(38,0)) * n_docs) div df_docs)"
                )
            )
            .cast("long")
            .alias("score_micro"),
            F.count("*").alias("n_terms_hit"),
        )
    )
    return (
        scored.orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(topk)
        .select("doc_id", F.col("n_terms_hit").cast("int").alias("n_terms_hit"), "score_micro")
    )


def _fulltext_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in FT_QUERY_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_all_sql('text')}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok IN ({terms})
  GROUP BY doc_id, tok
), dfreq AS (SELECT tok, count(*) AS df_docs FROM tf GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id,
       count(*)::INT AS n_terms_hit,
       sum(tf * ((1000000 * n.n_docs) // dfreq.df_docs))::BIGINT AS score_micro
FROM tf JOIN dfreq USING (tok) CROSS JOIN n
GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT {FT_TOPK}
"""


TRGM_QUERY = "red widgit"  # misspelled on purpose: trigram search still ranks
TRGM_TOPK = 10


def _pg_trigrams(words: list[str]) -> list[str]:
    """pg_trgm's trigram set: each word padded '  w ' then 3-gram'd.

    Words are split on non-alphanumerics FIRST and lowercased per piece —
    the SAME normalization `_TRGM_EXPR` applies to the indexed/scanned
    side (and what pg_trgm's show_trgm does): without the split a query
    like "red-widgit" would carry '-wi'-style trigrams that can never
    match any indexed part, silently deflating every sim through the |q|
    term. Split-FIRST order (round-12 locale_casing regime, the
    tokenizer fix's twin): a piece from the ASCII split is pure ASCII,
    so lower() agrees across Python, Java, and DuckDB by construction —
    the old lower()-first order let Java's full lowercase of İ U+0130
    produce different word splits than DuckDB's simple mapping (seed-905
    sweep, api_search_trigram sim drift)."""
    import re

    out: set[str] = set()
    for w in words:
        for piece in re.split(r"[\W_]+", w, flags=re.ASCII):
            if not piece:
                continue
            p = f"  {piece.lower()} "
            out.update(p[i : i + 3] for i in range(len(p) - 2))
    return sorted(out)


# separator spelled [\W_]+ (not [^A-Za-z0-9]+) for the same measured Java
# 3-range-class cliff documented at textfns.TOKEN_SEP; in the Spark-SQL
# string literal the backslash must itself be escaped ('\\W').
_TRGM_EXPR = (
    "array_distinct(flatten(transform("
    "  transform(filter(transform(split({c}, '[\\\\W_]+'), x -> lower(x)),"
    "                   x -> x != ''),"
    "            w -> concat('  ', w, ' ')),"
    "  p -> transform(sequence(1, length(p) - 2), i -> substring(p, i, 3)))))"
)

_TRGM_SQL = (
    "list_distinct(flatten(list_transform("
    "  list_transform(list_filter(list_transform("
    "                   string_split_regex({c}, '[\\W_]+'), x -> lower(x)),"
    "                             x -> x <> ''),"
    "            w -> concat('  ', w, ' ')),"
    "  p -> list_transform(range(1, length(p) - 1), i -> substring(p, i, 3)))))"
)


def api_search_trigram(
    spark: SparkSession, sf_dir: str, query: str = TRGM_QUERY, topk: int = TRGM_TOPK
) -> DataFrame:
    """D6 — pg_trgm-parity fuzzy search: rank part names by trigram-set
    Jaccard similarity to a (misspelled) query, top-10. The reference's
    terminal store is Postgres, where `pg_trgm` similarity + a GIN index
    IS the fuzzy-search feature; this is that semantics — per-word
    '  w ' padding, distinct trigram set, |∩|/|∪| — as a corpus scan.

    The query's trigram set is computed driver-side once and inlined as
    literals into BOTH dialects, so the engines score identical sets.
    Scale: per-row set intersection against a ~|query| literal array +
    TakeOrdered top-k (sort-limit pushes partial top-k map-side); the
    GIN-index analog at 100 TB is an inverted trigram→id table (H12's
    posting-list build) probed with the query's trigrams."""
    q = _pg_trigrams([w for w in query.lower().split() if w])
    part = load_tables(spark, sf_dir, ["part"])["part"]
    trg = F.expr(_TRGM_EXPR.format(c="p_name"))
    qlit = F.array(*[F.lit(t) for t in q])
    inter = F.size(F.array_intersect(trg, qlit))
    union = F.size(trg) + F.lit(len(q)) - inter
    sim = F.when(union == 0, F.lit(0.0)).otherwise(
        F.round(inter.cast("double") / union, 6)
    )
    return (
        part.select("p_partkey", "p_name", sim.alias("sim"))
        .filter(F.col("sim") > 0)
        .orderBy(F.desc("sim"), F.asc("p_partkey"))
        .limit(topk)
    )


def _trigram_sql() -> str:
    q = _pg_trigrams([w for w in TRGM_QUERY.lower().split() if w])
    qlit = "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in q) + "]"
    trg = _TRGM_SQL.format(c="p_name")
    inter = f"len(list_intersect({trg}, {qlit}))"
    union = f"(len({trg}) + {len(q)} - {inter})"
    return f"""
SELECT p_partkey, p_name,
       CASE WHEN {union} = 0 THEN 0.0
            ELSE round({inter}::DOUBLE / {union}, 6) END AS sim
FROM part
WHERE CASE WHEN {union} = 0 THEN 0.0
           ELSE round({inter}::DOUBLE / {union}, 6) END > 0
ORDER BY sim DESC, p_partkey ASC
LIMIT {TRGM_TOPK}
"""


QUERIES = {
    "api_lookup_by_key": api_lookup_by_key,
    "api_search_ilike": api_search_ilike,
    "api_by_state": api_by_state,
    "api_page_keyset": api_page_keyset,
    "api_fulltext_rank": api_fulltext_rank,
    "api_search_trigram": api_search_trigram,
}

ORACLES = {
    "api_lookup_by_key": LOOKUP_SQL,
    "api_search_ilike": SEARCH_SQL,
    "api_by_state": BY_STATE_SQL,
    "api_page_keyset": PAGE_KEYSET_SQL,
    "api_fulltext_rank": _fulltext_sql(),
    "api_search_trigram": _trigram_sql(),
}
