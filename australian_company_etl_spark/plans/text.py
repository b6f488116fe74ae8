"""Group H — text analysis for LLM-training-data pipelines.

- H1 `text_langid`      — stopword-vote language ID (entity_matching.py-style
  heuristic scoring, applied to language evidence instead of name tokens).
- H2 `text_quality_score` — length/punct/stopword-ratio quality score, the
  doc-level analog of the reference's per-row quality checks
  (run_quality_checks.py:54-78).
- H3 `text_token_count` — whitespace + BPE-ish regex token counts.
- H4 `text_fingerprint` — normalized md5 + min-shingle-hash fingerprint
  (the ledger-style identity key, extract_commoncrawl.py:89-93).

Scale: every op is a stateless built-in column expression — whole-stage
codegen, zero shuffle, filters/projections push into the parquet scan. At
100 TB this family is scan-bound, exactly what you want.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from australian_company_etl_spark.functions.partitioning import spread_if_narrow
from australian_company_etl_spark.functions.textfns import (
    phash_spark,
    phash_sql,
    shingle_rows_spark,
    shingles_sql,
    tokens_all_spark,
    tokens_all_sql,
)
from australian_company_etl_spark.sources.registry import load_tables

# stopword evidence lists, checked in fixed order (de, en, es, fr) for a
# deterministic argmax tie-break in BOTH dialects
STOPWORDS = {
    "de": ["der", "die", "und", "das", "ist", "ein", "mit", "nicht"],
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "los", "las", "y", "es", "una", "que", "por"],
    "fr": ["le", "les", "des", "et", "est", "une", "dans", "pas"],
}
LANG_ORDER = ["de", "en", "es", "fr"]

BPE_RE = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"


def _vote_spark(toks, words: list[str]):
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _vote_sql(toks: str, words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, x -> x IN ({inlist})))"


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 — language ID by stopword vote; 'und' when no evidence."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # the stopword-vote filter lambdas run interpreted — spread the per-row
    # work across cores (a tiny file otherwise scans as ONE partition; on a
    # real many-file corpus the scan is already parallel)
    docs = spread_if_narrow(docs, "doc_id")
    toks = tokens_all_spark(F.col("text"))
    d = docs.select(
        "doc_id", *[_vote_spark(toks, STOPWORDS[lg]).alias(f"v_{lg}") for lg in LANG_ORDER]
    )
    best = F.greatest(*[F.col(f"v_{lg}") for lg in LANG_ORDER])
    pred = F.when(best == 0, F.lit("und"))
    for lg in LANG_ORDER:
        pred = pred.when(F.col(f"v_{lg}") == best, F.lit(lg))
    return d.select("doc_id", pred.alias("lang_pred"), best.cast("int").alias("best_score"))


def _langid_sql() -> str:
    toks = tokens_all_sql("text")
    votes = ", ".join(f"{_vote_sql('t', STOPWORDS[lg])} AS v_{lg}" for lg in LANG_ORDER)
    best = "greatest(" + ", ".join(f"v_{lg}" for lg in LANG_ORDER) + ")"
    whens = " ".join(f"WHEN v_{lg} = {best} THEN '{lg}'" for lg in LANG_ORDER)
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
votes AS (SELECT doc_id, {votes} FROM toks)
SELECT doc_id,
       CASE WHEN {best} = 0 THEN 'und' {whens} END AS lang_pred,
       ({best})::INT AS best_score
FROM votes
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 — heuristic quality score from length/punct/stopword ratios."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # same single-partition guard as H1: regex + interpreted filter per row
    docs = spread_if_narrow(docs, "doc_id")
    toks = tokens_all_spark(F.col("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    # translate-with-empty-target DELETES the listed chars: a pure
    # char-map pass, ~10x cheaper than the equivalent char-class regex
    punct = F.length(F.translate(F.col("text"), "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = _vote_spark(toks, STOPWORDS["en"]) / F.greatest(n_tok, F.lit(1))
    quality = F.least(
        F.lit(1.0),
        F.lit(0.25) + 0.5 * stop_ratio + 0.25 * F.least(F.lit(1.0), n_tok / F.lit(128.0)) - punct_ratio,
    )
    return docs.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(quality, 4).alias("quality"),
    )


def _quality_sql() -> str:
    toks = tokens_all_sql("text")
    en = _vote_sql("t", STOPWORDS["en"])
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS t,
         length(text) AS n_chars,
         length(translate(text, 'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ', '')) AS punct
  FROM documents
), r AS (
  SELECT doc_id, len(t) AS n_tok,
         punct / greatest(n_chars, 1) AS punct_ratio,
         {en} / greatest(len(t), 1) AS stop_ratio
  FROM base
)
SELECT doc_id, n_tok::INT AS n_tokens,
       round(punct_ratio, 4) AS punct_ratio,
       round(stop_ratio, 4) AS stop_ratio,
       round(least(1.0::DOUBLE, 0.25 + 0.5 * stop_ratio
                   + 0.25 * least(1.0::DOUBLE, n_tok::DOUBLE / 128.0) - punct_ratio), 4) AS quality
FROM r
"""


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 — whitespace token count + BPE-ish regex token count."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    ws = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0))
    return docs.select(
        "doc_id",
        ws.cast("int").alias("n_ws_tokens"),
        bpe.cast("int").alias("n_bpe_tokens"),
    )


# oracle ws-split is [\s\v]+, not \s+: Java's \s includes vertical tab
# (\x0B) where RE2's does not, so a VT-bearing document (hostile_docs
# regime) counted one token more on the Spark side — \v closes the gap
TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       len(list_filter(string_split_regex(trim(text), '[\\s\\v]+'), x -> x <> ''))::INT AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_RE}'))::INT AS n_bpe_tokens
FROM documents
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4 — md5 of normalized text + min word-3gram hash fingerprint.

    Normalization IS the tokenizer: split on non-alphanumeric runs, drop
    empties, rejoin with single spaces — so tokens(norm) == tokens(text) by
    construction. (Deliberately NOT a regexp_replace of `[^a-z0-9 ]`: a
    negated-char-class replace measured ~20× slower than the equivalent
    split in Spark's regex path even with zero matches — 2.6s of pure
    overhead per 50k docs — while split+rejoin is ~0.2s for the identical
    result on whitespace-tokenized text.)"""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # spread the per-doc shingle-hash work across cores (single small file
    # otherwise scans as one partition; no-op on a real many-file dataset)
    docs = spread_if_narrow(docs, "doc_id")
    # NULL text → NULL norm → NULL fingerprint (concat_ws alone would fold
    # NULL into "" and give every NULL doc the md5('') fingerprint, marking
    # all content-less docs as exact duplicates of empty ones — and
    # diverging from the oracle, whose array_to_string propagates NULL;
    # NULL-heavy-corpus sweep finding). An EMPTY string still fingerprints
    # as md5('') in both engines.
    # KEPT two-pass explode+groupBy+join (r12 optimization round, measured):
    # a shuffle-free per-row rewrite (same zip-shift gram structs, md5 via
    # one `transform`, per-row `array_min` — removing the double tokenize,
    # the groupBy AND the join) was tried and REGRESSED sf10 2.5s → 4.7s:
    # the md5 then evaluates inside an interpreted higher-order lambda
    # (~1 µs/element) where the exploded row form runs it under whole-stage
    # codegen, and that dominates everything the rewrite saved. The explode
    # + map-side-combined min + join remains the fastest measured shape.
    norm = F.when(
        F.col("text").isNotNull(), F.concat_ws(" ", tokens_all_spark(F.col("text")))
    )
    d = docs.select("doc_id", norm.alias("norm"))
    # zip-shift row-form shingles (codegen, no window → no exchange above
    # the explode on wide inputs); the groupBy(doc_id) min partial-aggregates
    # map-side, so the shuffle moves one (doc_id, bigint) row per doc.
    toks = docs.select("doc_id", tokens_all_spark(F.col("text")).alias("t"))
    mins = (
        shingle_rows_spark(toks, 3)
        .groupBy("doc_id")
        .agg(F.min(phash_spark(F.col("s"))).alias("min_shingle"))
    )
    return d.select("doc_id", F.md5("norm").alias("fp_md5")).join(mins, "doc_id", "left")


FINGERPRINT_SQL = f"""
WITH n AS (
  -- CASE+coalesce: NULL text must stay NULL (the r8 NULL-corpus contract)
  -- but a non-NULL TOKEN-FREE text must normalize to '' like Spark's
  -- concat_ws — DuckDB's array_to_string([]) alone returns NULL, silently
  -- NULL-fingerprinting alnum-free docs (round-9 hostile-regime class)
  SELECT doc_id, CASE WHEN text IS NOT NULL
                      THEN coalesce(array_to_string({tokens_all_sql('text')}, ' '), '')
                 END AS norm
  FROM documents
), s AS (
  SELECT doc_id, norm, {shingles_sql(tokens_all_sql('norm'), 3)} AS sh FROM n
)
SELECT doc_id, md5(norm) AS fp_md5,
       list_min(list_transform(sh, s -> {phash_sql('s')})) AS min_shingle
FROM s
"""


EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 ()-]{7,}[0-9]"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5 — PII redaction: emails/phone-shaped spans → placeholder tokens,
    with per-doc redaction counts (the pre-training privacy pass)."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    n_email = F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0))
    n_phone = F.size(F.regexp_extract_all(F.col("text"), F.lit(PHONE_RE), 0))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_md5"),
        n_email.cast("int").alias("n_emails"),
        n_phone.cast("int").alias("n_phones"),
    )


PII_SCRUB_SQL = f"""
SELECT doc_id,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5,
       len(regexp_extract_all(text, '{EMAIL_RE}'))::INT AS n_emails,
       len(regexp_extract_all(text, '{PHONE_RE}'))::INT AS n_phones
FROM documents
"""


def text_idf_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 — corpus vocabulary with document frequency + IDF: the classic
    corpus-statistics job (token → df, idf = ln(N/df)), top-200 by df.

    Scale: one explode + one groupBy with map-side combine; the corpus size
    N is a scalar broadcast via a cross join of a 1-row aggregate."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    tok_docs = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_all_spark(F.col("text")))).alias("tok")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    return (
        tok_docs.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select("tok", "df", F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(200)
    )


IDF_VOCAB_SQL = f"""
WITH tok_docs AS (
  SELECT doc_id, unnest(list_distinct({tokens_all_sql('text')})) AS tok FROM documents
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tok, count(*) AS df,
       round(ln(n_docs / count(*)), 6) AS idf
FROM tok_docs, n
GROUP BY tok, n_docs
ORDER BY df DESC, tok ASC
LIMIT 200
"""


def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7 — within-document repetition: 1 - distinct/total word-3grams
    (the Gopher/C4-style boilerplate signal; high ratio = loopy spam).

    Scale: fully per-row — the 3-gram multiset is the token array zipped
    with its own two shifted slices (arrays_zip/slice: codegen collection
    expressions, not HOFs), so n_distinct = size(array_distinct(zipped))
    computes inside the scan partition with ZERO shuffle and no explode.
    Struct distinctness == gram-string distinctness because tokens are
    space-free by construction (split on [^a-z0-9]+), making the
    space-join injective."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    t = F.coalesce(tokens_all_spark(F.col("text")), F.array().cast("array<string>"))
    toks = docs.select("doc_id", t.alias("t"))
    tc = F.col("t")
    n = F.size(tc)
    grams = F.slice(
        F.arrays_zip(tc.alias("g0"), F.slice(tc, 2, n).alias("g1"), F.slice(tc, 3, n).alias("g2")),
        1,
        F.greatest(n - 2, F.lit(0)),
    )
    n_sh = F.greatest(n - 2, F.lit(0))
    n_di = F.size(F.array_distinct(grams))
    rep = F.when(n_sh > 0, 1 - n_di / n_sh).otherwise(F.lit(0.0))
    return toks.select(
        "doc_id",
        n_sh.cast("int").alias("n_shingles"),
        F.when(n_sh > 0, n_di).otherwise(F.lit(0)).cast("int").alias("n_distinct"),
        F.round(rep, 4).alias("rep_ratio"),
    )


def _repetition_sql() -> str:
    toks = tokens_all_sql("text")
    dist = f"len({shingles_sql('t', 3)})"
    return f"""
WITH t AS (SELECT doc_id, {toks} AS t FROM documents)
SELECT doc_id,
       greatest(len(t) - 2, 0)::INT AS n_shingles,
       (CASE WHEN len(t) >= 3 THEN {dist} ELSE 0 END)::INT AS n_distinct,
       round(CASE WHEN len(t) >= 3
                  THEN 1 - {dist}::DOUBLE / (len(t) - 2)
                  ELSE 0.0 END, 4) AS rep_ratio
FROM t
"""


PMI_MIN_PAIR = 5  # ignore pairs seen fewer times (PMI noise floor)
PMI_TOPK = 50


def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H14 — collocation / phrase mining: top adjacent-bigram pairs by
    pointwise mutual information, PMI = ln(N·c_xy / (c_x·c_y)). ln is
    monotone, so ranking uses the EXACT integer surrogate
    (1000·N·c_xy) div (c_x·c_y) — bit-identical across engines, no float
    logs anywhere. The standard corpus step for finding multiword units
    ("new york") before tokenizer/vocab training.

    Overflow headroom: the surrogate peaks at 1000·N² ≈ 8·10¹⁶ for a
    corpus of 9M tokens — inside BIGINT here; at 100 TB (10¹²⁺ tokens)
    swap the arithmetic to DECIMAL(38,0)/HUGEINT, same expressions.

    Scale: bigram rows come from the zip-shift form (token array zipped
    with its own 1-shifted slice → one explode, no window, no doc_id
    partitioning requirement — no exchange above the Generate on a wide
    corpus); one map-side-combined shuffle each for pair and unigram
    counts; the unigram table joins back twice — both sides shrink to
    vocabulary size first, and the corpus total is a broadcast scalar."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    from pyspark.sql import Window

    toks = docs.select("doc_id", tokens_all_spark(F.col("text")).alias("t"))
    tc = F.col("t")
    n = F.size(tc)
    pair_arr = F.slice(
        F.arrays_zip(tc.alias("x"), F.slice(tc, 2, n).alias("y")), 1, F.greatest(n - 1, F.lit(0))
    )
    bi = (
        toks.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= PMI_MIN_PAIR)
    )
    ex = toks.select(F.explode(tc).alias("x"))
    uni = ex.groupBy("x").agg(F.count("*").alias("c"))
    n_tok = ex.agg(F.count("*").alias("n_total"))
    scored = (
        bi.join(uni.withColumnRenamed("c", "c_x"), "x")
        .join(
            uni.select(F.col("x").alias("y"), F.col("c").alias("c_y")), "y"
        )
        .crossJoin(F.broadcast(n_tok))
        .select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            # DECIMAL(38,0) intermediates: at 100 TB n_total is ~2e13
            # bigrams and a common pair's counts reach the same order, so
            # both the numerator (1000·N·c_xy ~ 1e29) and the denominator
            # (c_x·c_y ~ 1e26) blow past int64 and ANSI mode would fail the
            # query; the QUOTIENT (≤ 1000·N since c_xy ≤ min(c_x, c_y))
            # always fits the bigint that decimal `div` returns. DuckDB's
            # oracle promotes to HUGEINT on its own — values identical.
            F.expr(
                "(CAST(1000 AS DECIMAL(38,0)) * n_total * c_xy)"
                " div (CAST(c_x AS DECIMAL(38,0)) * c_y)"
            ).alias("pmi_milli"),
        )
    )
    w = Window.orderBy(F.desc("pmi_milli"), F.asc("x"), F.asc("y"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= PMI_TOPK)
        .select("x", "y", "c_xy", "c_x", "c_y", "pmi_milli", F.col("rnk").cast("int").alias("rnk"))
    )


def _collocations_sql() -> str:
    toks = tokens_all_sql("text")
    return f"""
WITH ex AS (
  -- parallel unnest, not t[i]-in-lambda: indexing the captured list per
  -- position re-materializes against it in DuckDB (the round-10/11
  -- quadratic oracle class) — O(n) this way
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, unnest(t) AS x
  FROM (SELECT doc_id, {toks} AS t FROM documents)
),
bi AS (
  SELECT x, y, count(*) AS c_xy
  FROM (
    SELECT x, lead(x) OVER (PARTITION BY doc_id ORDER BY pos) AS y FROM ex
  )
  WHERE y IS NOT NULL
  GROUP BY x, y
  HAVING count(*) >= {PMI_MIN_PAIR}
),
uni AS (SELECT x, count(*) AS c FROM ex GROUP BY x),
n AS (SELECT count(*) AS n_total FROM ex),
scored AS (
  SELECT b.x, b.y, b.c_xy, ux.c AS c_x, uy.c AS c_y,
         ((1000 * n.n_total * b.c_xy) // (ux.c * uy.c))::BIGINT AS pmi_milli
  FROM bi b JOIN uni ux ON ux.x = b.x
            JOIN uni uy ON uy.x = b.y
            CROSS JOIN n
)
SELECT x, y, c_xy, c_x, c_y, pmi_milli, rnk::INT AS rnk
FROM (
  SELECT *, row_number() OVER (ORDER BY pmi_milli DESC, x, y) AS rnk FROM scored
)
WHERE rnk <= {PMI_TOPK}
"""


def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H13 — token-type Shannon entropy per document: H = ln(n) −
    (Σ cᵢ·ln cᵢ)/n over token-type counts cᵢ. Low entropy = repetitive /
    machine-generated text (keyword stuffing, log spew); high ≈ ln(n_types)
    = natural prose. Complements H7 (which sees 3-gram repeats, not
    skewed unigram distributions).

    Determinism: Σ cᵢ·ln cᵢ is a SEQUENTIAL left-to-right fold over the
    count list sorted by token — Spark's F.aggregate and DuckDB's
    list_reduce evaluate the identical double sequence, so the sum (and
    every downstream comparison) is bit-identical, never an
    accumulation-order ulp.

    Scale: token counts ride the doc_id partitioning (posexplode preserves
    it → groupBy(doc_id, tok) needs no shuffle); the fold is per-doc over
    the type list. One shuffle-free corpus pass + the final projection."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    counts = (
        docs.select("doc_id", F.explode(tokens_all_spark(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_types"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tok", "c"))),
                lambda s: s["c"].cast("double"),
            ),
            F.lit(0.0),
            lambda acc, c: acc + c * F.log(c),
        ).alias("s"),
    )
    ent = F.log(F.col("n").cast("double")) - F.col("s") / F.col("n")
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("int").alias("n_types"),
            F.round(F.coalesce(ent, F.lit(0.0)), 4).alias("entropy"),
        )
    )


def _entropy_sql() -> str:
    toks = tokens_all_sql("text")
    return f"""
WITH counts AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
  GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id, sum(c) AS n, count(*) AS n_types,
         list_reduce(
           list_prepend(0.0,
             list_transform(list_sort(list({{'tok': tok, 'c': c}})), s -> s.c::DOUBLE)),
           (acc, c) -> acc + c * ln(c)) AS s
  FROM counts GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n, 0)::INT AS n_tokens,
       coalesce(p.n_types, 0)::INT AS n_types,
       round(coalesce(ln(p.n::DOUBLE) - p.s / p.n, 0.0), 4) AS entropy
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# benchmark-contamination blocklist: fixed literal phrases (in a real
# pipeline: eval-set n-grams). Substring semantics, case-sensitive.
CONTAM_PHRASES = ["big big", "table table", "spark data", "quick brown fox"]

# Flag for the scale path: False keeps the pure-expression plan (exactly the
# DuckDB oracle's semantics, P `contains` scans); True compiles the blocklist
# into ONE Aho-Corasick automaton inside an Arrow-batched mapInPandas —
# O(text + hits) per document independent of blocklist size, the only viable
# shape for real decontamination lists (10⁴+ phrases). Both paths produce
# identical rows (asserted in tests/test_operators.py).
CONTAM_USE_AUTOMATON = False


def text_contamination(
    spark: SparkSession, sf_dir: str, use_automaton: bool | None = None
) -> DataFrame:
    """H8 — decontamination scan: per blocklist phrase, how many documents
    contain it (and the first hit). The phrase list is a broadcast literal
    dim and the corpus is never shuffled; see operators/contamination.py
    for the expression-vs-automaton trade."""
    from australian_company_etl_spark.operators.contamination import (
        contamination_report,
    )

    if use_automaton is None:
        use_automaton = CONTAM_USE_AUTOMATON
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    phrases = spark.createDataFrame([(p,) for p in CONTAM_PHRASES], "phrase string")
    return contamination_report(docs, phrases, CONTAM_PHRASES, use_automaton)


def _contamination_sql() -> str:
    values = ", ".join(f"('{p}')" for p in CONTAM_PHRASES)
    return f"""
WITH phrases(phrase) AS (VALUES {values})
SELECT phrase, count(doc_id) AS n_docs, min(doc_id) AS first_doc
FROM phrases LEFT JOIN documents ON contains(text, phrase)
GROUP BY phrase
ORDER BY phrase
"""


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H9 — unigram log-probability quality score: the deterministic stand-in
    for the CCNet/KenLM perplexity filter. The unigram LM is trained on the
    corpus itself (token → count/total), and each document scores the mean
    token log-probability; strongly negative means OOV-ish/junk, near-zero
    means boilerplate. Perplexity proxy = exp(-avg_logprob).

    Per-token logprobs are fixed to integer nano-units (round(ln·1e9)) so
    the per-doc aggregate is an EXACT int64 sum — order-independent, hence
    bit-identical between Spark partial aggregation and the single-threaded
    oracle (ln itself is deterministic per distinct token).

    Scale: one map-side-combined groupBy builds the vocab (|V| rows); the
    corpus total rides into it via a broadcast 1-row cross join, and the
    scored vocab broadcasts back onto the token stream, so the corpus is
    shuffled only by doc_id for the final mean — explode/join/agg all stay
    in whole-stage codegen."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    toks = docs.select("doc_id", F.explode(tokens_all_spark(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("cnt").cast("double") / F.col("total")) * 1e9)
        .cast("bigint")
        .alias("lp_fix"),
    )
    # vocab join UNHINTED: |V| grows with the corpus (Heaps' law — 1e8+
    # distinct tokens on web scale), so a mandatory broadcast would OOM
    # the driver; tok already rides the vocab aggregate's partitioning,
    # and AQE still broadcasts lp at any SF where it actually fits
    per_doc = (
        toks.join(lp, "tok")
        .groupBy("doc_id")
        .agg(F.sum("lp_fix").alias("s"), F.count("*").alias("n_tokens"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.round(F.col("s") / (F.col("n_tokens") * F.lit(1e9)), 6).alias("avg_logprob"),
        )
    )


UNIGRAM_LOGPROB_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_all_sql('text')}) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT sum(cnt) AS total FROM vocab),
lp AS (
  SELECT tok, round(ln(cnt::DOUBLE / total) * 1000000000)::BIGINT AS lp_fix
  FROM vocab, tot
),
per_doc AS (
  SELECT t.doc_id, sum(lp_fix) AS s, count(*) AS n_tokens
  FROM toks t JOIN lp USING (tok)
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       round(p.s / (p.n_tokens * 1e9), 6) AS avg_logprob
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# ── H10: Gopher-style quality filter rules ──────────────────────────────────
# The doc-level repetition/quality rule set of Rae et al. 2021 ("Gopher",
# §A1.1), adapted to a corpus without newlines (the line-based bullet/
# ellipsis-line rules don't apply). Every ratio threshold is compared in
# EXACT integer arithmetic (k*n_words vs counts) so both engines agree
# bit-for-bit without float rounding contracts.

GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3
GOPHER_MAX_MEAN_LEN = 10
GOPHER_MIN_STOPWORDS = 2
# Gopher's rule list, widened with 'a' — the synthetic corpus's function
# words are 'a'/'the', and a presence rule that nothing can pass tests
# nothing (the real list drops straight in for a natural corpus)
GOPHER_STOPWORDS = ["a", "the", "and", "of", "to", "in", "is", "it"]


def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H10 — Gopher quality rules per doc: word-count bounds, mean word
    length in [3,10], ≥80% alphabetic words, symbol ('#'/'...')-to-word
    ratio ≤ 0.1, ≥2 distinct English stopwords; keep = all rules pass.

    Scale: stateless column expressions over one scan — no shuffle; the
    keep flag is the standard pretraining-corpus pre-filter that runs
    before any dedup/similarity stage touches the data.
    """
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    toks = tokens_all_spark(F.col("text"))
    d = docs.select(
        "doc_id",
        F.col("text"),
        F.size(toks).alias("n_words"),
        F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)).alias("word_chars"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).alias("alpha_words"),
        F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))).alias("stop_hits"),
    )
    # sym3 = 3*(#-count) + 3*(ellipsis-count): the '...' length diff is
    # already 3 per occurrence, so scaling the '#' diff by 3 keeps the
    # whole symbol-ratio rule in integer arithmetic (rule compares
    # sym3*10 <= 3*n_words, i.e. symbol/word ratio <= 0.1)
    sym3 = (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))) * 3 + (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    )
    r_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (F.col("n_words") <= GOPHER_MAX_WORDS)
    r_meanlen = (F.col("word_chars") >= GOPHER_MIN_MEAN_LEN * F.col("n_words")) & (
        F.col("word_chars") <= GOPHER_MAX_MEAN_LEN * F.col("n_words")
    )
    r_alpha = F.col("alpha_words") * 5 >= F.col("n_words") * 4
    r_symbol = sym3 * 10 <= F.col("n_words") * 3
    r_stop = F.col("stop_hits") >= GOPHER_MIN_STOPWORDS
    return d.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        r_words.alias("r_words"),
        r_meanlen.alias("r_meanlen"),
        r_alpha.alias("r_alpha"),
        r_symbol.alias("r_symbol"),
        r_stop.alias("r_stop"),
        (r_words & r_meanlen & r_alpha & r_symbol & r_stop).alias("keep"),
    )


def _gopher_sql() -> str:
    toks = tokens_all_sql("text")
    stop_list = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text, {toks} AS t FROM documents
), m AS (
  SELECT doc_id,
         len(t) AS n_words,
         coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS word_chars,
         len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
         len(list_intersect(list_distinct(t), [{stop_list}])) AS stop_hits,
         (length(text) - length(replace(text, '#', ''))) * 3
           + (length(text) - length(replace(text, '...', ''))) AS sym3
  FROM base
)
SELECT doc_id, n_words::INT AS n_words,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}) AS r_words,
       (word_chars >= {GOPHER_MIN_MEAN_LEN} * n_words
        AND word_chars <= {GOPHER_MAX_MEAN_LEN} * n_words) AS r_meanlen,
       (alpha_words * 5 >= n_words * 4) AS r_alpha,
       (sym3 * 10 <= n_words * 3) AS r_symbol,
       (stop_hits >= {GOPHER_MIN_STOPWORDS}) AS r_stop,
       ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
        AND (word_chars >= {GOPHER_MIN_MEAN_LEN} * n_words
             AND word_chars <= {GOPHER_MAX_MEAN_LEN} * n_words)
        AND (alpha_words * 5 >= n_words * 4)
        AND (sym3 * 10 <= n_words * 3)
        AND (stop_hits >= {GOPHER_MIN_STOPWORDS})) AS keep
FROM m
"""


# ── H11: per-document TF-IDF top terms ──────────────────────────────────────


def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H11 — top-5 salient terms per document by tf×(N/df), the keyword-
    extraction twin of H6's corpus-level vocabulary (the reference scores
    name-token overlap the same way, entity_matching.py:142-170; this is the
    per-document generalization a curation pipeline uses for topic tagging).

    The score is kept EXACT: ``score_micro = (tf * 1_000_000 * N) div df``
    (integer division, identical in both dialects) rather than tf·ln(N/df) —
    ln() is engine-specific ulp territory, and for ranking within one corpus
    ln is monotone in N/df so top-k by the rational surrogate equals top-k by
    tf-idf whenever tf ties break the same way (deterministic ties: score
    desc, token asc). BIGINT headroom: tf·1e6·N overflows past N≈9e18/tf —
    at trillion-doc scale move the constant into the df side or use
    DECIMAL(38,0); noted, not needed here.

    Scale: tf = one shuffle on (doc_id, tok) with map-side combine; df = one
    shuffle on tok over the already-deduped tf rows; the tf⋈df equi-join
    reuses the tok partitioning; top-k is one window on doc_id. N is a
    1-row broadcast scalar. No all-corpus collect anywhere."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    toks = docs.select("doc_id", F.explode(tokens_all_spark(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df_docs"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df_docs",
            # DECIMAL(38,0) numerator: tf·1e6·n_docs overflows int64 once
            # n_docs passes ~9.2e12/tf (a 1e10-doc corpus with tf ≥ 920) —
            # ANSI mode would fail the whole query on the product even when
            # the score fits. With the decimal intermediate the envelope is
            # exactly "the OUTPUT fits bigint" (tf·n_docs/df < 9.2e12;
            # beyond that the score column's own type is the limit, and
            # df=1+huge-tf garbage docs are quarantined upstream by H7/H10).
            F.expr(
                "(CAST(tf AS DECIMAL(38,0)) * 1000000 * n_docs) div df_docs"
            ).alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), F.asc("tok"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)


TFIDF_TOPTERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_all_sql('text')}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, count(*) AS df_docs FROM tf GROUP BY tok
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, tok, tf, df_docs, score_micro, rnk FROM (
  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df_docs,
         (tf.tf * 1000000 * n.n_docs) // dfreq.df_docs AS score_micro,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY (tf.tf * 1000000 * n.n_docs) // dfreq.df_docs DESC,
                                     tf.tok ASC) AS rnk
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
)
WHERE rnk <= 5
"""




# ── H12: inverted index build ───────────────────────────────────────────────


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12 — token → sorted posting list (distinct doc_ids) + document
    frequency: the search-index build pass (and the exact structure a
    contamination/attribution lookup service serves). Postings are emitted
    as the CANONICAL comma-joined string of the sorted distinct doc_ids —
    same information and order as a sorted array, but hashable by any
    row-comparison harness (list cells break pandas-side canonicalizers;
    see CORRECTNESS_r03 text_inverted_index) — no collect_list order
    dependence survives into the result.

    Scale: one shuffle on tok after the per-doc distinct (r12: the
    distinct is the per-ROW `array_distinct` — a doc's repeats collapse
    inside its own token array before the explode, so no (doc_id, tok)
    dedup exchange exists at all; the old explode-then-`.distinct()`
    paid a full extra shuffle of the distinct pairs).

    PRECONDITION (ADVICE r12): the per-row array_distinct equals the
    oracle's global SELECT DISTINCT (doc_id, tok) only because doc_id is
    a ROW KEY of documents — one row per doc_id. That invariant is part
    of the documents table contract (the generators offset doc_id per
    replica; dedup_exact exists precisely to enforce it upstream) and is
    asserted by tests/test_boundary_new_ops.py::
    test_documents_doc_id_is_a_row_key — a corpus with repeated doc_id
    rows would overcount df_docs and duplicate postings on this side
    only. A real web-scale
    index would shard postings by (tok, bucket) past ~1e6 docs per token
    to bound a stop-word row; at that point df stays exact and the
    posting array becomes segment files — same plan shape, noted not
    needed at gate scale."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_all_spark(F.col("text")))).alias("tok")
    )
    return toks.groupBy("tok").agg(
        F.count("*").alias("df_docs"),
        F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("postings"),
    )


def inverted_index_stats(spark: SparkSession, sf_dir: str) -> dict:
    """H12 scale instrumentation (VERDICT r09 task 1): postings
    distribution — vocabulary size, the hottest token's document frequency
    (the stop-word row the sharding note bounds), and total postings (the
    shuffle volume). NOT part of the timed bench region."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_all_spark(F.col("text")))).alias("tok")
    )
    row = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .agg(
            F.count("*").alias("tokens"),
            F.max("df").alias("max_df"),
            F.sum("df").alias("postings"),
        )
        .first()
    )
    return {
        "tokens": int(row["tokens"] or 0),
        "max_df": int(row["max_df"] or 0),
        "postings": int(row["postings"] or 0),
    }


INVERTED_INDEX_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({tokens_all_sql('text')}) AS tok FROM documents
)
SELECT tok, count(*) AS df_docs,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
FROM toks GROUP BY tok
"""


QUERIES = {
    "text_langid": text_langid,
    "text_quality_score": text_quality_score,
    "text_token_count": text_token_count,
    "text_fingerprint": text_fingerprint,
    "text_pii_scrub": text_pii_scrub,
    "text_idf_vocab": text_idf_vocab,
    "text_repetition_ratio": text_repetition_ratio,
    "text_contamination": text_contamination,
    "text_unigram_logprob": text_unigram_logprob,
    "text_gopher_filters": text_gopher_filters,
    "text_tfidf_topterms": text_tfidf_topterms,
    "text_inverted_index": text_inverted_index,
    "text_entropy": text_entropy,
    "text_collocations_pmi": text_collocations_pmi,
}

ORACLES = {
    "text_langid": _langid_sql(),
    "text_quality_score": _quality_sql(),
    "text_token_count": TOKEN_COUNT_SQL,
    "text_fingerprint": FINGERPRINT_SQL,
    "text_pii_scrub": PII_SCRUB_SQL,
    "text_idf_vocab": IDF_VOCAB_SQL,
    "text_repetition_ratio": _repetition_sql(),
    "text_contamination": _contamination_sql(),
    "text_unigram_logprob": UNIGRAM_LOGPROB_SQL,
    "text_gopher_filters": _gopher_sql(),
    "text_tfidf_topterms": TFIDF_TOPTERMS_SQL,
    "text_inverted_index": INVERTED_INDEX_SQL,
    "text_entropy": _entropy_sql(),
    "text_collocations_pmi": _collocations_sql(),
}
