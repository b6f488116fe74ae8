"""Group F — deduplication family for LLM-training-data pipelines.

- F1 `dedup_exact`          — hash-groupBy exact dedup (keep lowest doc_id),
  the scalable form of the reference's `ON CONFLICT DO NOTHING` identity
  dedup (extract_abr.py:57-66) applied to content instead of keys.
- F2 `dedup_minhash_lsh`    — word-3gram shingles → 8-perm minhash signature
  → 4 LSH bands → bucket self-join candidates → verified Jaccard ≥ 0.2.
- F3 `dedup_simhash`        — 32-bit simhash fingerprint (per-bit token
  votes) → blocked hamming-near pairs (≤ 3 bits, exact recall via 4
  disjoint 8-bit block keys).
- F4 `dedup_ngram_jaccard`  — first-token-blocked pairwise word-3gram
  Jaccard ≥ 0.2 (the blocked-fuzzy plan shape, entity_matching.py:142-170,
  on shingle sets).
- F5 `dedup_embedding_cosine` — label-blocked near-dup pairs by embedding
  cosine ≥ 0.25.

All hashing uses the portable 60-bit md5 hash (`textfns.phash_*`) so Spark
and the DuckDB oracle agree bit-for-bit.

Scale: candidate generation is NEVER cartesian — every pair generator is an
equi-join on a blocking key (LSH band value, simhash half, first token,
label), so cost is Σ|bucket|², not N². Minhash signatures are built with one
explode + one groupBy (single shuffle, map-side combine on min()); at 100 TB
the band join is the dominant shuffle and AQE skew-split handles hot bands
(e.g. boilerplate-heavy shingles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
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
from australian_company_etl_spark.functions.vectors import dot_fold
from australian_company_etl_spark.operators.cache import persist_tracked
from australian_company_etl_spark.operators.matching import score_once
from australian_company_etl_spark.plans.similarity import _base
from australian_company_etl_spark.sources.registry import load_tables

SHINGLE_K = 3
NUM_HASHES = 8
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
JACCARD_T = 0.2
# 4 disjoint 8-bit blocks of the 32-bit fingerprint guarantee (pigeonhole)
# that any pair within hamming distance NUM_FP_BLOCKS-1 = 3 shares at least
# one unchanged block — so candidate recall at the threshold is EXACT, not
# heuristic. (The old 2×16-bit split only guaranteed recall at distance ≤ 1
# while claiming ≤ 8.) Hamming ≤ 3 on 32 bits is the standard simhash
# near-dup operating point.
HAMMING_T = 3
NUM_FP_BLOCKS = 4
COSINE_T = 0.25
U32 = (1 << 32) - 1

# affine minhash permutations h_i = (a_i * h + b_i) mod P over ONE base md5
# hash per shingle — 8x fewer md5 evaluations than hashing (seed, shingle)
# pairs. P = 2^31 - 1 keeps a*h + b < 2^62 (no int64 overflow).
MH_P = 2_147_483_647


def _mh_coeffs() -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(NUM_HASHES):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:15], 16) % (MH_P - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:15], 16) % MH_P
        out.append((a, b))
    return out


MH_COEFFS = _mh_coeffs()


# ── shared shingle-set projection ───────────────────────────────────────────


def _doc_shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s) word-3gram rows via the zip-shift form (one posexplode,
    whole-stage codegen, NO window) — imposes no doc_id partitioning
    requirement, so on a wide many-file corpus the plan is scan → Generate
    with zero exchange below any downstream groupBy(doc_id), which
    partial-aggregates map-side and shuffles one combined row per doc
    (vs the earlier window-lead form, whose required doc_id exchange
    landed ABOVE the explode on wide inputs and moved exploded token
    rows — the measured round-5 sf1 regression)."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # the corpus arrives in few large file-partitions locally; spread the
    # expensive per-doc shingle/hash work across all cores (no-op on a real
    # many-file dataset, where the scan already yields thousands of splits)
    docs = spread_if_narrow(docs, "doc_id")
    toks = docs.select("doc_id", tokens_all_spark(F.col("text")).alias("t"))
    return shingle_rows_spark(toks, SHINGLE_K)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle STRING sets per doc — the readable reference form used by
    tests to cross-check the hashed production sets (F4 ships 60-bit hash
    sets, see dedup_ngram_jaccard). The groupBy partial-aggregates
    map-side, so the shuffle moves one combined row per doc."""
    return _doc_shingle_rows(spark, sf_dir).groupBy("doc_id").agg(
        F.collect_set("s").alias("sh")
    )


_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {tokens_all_sql('text')} AS t FROM documents),
sh AS (SELECT doc_id, {shingles_sql('t', SHINGLE_K)} AS sh FROM toks
       WHERE len({shingles_sql('t', SHINGLE_K)}) > 0)
"""


def _jaccard_spark(a, b):
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter / union


def _jaccard_sql(a: str, b: str) -> str:
    inter = f"len(list_intersect({a}, {b}))"
    return f"({inter}::DOUBLE / (len({a}) + len({b}) - {inter}))"


def _jaccard_verify(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """The F2/F4/F12 verify: (id_a, id_b, jaccard) for the candidate pairs
    whose Jaccard of the ``sh_a``/``sh_b`` sets, rounded to 4 dp, reaches
    JACCARD_T — one intersect per candidate (``score_once``)."""
    sized = pairs.select(
        id_a, id_b, "sh_a", "sh_b", F.size("sh_a").alias("la"), F.size("sh_b").alias("lb")
    )
    once = score_once(sized, F.size(F.array_intersect("sh_a", "sh_b")), "inter")
    jac = F.col("inter") / (F.col("la") + F.col("lb") - F.col("inter"))
    return once.select(id_a, id_b, F.round(jac, 4).alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_T
    )


# ── F1 exact ────────────────────────────────────────────────────────────────


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — exact content dedup: one row per distinct text hash."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
"""


# ── F2 minhash + LSH ────────────────────────────────────────────────────────


def _minhash_bands_sets(spark: SparkSession, sf_dir: str):
    """Shared F2/F12 signature builder: (bands, shingle-hash sets).

    ONE aggregate pass computes the hash set AND all 64 signature mins
    together: the per-occurrence (doc_id, h60) stream is consumed exactly
    once (md5 evaluated once per shingle occurrence inside that pass's map
    side), one map-side-combined exchange moves one combined row per doc,
    and the 50k-row combined result — not the multi-million-row hash
    stream — is what gets persisted. The earlier two-pass form (separate
    collect_set and min aggregates over a persisted hash table) paid the
    9M-row cache write plus a second full pass and a second exchange;
    measured at sf1 the single pass is ~0.4s faster end-to-end and caches
    500× fewer rows."""
    rows = _doc_shingle_rows(spark, sf_dir)
    hashed = rows.select("doc_id", phash_spark(F.col("s")).alias("h60"))
    h0 = F.col("h60") % MH_P
    agg = persist_tracked(
        hashed.groupBy("doc_id").agg(
            F.collect_set("h60").alias("sh"),
            *[
                F.min((F.lit(a) * h0 + F.lit(b)) % MH_P).alias(f"h{i}")
                for i, (a, b) in enumerate(MH_COEFFS)
            ],
        )
    )
    sh = agg.select("doc_id", "sh")
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",", *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            ).alias("bh"),
        )
        for b in range(NUM_BANDS)
    ]
    # NOT persisted (r12 optimization round, measured): caching the band
    # table to spare the self-join's two cache-read+explode passes was
    # tried and REGRESSED minhash sf10 5.6s → 7.8s (the separate cache-
    # materialization job costs more than the explode it saves, and the
    # in-memory scan loses whole-stage fusion into the join) — kept as the
    # fused form.
    bands = (
        agg.select("doc_id", F.explode(F.array(*band_structs)).alias("x"))
        .select("doc_id", F.col("x.band").alias("band"), F.col("x.bh").alias("bh"))
    )
    return bands, sh


def _band_candidates(bands: DataFrame) -> DataFrame:
    """The F2 LSH candidate generator: band-bucket equi-self-join, distinct
    pairs. Factored out so `scripts/skew_demo.py` and the skew test drive
    the EXACT production join shape on a hot-banded corpus (this self-join
    is where a boilerplate shingle family concentrates Σ|bucket|², and the
    stage AQE's OptimizeSkewedJoin must split at scale)."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .distinct()
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — minhash/LSH candidate pairs with verified Jaccard ≥ 0.2.

    The verify Jaccard is computed over 60-bit shingle-HASH sets, not the
    shingle strings: md5 runs once per shingle occurrence inside the single
    set+signature aggregate pass (`_minhash_bands_sets`), whose persisted
    per-doc result feeds the band join and both verify sides, and the
    verify join shuffles int64 arrays instead
    of long string arrays — measured 2.5× end-to-end at sf1. Hash-set
    Jaccard equals string-set Jaccard unless two distinct shingles collide
    in 60 bits (odds ~n²/2⁶¹ per doc — negligible), and the oracle hashes
    identically so parity is exact either way.
    """
    bands, sh = _minhash_bands_sets(spark, sf_dir)
    cand = _band_candidates(bands)
    sa = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"))
    pairs = cand.join(sa, "doc_id_a").join(sb, "doc_id_b")
    return _jaccard_verify(pairs, "doc_id_a", "doc_id_b")


def _minhash_pairs_body() -> str:
    """The F2 pair query as a self-contained SELECT (nestable as a CTE body)."""
    mins = ", ".join(
        f"min(({a} * (h60 % {MH_P}) + {b}) % {MH_P}) AS h{i}"
        for i, (a, b) in enumerate(MH_COEFFS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {expr} AS bh FROM sig".format(
            b=b,
            expr=" || ',' || ".join(
                f"h{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(NUM_BANDS)
    )
    jac = _jaccard_sql("sa.hs", "sb.hs")
    return f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
hashed AS (SELECT doc_id, {phash_sql('s')} AS h60 FROM ex),
hsets AS (SELECT doc_id, list(DISTINCT h60) AS hs FROM hashed GROUP BY doc_id),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, round({jac}, 4) AS jaccard
FROM cand
JOIN hsets sa ON sa.doc_id = cand.doc_id_a
JOIN hsets sb ON sb.doc_id = cand.doc_id_b
WHERE round({jac}, 4) >= {JACCARD_T}
"""


# ── F3 simhash ──────────────────────────────────────────────────────────────


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — 32-bit simhash + blocked hamming-near pairs (≤ 3 bits).

    Candidate blocking on all 4 disjoint 8-bit fingerprint blocks: a pair at
    hamming ≤ 3 differs in at most 3 blocks, so at least one block matches
    and the pair is guaranteed to surface — exact recall at the threshold,
    not a heuristic."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_all_spark(F.col("text")))).alias("tok"),
    )
    h32 = phash_spark(F.col("tok")).bitwiseAND(F.lit(U32))
    votes = toks.select("doc_id", h32.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(32)
        ]
    )
    fp = sum(
        [F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(32)],
        F.lit(0),
    ).cast("bigint")
    fps = votes.select("doc_id", fp.alias("fp"))
    block_cols = [
        F.shiftright(F.col("fp"), 8 * k).bitwiseAND(F.lit(0xFF)).alias(f"b{k}")
        for k in range(NUM_FP_BLOCKS)
    ]
    keyed = persist_tracked(fps.select("doc_id", "fp", *block_cols))
    pairs = None
    for k in range(NUM_FP_BLOCKS):
        a, b = keyed.alias("a"), keyed.alias("b")
        p = a.join(
            b, (F.col(f"a.b{k}") == F.col(f"b.b{k}")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        ).select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # hamming filter BEFORE the pair-dedup shuffle (r12, guide §2.3): the
    # predicate is row-wise, so filter∘distinct ≡ distinct∘filter — but
    # filtering first runs map-side on the join output and the distinct
    # exchange moves only the ≤3-bit survivors instead of every generated
    # block-collision pair (the 4-way union admits up to Σ|block|² rows).
    return (
        pairs.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= HAMMING_T)
        .select("doc_id_a", "doc_id_b", "hamming")
        .distinct()
    )


def _simhash_sql() -> str:
    h = phash_sql("tok")
    vote_cols = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(32)
    )
    fp = " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32))
    blocks = ", ".join(f"(fp >> {8 * k}) & 255 AS b{k}" for k in range(NUM_FP_BLOCKS))
    block_joins = "\n  UNION\n".join(
        f"  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.fp AS fp_a, b.fp AS fp_b\n"
        f"  FROM keyed a JOIN keyed b ON a.b{k} = b.b{k} AND a.doc_id < b.doc_id"
        for k in range(NUM_FP_BLOCKS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({tokens_all_sql('text')})) AS tok FROM documents
),
hashed AS (SELECT doc_id, {h} & {U32} AS h FROM toks),
votes AS (SELECT doc_id, {vote_cols} FROM hashed GROUP BY doc_id),
fps AS (SELECT doc_id, ({fp})::BIGINT AS fp FROM votes),
keyed AS (SELECT doc_id, fp, {blocks} FROM fps),
pairs AS (
{block_joins}
)
SELECT doc_id_a, doc_id_b, bit_count(xor(fp_a, fp_b))::INT AS hamming
FROM pairs
WHERE bit_count(xor(fp_a, fp_b)) <= {HAMMING_T}
"""


# ── F4 blocked n-gram jaccard ───────────────────────────────────────────────


def size_bucket_spark(n) -> F.Column:
    """Exact base-5 magnitude bucket of a positive count (integer compares,
    no float log — the ±1-neighbor recall guarantee must not hinge on
    floating-point boundary rounding)."""
    expr = F.when(n < 5, 0)
    for i in range(1, 9):
        expr = expr.when(n < 5 ** (i + 1), i)
    return expr.otherwise(9)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — blocked pairwise word-3gram Jaccard ≥ 0.2.

    Candidate blocking is the COMPOUND key (first token, shingle-count
    bucket): J ≥ 0.2 forces |sh_a|/|sh_b| ≤ 5, so with exact base-5 size
    buckets any qualifying pair sits within ±1 bucket; one side is
    replicated to neighbor buckets and the join is a plain equi-join on
    (blk, bucket). Replication is ±2 (5 replicas), not the minimal ±1:
    the output filter is on ROUNDED Jaccard, which admits true J as low as
    0.19995 (size ratio up to 5.00125, fractionally past the ±1 proof) —
    ±2 covers ratio ≤ 25, closing that corner outright. The bucket term is pure candidate pruning: the final
    J ≥ τ pair set is IDENTICAL to plain first-token blocking (the oracle
    keeps the simple formulation), but a corpus where half the documents
    start with "the" no longer concentrates Σ|block|² in one bucket —
    max block size is bounded by the (token, size-decade) co-occurrence,
    not the token alone.

    The verify compares 60-bit shingle-HASH sets (int64 arrays), not
    shingle strings — the same portable md5-prefix hash as F2's minhash
    verify, applied in BOTH engines so parity is exact by construction:
    the Jaccard join's array_intersect runs long-compares over ~8 B
    elements instead of string-compares over ~20 B, and the shuffled
    per-doc set rows shrink accordingly."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # try_element_at, not element_at: a token-less document (hostile_docs
    # regime — empty/whitespace/punctuation-only text) has an EMPTY token
    # array, which ANSI element_at raises on while the oracle's t[1] yields
    # NULL. The NULL blk is harmless — shingle-less docs drop out of the
    # inner join with `sets` anyway (and the oracle filters len(t) >= k).
    blk = docs.select(
        "doc_id", F.try_element_at(tokens_all_spark(F.col("text")), F.lit(1)).alias("blk")
    )
    sets = (
        _doc_shingle_rows(spark, sf_dir)
        .select("doc_id", phash_spark(F.col("s")).alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("sh"))
    )
    base = persist_tracked(
        sets.join(blk, "doc_id").withColumn("bkt", size_bucket_spark(F.size("sh")))
    )
    a = base.alias("a")
    b = (
        base.select(
            "doc_id",
            "sh",
            "blk",
            F.explode(
                F.array(*[F.col("bkt") + d for d in range(-2, 3)])
            ).alias("bkt"),
        )
    ).alias("b")
    sa, sb = F.size(F.col("a.sh")), F.size(F.col("b.sh"))
    # exact size-ratio prune BEFORE the O(|a|+|b|) intersect: J ≤ min/max,
    # so rounded-J ≥ 0.2 (true J ≥ 0.19995) forces min/max ≥ 0.1999 (a hair
    # of slack under 0.19995 against float boundary dust) — a pure integer
    # compare that skips the intersect for the ±2-replicated candidates in
    # the ratio-(5,25] band, which the bucket join admits only to keep its
    # proof simple. Output-identical: every pruned pair was already below
    # threshold. On the size-uniform bench corpus this removes only ~8% of
    # candidates (measured at sf1); on a real size-diverse corpus the
    # cross-bucket replicas it targets are the bulk of the admitted excess.
    # bigint math: F.size() is int32 and the session runs ANSI mode (Spark 4
    # default), so int32 * 10000 would raise ARITHMETIC_OVERFLOW for any doc
    # whose shingle-hash set exceeds 214,748 elements (~215k-token document).
    ratio_ok = (
        F.least(sa, sb).cast("bigint") * 10000
        >= F.greatest(sa, sb).cast("bigint") * 1999
    )
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.bkt") == F.col("b.bkt"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & ratio_ok,
    ).select(
        F.col("a.doc_id").alias("doc_id_a"),
        F.col("b.doc_id").alias("doc_id_b"),
        F.col("a.sh").alias("sh_a"),
        F.col("b.sh").alias("sh_b"),
    )
    return _jaccard_verify(pairs, "doc_id_a", "doc_id_b")


def _ngram_sql() -> str:
    jac = _jaccard_sql("a.sh", "b.sh")
    return f"""
WITH toks AS (SELECT doc_id, {tokens_all_sql('text')} AS t FROM documents),
base AS (
  SELECT doc_id, t[1] AS blk,
         list_transform({shingles_sql('t', SHINGLE_K)}, s -> {phash_sql('s')}) AS sh
  FROM toks WHERE len(t) >= {SHINGLE_K}
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, round({jac}, 4) AS jaccard
FROM base a JOIN base b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE round({jac}, 4) >= {JACCARD_T}
"""


# ── F5 embedding cosine near-dup ────────────────────────────────────────────


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — label-blocked embedding near-dup pairs, cosine ≥ 0.25.

    Vectors are L2-normalized once per row so the per-pair score is a
    single dot product (see plans/similarity.py for the parity argument);
    a zero-norm vector's cosines are NULL and never cross the threshold
    (the ``_base`` policy)."""
    base = _base(spark, sf_dir)
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("vec_id_a"),
        F.col("b.vec_id").alias("vec_id_b"),
        F.col("a.label").alias("label"),
        F.col("a.e").alias("ea"),
        F.col("b.e").alias("eb"),
    )
    once = score_once(pairs, dot_fold(F.col("ea"), F.col("eb")), "cos")
    return once.select(
        "vec_id_a",
        "vec_id_b",
        "label",
        F.round(F.col("cos"), 4).alias("cosine"),
    ).filter(F.col("cosine") >= COSINE_T)


def _emb_cosine_sql() -> str:
    cos = "list_dot_product(a.e, b.e)"
    return f"""
WITH base AS (
  SELECT vec_id, label,
         CASE WHEN nrm > 0 THEN list_transform(e0, x -> x / nrm) END AS e
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e0,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings) t
)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.label AS label,
       round({cos}, 4) AS cosine
FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({cos}, 4) >= {COSINE_T}
"""


# ── F6 connected-component clustering over the near-dup graph ───────────────


def dedup_cluster_cc(
    spark: SparkSession, sf_dir: str, checkpoint_every: int = 8
) -> DataFrame:
    """F6 — near-dup clusters: connected components over the F2 pair graph,
    so a whole family of mutual near-dups collapses to ONE representative
    (the min doc_id) instead of pairwise drops.

    Iterative min-label propagation: each round pushes every node's current
    label to its neighbors and keeps the per-node min, until a fixpoint.
    Rounds ≤ component diameter — shallow for near-dup graphs. Every
    document gets a cluster_id; singletons are their own cluster.

    Scale: each round is one equi-join shuffle on doc_id + a map-side-
    combinable min-agg; the convergence check is a counted diff, not a
    collect. Every `checkpoint_every` rounds the label frame is
    localCheckpoint-ed, truncating the otherwise linearly-growing lineage —
    without this, a deep component makes round N's plan re-describe all
    N-1 predecessors and the scheduler/serializer cost compounds (on a
    cluster with HDFS you'd use reliable `checkpoint()` instead so lineage
    also survives executor loss). Near-dup graphs converge shallow, so the
    default interval rarely triggers; pathological diameters additionally
    want the large-star/small-star rewrite — the loop structure is
    unchanged.
    """
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # pairs persisted BEFORE the union (r12, guide §1.2 step 1: don't
    # compute things twice) — the two union branches are independent
    # subtrees, so unpersisted the ENTIRE minhash pipeline (signature agg,
    # band join, verify) evaluated once per branch; the cache makes the
    # reversal a re-read of the ~1-row-per-dup-pair result. Measured in
    # F9 (same graph build) at sf10: 13.2-19.9s → 10.9-12.1s; at sf0.1 the
    # extra cache-materialization job costs ~0.5s — the scale tier is what
    # this family is for, so the cache stays.
    pairs = persist_tracked(
        dedup_minhash_lsh(spark, sf_dir).select("doc_id_a", "doc_id_b")
    )
    edges = persist_tracked(
        pairs.union(
            pairs.select(F.col("doc_id_b").alias("doc_id_a"), F.col("doc_id_a").alias("doc_id_b"))
        ).select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("lbl")).persist()
    # superseded label frames are unpersisted inline each round; the final
    # frame backs the returned plan, so it is registered for release at the
    # next top-level query instead (operators/cache.py).
    rounds = 0
    while True:
        prop = edges.join(labels, F.col("src") == F.col("doc_id")).select(
            F.col("dst").alias("doc_id"), "lbl"
        )
        new_labels = (
            labels.unionByName(prop).groupBy("doc_id").agg(F.min("lbl").alias("lbl")).persist()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("lbl", "old"), "doc_id")
            .filter(F.col("lbl") < F.col("old"))
            .count()
        )
        labels.unpersist()
        rounds += 1
        if checkpoint_every and rounds % checkpoint_every == 0:
            chk = new_labels.localCheckpoint(eager=True)
            new_labels.unpersist()
            new_labels = chk
        labels = new_labels
        if changed == 0:
            break
    persist_tracked(labels)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        "doc_id", F.col("lbl").alias("cluster_id"), "cluster_size"
    )


def _cluster_cc_sql() -> str:
    """Oracle: recursive-CTE label reachability — (x, l) ∈ walk iff label l
    reaches x along near-dup edges; min l per x is the component min.

    The recursive step carries a monotone prune (``w.lbl < e.dst``): a label
    is only worth propagating to nodes it is smaller than. This cannot lose
    the component min m — for any member x ≠ m there is an edge path
    m → … → x, every intermediate node y satisfies m < y (m is the strict
    component minimum, ids are unique), so each hop passes the prune; (m, m)
    itself is a base row. Any totally ordered id domain works (the regime
    corpora rewrite doc_ids). Halves the enumerated (node, label) closure —
    without it the walk is the full Σ|component|² and the sf1 replay paid
    ~90s per CC-rooted oracle (measured r12: 90 → 53s, digest-identical at
    sf0.01 and sf1)."""
    return f"""
WITH RECURSIVE
pairs AS ({_minhash_pairs_body()}),
edges AS (
  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
  UNION ALL
  SELECT doc_id_b, doc_id_a FROM pairs
),
walk(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.doc_id
  WHERE w.lbl < e.dst
),
labels AS (SELECT doc_id, min(lbl) AS cluster_id FROM walk GROUP BY doc_id)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM labels l
JOIN (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1) s
  USING (cluster_id)
"""


# ── F7 canonical-URL dedup ──────────────────────────────────────────────────
# The crawl-side dedup stage every pretraining pipeline runs before content
# dedup (reference analog: the `.au` URL filter + processed ledger,
# extract_commoncrawl.py:66,89-93). The corpus has no URL column, so — as
# with A6/A7 — deterministic URL variants are synthesized per document
# (scheme/host-case/www-m prefix/query/fragment/trailing-slash noise), and
# both engines canonicalize the identical strings.


def _url_col_spark():
    page = F.concat(F.col("source"), F.lit("/page"), (F.col("doc_id") % 40))
    m = F.col("doc_id") % 5
    return (
        F.when(m == 0, F.concat(F.lit("https://www."), page))
        .when(m == 1, F.concat(F.lit("http://"), page, F.lit("?utm_source=feed")))
        .when(m == 2, F.concat(F.lit("https://"), F.upper(page), F.lit("#section-2")))
        .when(m == 3, F.concat(F.lit("https://m."), page, F.lit("/")))
        .otherwise(F.concat(F.lit("http://www."), page))
    )


_URL_COL_SQL = """CASE doc_id % 5
  WHEN 0 THEN 'https://www.' || source || '/page' || (doc_id % 40)
  WHEN 1 THEN 'http://' || source || '/page' || (doc_id % 40) || '?utm_source=feed'
  WHEN 2 THEN 'https://' || upper(source || '/page' || (doc_id % 40)) || '#section-2'
  WHEN 3 THEN 'https://m.' || source || '/page' || (doc_id % 40) || '/'
  ELSE 'http://www.' || source || '/page' || (doc_id % 40) END"""


def canonical_url_spark(col: F.Column) -> F.Column:
    """lowercase → strip scheme → strip www./m. prefix → strip ?query/#frag
    → strip trailing slash. Positive-class regexes only (negated classes hit
    a pathological slow path in Spark's regexp_replace)."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"^https?://", "")
    c = F.regexp_replace(c, r"^(www|m)\.", "")
    c = F.regexp_replace(c, r"[?#].*$", "")
    return F.regexp_replace(c, r"/$", "")


def canonical_url_sql(expr: str) -> str:
    c = f"lower({expr})"
    c = f"regexp_replace({c}, '^https?://', '')"
    c = f"regexp_replace({c}, '^(www|m)\\.', '')"
    c = f"regexp_replace({c}, '[?#].*$', '')"
    return f"regexp_replace({c}, '/$', '')"


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — canonical-URL dedup: one row per canonical URL with copy count
    and the kept (minimum) doc_id. Stateless canonicalization + one
    map-side-combined groupBy — the same single-shuffle plan at 100 TB."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        docs.select("doc_id", _url_col_spark().alias("url"))
        .groupBy(canonical_url_spark(F.col("url")).alias("canonical_url"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
    )


DEDUP_URL_SQL = f"""
SELECT {canonical_url_sql('url')} AS canonical_url,
       count(*) AS n_copies, min(doc_id) AS keep_doc_id
FROM (SELECT doc_id, {_URL_COL_SQL} AS url FROM documents)
GROUP BY 1
"""


# ── F8: line/segment-level corpus dedup (C4 / RefinedWeb style) ─────────────
# C4 drops every repeated ≥3-sentence span after its first occurrence;
# RefinedWeb drops duplicated lines. The corpus here has no newlines, so the
# "line" unit is a deterministic disjoint window of SEG_TOKENS tokens — the
# segmentation function is pluggable, the pipeline shape (explode → global
# occurrence count → keep-first → order-preserving reassembly) is the real
# operator. Keep-first = the globally earliest (doc_id, seg_id) occurrence of
# each segment text survives; later copies are dropped from their documents.

SEG_TOKENS = 12


def _doc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, seg_id, seg): disjoint SEG_TOKENS-token windows per doc."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    d = docs.select("doc_id", tokens_all_spark(F.col("text")).alias("t")).withColumn(
        "n", F.size("t")
    )
    segs = F.transform(
        F.sequence(F.lit(0), F.expr(f"(n + {SEG_TOKENS - 1}) div {SEG_TOKENS}") - 1),
        lambda k: F.concat_ws(" ", F.slice("t", k * SEG_TOKENS + 1, SEG_TOKENS)),
    )
    return (
        d.filter(F.col("n") > 0)
        .select("doc_id", F.posexplode(segs).alias("seg_id", "seg"))
    )


# group-by-position form, NOT slice-per-segment: the slice form carried the
# full token list through one unnest row per segment — O(n²/S) per document
# in DuckDB (round-10 shingle-SQL defect class; hung on the round-11
# long_doc 1M-token corpus). Segments are disjoint, so each token belongs
# to exactly seg (pos−1)//S and an ordered string_agg reassembles — O(n).
_SEGMENTS_SQL = f"""
segs AS (
  SELECT doc_id, (pos - 1) // {SEG_TOKENS} AS seg_id,
         string_agg(w, ' ' ORDER BY pos) AS seg
  FROM (
    SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS pos
    FROM (SELECT doc_id, {tokens_all_sql('text')} AS t FROM documents)
    WHERE len(t) > 0
  )
  GROUP BY doc_id, (pos - 1) // {SEG_TOKENS}
)
"""


def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — segment-level exact corpus dedup: every repeated segment keeps
    only its globally-first occurrence (min (doc_id, seg_id)); documents are
    reassembled from surviving segments in original order, reporting how
    many segments each doc lost.

    Scale: one shuffle on the segment text (the window partition key) to
    rank occurrences, one shuffle back on doc_id to reassemble — the same
    two-exchange plan at 100 TB. Segment-text keys are near-unique except
    for true boilerplate, and AQE skew-split handles the boilerplate keys
    (a hot segment IS the thing being deduplicated). The reassembly uses
    sort_array(collect_list(struct)) so it never relies on row order."""
    segs = _doc_segments(spark, sf_dir)
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_id")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    kept = ranked.filter(F.col("rn") == 1)
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("int").alias("n_dropped"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") == 1, F.struct("seg_id", "seg"))
                        )
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("clean_text"),
        )
        .select("doc_id", F.col("n_segs").cast("int").alias("n_segs"), "n_dropped", "clean_text")
    )


def _dedup_lines_sql() -> str:
    # NB: DuckDB's list() keeps NULLs (Spark's collect_list drops them), so
    # the kept segments are selected with FILTER, and a doc whose every
    # segment was dropped yields NULL from the filtered aggregate → coalesce
    # to '' to match Spark's concat_ws over an empty array.
    return f"""
WITH {_SEGMENTS_SQL.strip()},
ranked AS (
  SELECT doc_id, seg_id, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_id) AS rn
  FROM segs
)
SELECT doc_id,
       count(*)::INT AS n_segs,
       sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::INT AS n_dropped,
       coalesce(
         array_to_string(
           list_transform(
             list_sort(list({{'seg_id': seg_id, 'seg': seg}}) FILTER (WHERE rn = 1)),
             s -> s.seg),
           ' '),
         '') AS clean_text
FROM ranked
GROUP BY doc_id
"""




# ── F9: exact fixed-point PageRank over the near-dup graph ──────────────────

PR_ITERS = 3
PR_ONE = 1_000_000  # fixed-point unit (ppm)
PR_DAMP = 850_000  # 0.85 in ppm


def rank_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — PageRank centrality over the F2 near-dup graph: inside a
    duplicate cluster the highest-rank document is the most-connected
    canonical candidate (a smarter keep policy than min-doc_id when near-
    dup families chain A~B~C with A,C dissimilar).

    Exact fixed-point arithmetic so three Lloyd-style iterations land
    bit-identically in both engines: ranks live in ppm BIGINTs,
    contribution = pr div degree (integer floor), update =
    150_000 + (850_000 · Σcontrib) div 1_000_000 — no float division
    anywhere, so no summation-order or ulp divergence. This is the
    unnormalized random-surfer variant over edge-connected nodes only
    (isolated docs have no rank mass to receive; documented semantics).
    Headroom: 850_000·Σcontrib < 2^63 up to ~1e7 ranked nodes; past that,
    DECIMAL(38,0)/HUGEINT — same expressions.

    Scale: the edge list is built once and persisted; each iteration is
    one equi-join shuffle on src + a map-side-combined sum on dst — the
    canonical distributed-pagerank shape (same loop posture as F6:
    checkpoint lineage periodically at 100 TB)."""
    # pairs persisted BEFORE the union (r12): the two union branches are
    # independent subtrees — unpersisted, the whole minhash pipeline ran
    # once per branch (measured: duplicated band-join/verify stages in the
    # sf10 profile); the cache makes the reversal a tiny re-read.
    pairs = persist_tracked(
        dedup_minhash_lsh(spark, sf_dir).select("doc_id_a", "doc_id_b")
    )
    edges = persist_tracked(
        pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
        .union(
            pairs.select(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst"))
        )
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    pr = deg.select(F.col("src").alias("node"), F.lit(PR_ONE).cast("bigint").alias("pr"))
    for _ in range(PR_ITERS):
        state = pr.join(deg, pr.node == deg.src).select(
            "node", F.expr("pr div d").alias("contrib")
        )
        pr = (
            edges.join(state, edges.src == state.node)
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
            .select(
                F.col("dst").alias("node"),
                # DECIMAL(38,0) for the damp product: s is the incoming pr
                # mass (≤ PR_ONE per in-edge), so a boilerplate hub with
                # ≥ ~1.08e7 near-dup edges pushes 850000·s past int64 —
                # ANSI failure on exactly the corpus shape pagerank is FOR.
                # The damped result (≤ s) drops back into bigint via div.
                F.expr(
                    f"{PR_ONE - PR_DAMP}"
                    f" + (CAST({PR_DAMP} AS DECIMAL(38,0)) * s) div {PR_ONE}"
                ).alias("pr"),
            )
        )
    return pr.select(F.col("node").alias("doc_id"), F.col("pr").alias("pr_ppm"))


def pagerank_graph_stats(spark: SparkSession, sf_dir: str) -> dict:
    """F9 scale instrumentation (VERDICT r10 task 7): the near-dup graph's
    size terms at a given SF. Each PageRank iteration is ONE equi-join of
    the persisted directed edge list against the rank state + one
    map-side-combined sum — so ``edges_directed`` IS the per-iteration
    shuffle row count, and the family scales linearly iff the edge list
    does (the F2 candidate growth already measured linear). NOT timed."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_id_a", "doc_id_b")
    n_pairs = pairs.count()
    nodes = (
        pairs.select(F.col("doc_id_a").alias("n"))
        .union(pairs.select(F.col("doc_id_b").alias("n")))
        .distinct()
        .count()
    )
    return {
        "dup_pairs": int(n_pairs),
        "edges_directed": 2 * int(n_pairs),
        "nodes": int(nodes),
        "iters": PR_ITERS,
        "rows_joined_per_iter": 2 * int(n_pairs),
    }


def _pagerank_sql() -> str:
    iters = []
    prev = "pr0"
    for i in range(1, PR_ITERS + 1):
        iters.append(
            f"""pr{i} AS (
  SELECT e.dst AS node,
         {PR_ONE - PR_DAMP} + ({PR_DAMP} * sum(p.pr // g.d)) // {PR_ONE} AS pr
  FROM edges e JOIN {prev} p ON e.src = p.node JOIN deg g ON e.src = g.src
  GROUP BY e.dst
)"""
        )
        prev = f"pr{i}"
    chain = ",\n".join(iters)
    return f"""
WITH pairs AS ({_minhash_pairs_body()}),
edges AS (
  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
  UNION ALL
  SELECT doc_id_b, doc_id_a FROM pairs
),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
pr0 AS (SELECT src AS node, {PR_ONE}::BIGINT AS pr FROM deg),
{chain}
SELECT node AS doc_id, CAST(pr AS BIGINT) AS pr_ppm FROM {prev}
"""


# ── F11: cross-doc repeated-span detection (suffix-array dedup signal) ──────

SPAN_W = 12  # window width in tokens (matches F8's segment unit)


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — repeated-span detection, the distributed analog of
    suffix-array exact-substring dedup (Lee et al. ACL'22, "Deduplicating
    Training Data Makes Language Models Better"): every ROLLING SPAN_W-token
    window (stride 1 — unlike F8's disjoint segments, which miss repeats
    that straddle a boundary) is checked for occurrence in MORE THAN ONE
    document; per doc it reports how many window positions are cross-doc
    duplicated and the longest contiguous duplicated span in tokens
    (consecutive duplicated positions chain: run of r windows = r+W-1
    tokens), the memorization-risk signal per document.

    Scale: windows are hashed to 60-bit ints immediately (the F2-verify
    trick) so both shuffles move (int64, int64) pairs, never window text:
    (1) doc-frequency per window hash — two-phase distinct-then-count, the
    skew-safe exact-distinct rewrite; (2) flag join back on the hash. The
    per-doc run/island window shuffles only the FLAGGED rows (duplicated
    positions), a small subset. A true suffix array generalizes to any-length repeats;
    at fixed W this plan is exact for spans ≥ W and is the standard
    production approximation."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs = spread_if_narrow(docs, "doc_id")
    toks = docs.select("doc_id", tokens_all_spark(F.col("text")).alias("t"))
    # zip-shift window rows (no Window.partitionBy(doc_id) → no exchange
    # above the explode on wide inputs); pos is the 0-based window start,
    # used only differentially (pos − row_number), so the offset vs the
    # oracle's 1-based range() is immaterial.
    grams = shingle_rows_spark(toks, SPAN_W, pos_col="pos")
    rows = persist_tracked(grams.select("doc_id", "pos", phash_spark(F.col("s")).alias("gh")))
    # windows present in >1 distinct doc (explicit dedup-then-count: exact
    # and skew-safe — a boilerplate window IS a hot key)
    multi = (
        rows.dropDuplicates(["gh", "doc_id"])
        .groupBy("gh")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    flagged = rows.join(multi, "gh").select("doc_id", "pos")
    runs = (
        flagged.withColumn(
            "rid", F.col("pos") - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos"))
        )
        .groupBy("doc_id", "rid")
        .agg(F.count("*").alias("run"))
        .groupBy("doc_id")
        .agg(F.max("run").alias("max_run"), F.count("*").alias("n_runs"))
    )
    per_doc = rows.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    dup_counts = flagged.groupBy("doc_id").agg(F.count("*").alias("n_dup"))
    return (
        per_doc.join(dup_counts, "doc_id", "left")
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_windows").cast("int").alias("n_windows"),
            F.coalesce("n_dup", F.lit(0)).cast("int").alias("n_dup"),
            F.round(F.coalesce("n_dup", F.lit(0)) / F.col("n_windows"), 4).alias("dup_frac"),
            F.when(F.col("max_run").isNull(), 0)
            .otherwise(F.col("max_run") + SPAN_W - 1)
            .cast("int")
            .alias("max_dup_span"),
        )
    )


def _substring_spans_sql() -> str:
    # zip-shift gram construction, NOT list_slice-in-lambda: the per-
    # position slice lambda is O(n²) per document in DuckDB (the measured
    # round-10 shingle-SQL defect — each lambda re-materializes against the
    # captured list; hung on the round-11 long_doc 1M-token corpus). Same
    # form as textfns.shingles_sql but position-keyed: w−1 whole-list tail
    # slices (each O(n), once), one zip, rows past n−w+1 drop because their
    # zip tail is NULL-padded.
    w = SPAN_W
    zips = ", ".join(["t"] + [f"list_slice(t, {i}, len(t))" for i in range(2, w + 1)])
    gram = " || ' ' || ".join(f"x[{i}]" for i in range(1, w + 1))
    gh = phash_sql("g")
    return f"""
WITH toks AS (SELECT doc_id, {tokens_all_sql('text')} AS t FROM documents),
grams AS (
  SELECT doc_id, pos, {gh} AS gh
  FROM (
    SELECT doc_id, pos, ({gram}) AS g
    FROM (
      SELECT doc_id, unnest(z) AS x, unnest(range(1, len(z) + 1)) AS pos
      FROM (SELECT doc_id, list_zip({zips}) AS z FROM toks WHERE len(t) >= {w})
    )
    WHERE x[{w}] IS NOT NULL
  )
),
multi AS (
  SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM grams GROUP BY gh)
  WHERE nd > 1
),
flagged AS (SELECT doc_id, pos FROM grams JOIN multi USING (gh)),
runs AS (
  SELECT doc_id, max(run) AS max_run
  FROM (
    SELECT doc_id, rid, count(*) AS run
    FROM (SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
          FROM flagged)
    GROUP BY doc_id, rid
  )
  GROUP BY doc_id
),
per_doc AS (SELECT doc_id, count(*) AS n_windows FROM grams GROUP BY doc_id),
dup_counts AS (SELECT doc_id, count(*) AS n_dup FROM flagged GROUP BY doc_id)
SELECT p.doc_id,
       p.n_windows::INT AS n_windows,
       coalesce(d.n_dup, 0)::INT AS n_dup,
       round(coalesce(d.n_dup, 0)::DOUBLE / p.n_windows, 4) AS dup_frac,
       (CASE WHEN r.max_run IS NULL THEN 0 ELSE r.max_run + {w} - 1 END)::INT AS max_dup_span
FROM per_doc p
LEFT JOIN dup_counts d USING (doc_id)
LEFT JOIN runs r USING (doc_id)
"""


# ── F13: triangle counting over the near-dup graph ──────────────────────────


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — per-document triangle participation + local clustering
    coefficient over the F2 near-dup graph: distinguishes docs inside
    DENSE duplicate families (template farms, mirrored sites — every copy
    near-matches every other) from chain-like incidental matches, a
    signal CC (F6) cannot give since it only knows reachability.

    Enumeration is the oriented node-iterator join: edges are (a < b), a
    triangle a<b<c is found exactly once as e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) —
    three equi-joins, no direction double-count, no post-dedup. Per-node
    counts come from unioning the three corners.

    Scale: the canonical production refinement is orienting edges
    low-degree → high-degree instead of by id, which bounds the join
    fan-out of hub nodes (Σ d(v)^{3/2} work); by-id orientation keeps the
    pair set identical to the oracle's and is exact at any scale — swap
    the orientation key for degree when hubs appear. The near-dup graph's
    edge list is tiny relative to the corpus, so all three joins ride one
    shuffle on the shared edge frame."""
    e = persist_tracked(dedup_minhash_lsh(spark, sf_dir).select("doc_id_a", "doc_id_b"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    # tri deliberately NOT persisted (r12 optimization round, measured): the
    # three per-corner unions re-run the 3-join enumeration, but its inputs
    # are the already-cached tiny edge frame at any scale — caching tri
    # itself regressed sf0.1 2.05s → 2.48s (the extra materialization job
    # costs more than three joins over a cached dim-sized frame).
    tri = (
        e1.join(e2, F.col("e2.doc_id_a") == F.col("e1.doc_id_b"))
        .join(
            e3,
            (F.col("e3.doc_id_a") == F.col("e1.doc_id_a"))
            & (F.col("e3.doc_id_b") == F.col("e2.doc_id_b")),
        )
        .select(
            F.col("e1.doc_id_a").alias("a"),
            F.col("e1.doc_id_b").alias("b"),
            F.col("e2.doc_id_b").alias("c"),
        )
    )
    tri_counts = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        e.select(F.col("doc_id_a").alias("doc_id"))
        .unionAll(e.select(F.col("doc_id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.join(tri_counts, "doc_id", "left").select(
        "doc_id",
        F.col("degree").cast("int").alias("degree"),
        F.coalesce("n_triangles", F.lit(0)).cast("int").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                2 * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def _triangle_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_pairs_body()}),
e AS (SELECT doc_id_a, doc_id_b FROM pairs),
tri AS (
  SELECT e1.doc_id_a AS a, e1.doc_id_b AS b, e2.doc_id_b AS c
  FROM e e1
  JOIN e e2 ON e2.doc_id_a = e1.doc_id_b
  JOIN e e3 ON e3.doc_id_a = e1.doc_id_a AND e3.doc_id_b = e2.doc_id_b
),
tri_counts AS (
  SELECT doc_id, count(*) AS n_triangles FROM (
    SELECT a AS doc_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY doc_id
),
deg AS (
  SELECT doc_id, count(*) AS degree FROM (
    SELECT doc_id_a AS doc_id FROM e UNION ALL SELECT doc_id_b FROM e
  ) GROUP BY doc_id
)
SELECT d.doc_id, d.degree::INT AS degree,
       coalesce(t.n_triangles, 0)::INT AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN round(2.0 * coalesce(t.n_triangles, 0) / (d.degree * (d.degree - 1)), 4)
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN tri_counts t USING (doc_id)
"""


# ── F12: incremental dedup — new batch vs existing corpus ───────────────────

# deterministic batch split: docs with doc_id ≡ 4 (mod 5) are "today's
# ingest" (20%); the rest are the already-deduplicated corpus.
NEW_MOD = 5
NEW_RESIDUE = 4


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 — incremental minhash dedup, the daily-ingest shape: only NEW
    documents are checked — against the existing corpus and among
    themselves — instead of recomputing the full corpus pair set. A new
    doc is a duplicate if it near-matches (Jaccard ≥ τ, F2's verify) any
    existing doc (any id) or an earlier new doc (smaller id — first-wins
    inside the batch). Emits every new doc with its verdict, the minimum
    matching partner, and that partner's Jaccard.

    Scale: THE point of the operator — the band self-join of F2 becomes a
    probe join `bands ⋈ bands_new`, so candidate generation is
    O(corpus-bands × batch-bands-per-bucket), linear in the batch, not in
    the corpus; at 100 TB the corpus bands/sets live as a bucketed table
    and the daily batch streams against it. The verify join only carries
    shingle-hash sets for docs that appear in some candidate pair."""
    bands, sh = _minhash_bands_sets(spark, sf_dir)
    is_new = lambda c: c % NEW_MOD == NEW_RESIDUE  # noqa: E731
    bands_new = bands.filter(is_new(F.col("doc_id")))
    a, b = bands.alias("a"), bands_new.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("lo"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("hi"),
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("lo"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("hi"), F.col("sh").alias("sh_b"))
    # vp PERSISTED: it feeds the two qual branches plus the best_match
    # join-back, which re-ran the whole candidate+verify pipeline per
    # reference (guide §1.2).
    vp = persist_tracked(_jaccard_verify(cand.join(sa, "lo").join(sb, "hi"), "lo", "hi"))
    # qualifying (new_doc, partner): the partner is existing (any id) or an
    # earlier new doc; pairs are (lo < hi) so a new hi always qualifies
    # against lo, and a new lo only against an EXISTING hi.
    qual = (
        vp.filter(is_new(F.col("hi")))
        .select(F.col("hi").alias("doc_id"), F.col("lo").alias("partner"), "jaccard")
        .unionByName(
            vp.filter(is_new(F.col("lo")) & ~is_new(F.col("hi"))).select(
                F.col("lo").alias("doc_id"), F.col("hi").alias("partner"), "jaccard"
            )
        )
    )
    best = qual.groupBy("doc_id").agg(F.min("partner").alias("best_match"))
    best_j = best.join(
        qual.withColumnRenamed("partner", "best_match"), ["doc_id", "best_match"]
    )
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    new_docs = docs.filter(is_new(F.col("doc_id"))).select("doc_id")
    return new_docs.join(best_j, "doc_id", "left").select(
        "doc_id",
        F.col("best_match").isNotNull().alias("is_dup"),
        "best_match",
        "jaccard",
    )


def _incremental_sql() -> str:
    m, r = NEW_MOD, NEW_RESIDUE
    return f"""
WITH pairs AS ({_minhash_pairs_body()}),
new_docs AS (SELECT doc_id FROM documents WHERE doc_id % {m} = {r}),
qual AS (
  SELECT doc_id_b AS doc_id, doc_id_a AS partner, jaccard FROM pairs
  WHERE doc_id_b % {m} = {r}
  UNION ALL
  SELECT doc_id_a, doc_id_b, jaccard FROM pairs
  WHERE doc_id_a % {m} = {r} AND doc_id_b % {m} <> {r}
),
best AS (SELECT doc_id, min(partner) AS best_match FROM qual GROUP BY doc_id)
SELECT n.doc_id,
       (b.best_match IS NOT NULL) AS is_dup,
       b.best_match,
       q.jaccard
FROM new_docs n
LEFT JOIN best b USING (doc_id)
LEFT JOIN qual q ON q.doc_id = n.doc_id AND q.partner = b.best_match
"""


# ── F10: prefix-filtering set-similarity join (AllPairs/PPJoin family) ──────

# τ = SETSIM_NUM/SETSIM_DEN, kept as an exact rational so the prefix length,
# the length filter, and the verify compare are all integer arithmetic in
# both dialects (no float threshold can flip at a boundary).
SETSIM_NUM = 2
SETSIM_DEN = 5


def _setsim_parts(spark: SparkSession, sf_dir: str):
    """F10 building blocks: (per-doc hash sets, prefix rows, candidate
    pairs). Factored out so `setsim_candidate_stats` measures the EXACT
    production prefix-join shape (bench scale-trend instrumentation).

    r12 optimization-round restructure (guide §2.3/§2.4 — shuffle fewer
    bytes, remove shuffles outright), output-identical by construction:

    - The per-doc distinct hash SET is built in ONE map-side-combined
      aggregate (collect_set dedups inside the partial buffer; a doc lives
      in one scan partition, so one combined array row per doc moves) and
      THAT 1-row-per-doc frame is what gets persisted — the old shape
      persisted the ~n·|set| exploded hash table (26M rows at the sf10
      tier) and paid a separate dropDuplicates pass plus a second
      groupBy(doc_id) over the cache.
    - df attaches to prefix candidates through a size-aware BROADCAST of
      the (h, df) table (2.2M rows ≈ tens of MB at the sf10 tier, bounded
      by the same corpus-size rule as the verify join): below the bound the
      df join adds NO exchange and the per-doc rank window rides the cached
      doc_id partitioning (zero exchange: Sort only); above it (the 100 TB
      shape) the plan falls back to the plain shuffle join + window — df is
      global state either way, one aggregate.
    - The pre-verify pair `.distinct()` is GONE — the verify dedups AFTER
      the exact check instead. Measured at the sf10 tier: the same pair
      reaches the verify through more than one shared prefix token only
      1.07× on average (47.47M join rows vs 44.46M distinct pairs), while
      the distinct cost a 47M-row / ~1 GB exchange plus a 44M-entry hash
      aggregate before a single set was intersected. Verifying the raw
      join rows (+7% intersects) and distinct-ing the few τ-passing OUTPUT
      rows removed the whole exchange: 84.3s → 38.0s same-session at sf10.
      Output rows are identical — (n_common, jaccard) are pure functions
      of the pair, so post-verify distinct yields exactly one row per
      qualifying pair. Known tradeoff, documented honestly: a corpus where
      every pair shares its WHOLE prefix (all-dups regime) pays the full
      duplication factor in verify work where the old shape paid it in the
      exchange; the prefix-filter family degrades on such corpora either
      way, and the gate corpora are small enough that correctness runs are
      unaffected.
    - Each raw join row carries the PPJoin POSITIONAL bound (Xiao et al.
      WWW'08) as a free map-side filter: for a shared token at df-order
      positions (i, j) of docs sized (na, nb), overlap ≤ min(i,j) +
      min(na-i, nb-j), so a row whose bound cannot reach the τ-required
      α = ⌈NUM·(na+nb)/(NUM+DEN)⌉ skips its verify. On the size-uniform
      bench corpus this removes only ~0.1% (measured; matches land at
      near-equal positions) — kept because it costs nothing per row and
      prunes hard on size- and position-diverse corpora. Pure candidate
      pruning: every pruned row provably fails the exact verify.
    """
    sets = persist_tracked(
        _doc_shingle_rows(spark, sf_dir)
        .select("doc_id", phash_spark(F.col("s")).alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("sh"))
        .select("doc_id", "sh", F.size("sh").alias("n"))
    )
    rows = sets.select("doc_id", "n", F.explode("sh").alias("h"))
    dfreq = rows.groupBy("h").agg(F.count("*").alias("df"))
    # ADVICE r12: this broadcast's in-memory size scales with the DISTINCT
    # shingle count, not with the compressed document bytes the verify-join
    # gate was built for — measured at the sf10 tier, ~2.2M distinct hashes
    # (~1.75× docs_bytes as a built hash relation at ~48 B/entry) per 60 MB
    # of zstd documents. Gate it at HALF the verify bound (2× divisor on
    # docs_bytes) so the relation stays under the same heap budget the
    # verify join honors; above it the plain shuffle join stands (the
    # 100 TB shape either way).
    if 2 * _docs_bytes(sf_dir) <= _setsim_broadcast_max_bytes(spark):
        dfreq = F.broadcast(dfreq)
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    ranked = rows.join(dfreq, "h").withColumn("rn", F.row_number().over(w))
    # prefix is persisted: the self-join consumes it twice, and without the
    # cache BOTH sides recompute the df join + rank window (two identical
    # 15.9M-row pipelines ran per sf10 bench run — measured stages 77/78).
    prefix = persist_tracked(
        ranked.filter(
            F.col("rn")
            <= F.col("n")
            - F.expr(f"({SETSIM_NUM} * n + {SETSIM_DEN - 1}) div {SETSIM_DEN}")
            + 1
        ).select("doc_id", "h", "n", "rn")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    ub = F.least(F.col("a.rn"), F.col("b.rn")) + F.least(
        F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")
    )
    cands = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (SETSIM_NUM * F.col("a.n") <= SETSIM_DEN * F.col("b.n"))
            & (SETSIM_NUM * F.col("b.n") <= SETSIM_DEN * F.col("a.n")),
        )
        .filter(
            (SETSIM_NUM + SETSIM_DEN) * ub
            >= SETSIM_NUM * (F.col("a.n") + F.col("b.n"))
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
    )
    return sets, prefix, cands


def _bucket_join_stats(sizes: DataFrame, count_col: str = "n") -> dict:
    """Σ|bucket|-style cost terms from a (bucket → size) table: the number
    of UNORDERED in-bucket pairs Σ n·(n−1)/2 the equi-self-join generates,
    the bucket count, and the largest bucket (the skew term AQE must
    split). Exact integer arithmetic throughout."""
    n = F.col(count_col)
    row = sizes.agg(
        F.count("*").alias("buckets"),
        F.max(n).alias("max_bucket"),
        F.sum((n * (n - F.lit(1))).cast("long")).alias("pairs2x"),
    ).first()
    return {
        "buckets": int(row["buckets"] or 0),
        "max_bucket": int(row["max_bucket"] or 0),
        "gen_pairs": int(row["pairs2x"] or 0) // 2,
    }


def minhash_candidate_stats(spark: SparkSession, sf_dir: str) -> dict:
    """F2 scale instrumentation (VERDICT r09 task 1): measured Σ|bucket|²
    cost of the band-bucket self-join plus the distinct candidate-pair
    count, so superlinear candidate growth across SFs is a recorded number,
    not an asserted posture. NOT part of the timed bench region."""
    bands, sh = _minhash_bands_sets(spark, sf_dir)
    stats = _bucket_join_stats(bands.groupBy("band", "bh").agg(F.count("*").alias("n")))
    stats["rows"] = sh.count()
    stats["cand_pairs"] = _band_candidates(bands).count()
    return stats


def setsim_candidate_stats(spark: SparkSession, sf_dir: str) -> dict:
    """F10 scale instrumentation: prefix-token bucket cost bound (Σ per-hash
    C(n,2), BEFORE the length filter), the distinct candidate-pair count
    (comparable across rounds), and — new in r12 — the RAW verify row count
    the dedup-after-verify plan actually intersects (``verify_rows`` /
    ``cand_pairs`` is the measured duplication factor the restructure
    trades the pre-verify exchange against)."""
    sets, prefix, cands = _setsim_parts(spark, sf_dir)
    stats = _bucket_join_stats(prefix.groupBy("h").agg(F.count("*").alias("n")))
    stats["rows"] = sets.count()
    stats["prefix_rows"] = prefix.count()
    stats["verify_rows"] = cands.count()
    stats["cand_pairs"] = cands.distinct().count()
    return stats


#: F10 verify-join strategy bound (r10 task 6): documents input at or under
#: this ON-DISK size broadcasts the per-doc hash-sets side of the verify
#: join. 128 MB of compressed document parquet expands to roughly 1-2 GB of
#: in-memory hash-set arrays (the sf10 tier: 58 MB -> ~0.5 GB), comfortably
#: inside the session's >=8g local heap and Spark's 8 GB broadcast hard cap;
#: past it the join is shuffle-hash - the 100 TB shape. Derived from file
#: metadata only: no extra Spark job, deterministic for a given corpus.
#: This module constant is the CAP; the effective bound additionally scales
#: with the configured driver heap (see _setsim_broadcast_max_bytes) so a
#: small SPARK_GRAFT_DRIVER_MEM cannot make the explicit broadcast a
#: deterministic OOM (ADVICE r11: the two knobs were uncoupled).
SETSIM_BROADCAST_MAX_INPUT_BYTES = 128 * 1024 * 1024


def _parse_jvm_mem(s: str) -> int:
    """JVM memory string ('8g', '512m', '8192') -> bytes."""
    s = s.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(float(s))


def _setsim_broadcast_max_bytes(spark) -> int:
    """Effective broadcast bound: min(cap, driver_heap/64) — at the 8g
    session floor this is exactly the measured 128 MiB cap (no behavior
    change), while an explicitly smaller SPARK_GRAFT_DRIVER_MEM shrinks
    the bound proportionally instead of deterministically broadcasting
    ~1-2 GB of expanded hash sets into a heap that cannot hold them. The
    plan remains a pure function of (corpus, configured heap) — both fixed
    per deployment — never of runtime JVM heap *state*."""
    try:
        heap = _parse_jvm_mem(
            spark.sparkContext.getConf().get("spark.driver.memory", "8g")
        )
    except (ValueError, TypeError):
        heap = 8 << 30
    return min(SETSIM_BROADCAST_MAX_INPUT_BYTES, heap // 64)


def _docs_bytes(sf_dir: str) -> int:
    import os

    from australian_company_etl_spark.sources.registry import table_path

    p = table_path(sf_dir, "documents")
    if os.path.isdir(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, files in os.walk(p)
            for f in files
        )
    return os.path.getsize(p) if os.path.exists(p) else 0


def dedup_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — set-similarity self-join with EXACT-recall prefix filtering
    (Bayardo et al. WWW'07 "Scaling Up All Pairs", Xiao et al. WWW'08
    PPJoin): word-3gram shingle sets, Jaccard ≥ 2/5.

    Unlike LSH (F2, probabilistic recall) or single-key blocking (F4,
    heuristic recall), the prefix filter is LOSSLESS: order every doc's
    shingles by ascending global document frequency (rarest first, ties by
    value) and keep only the first n - ⌈τ·n⌉ + 1 as the doc's prefix. If
    two sets share NO prefix element, their overlap is provably < the
    τ-required minimum, so joining on prefix tokens alone surfaces every
    qualifying pair. The length filter τ·|a| ≤ |b| ≤ |a|/τ (integer form)
    prunes further; survivors are verified with exact integer Jaccard.

    Scale: candidate cost concentrates on RARE shingles by construction —
    frequent (boilerplate) shingles sit at the back of the df ordering and
    never enter prefixes, so the hot keys of F4's naive blocking vanish
    here. Plan: shingles are 60-bit-hashed immediately (the F2 verify
    trick — every shuffle and both verify sides move int64, never shingle
    text; the hash is also the in-doc total order, equally valid for the
    prefix guarantee and computed identically by the oracle). One shuffle
    to compute df (groupBy hash), one join back + per-doc window (rides
    the doc_id partitioning), the prefix self-join on hash, then a verify
    join against the persisted hash sets. At 100 TB this is the standard
    production set-sim join; df is the only global state and it is itself
    a shuffle-friendly aggregate.

    The verify-join strategy is PINNED, size-aware (r10 task 6): the
    hash-sets side sits right at AQE's broadcast threshold at the sf10
    tier, so the runtime choice flipped between broadcast and sort-merge
    with JVM heap state — a nondeterministic "Not enough memory to build
    and broadcast" in one bench run and a 37%-of-value spread across the
    rest; a flat shuffle-hash pin then measured +59% over the broadcast
    runs (it pays two extra 44M-row candidate shuffles). The choice is
    now made from the INPUT's on-disk size — a pure data property: below
    the heap-coupled bound (_setsim_broadcast_max_bytes, 128 MiB at the
    default >=8g heap) the sets side broadcasts explicitly
    (no candidate shuffle at all, the measured-fast plan, deterministic
    at any heap); above it, shuffle-hash with the per-doc sets as build
    side (sort-merge would sort array<long> payloads), the only strategy
    that exists at 100 TB. Either way the plan is a function of the
    corpus, never of JVM heap state."""
    sets, _prefix, cands = _setsim_parts(spark, sf_dir)
    sa = sets.select(
        F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("na")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("nb")
    )
    if _docs_bytes(sf_dir) <= _setsim_broadcast_max_bytes(spark):
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    else:
        sa, sb = sa.hint("shuffle_hash"), sb.hint("shuffle_hash")
    pairs = cands.join(sa, "doc_id_a").join(sb, "doc_id_b")
    return (
        score_once(pairs, F.size(F.array_intersect("sh_a", "sh_b")), "inter")
        # DEN·i ≥ NUM·(na+nb−i) ⇔ (NUM+DEN)·i ≥ NUM·(na+nb): exact integers
        .filter(
            (SETSIM_NUM + SETSIM_DEN) * F.col("inter")
            >= SETSIM_NUM * (F.col("na") + F.col("nb"))
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.col("inter").cast("int").alias("n_common"),
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        # pair dedup AFTER the exact verify (see _setsim_parts: candidates
        # arrive with an avg 1.07× multiplicity instead of through a 1 GB
        # pre-verify distinct exchange). (n_common, jaccard) are functions
        # of the pair, so this is exactly one row per qualifying pair —
        # byte-identical to the old output.
        .distinct()
    )


def _setsim_sql() -> str:
    n, d = SETSIM_NUM, SETSIM_DEN
    return f"""
WITH {_SHINGLES_CTE.strip()},
rows_ AS (
  SELECT DISTINCT doc_id, {phash_sql('s')} AS h
  FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
),
hsets AS (SELECT doc_id, list(h) AS hs, count(*) AS n FROM rows_ GROUP BY doc_id),
dfreq AS (SELECT h, count(*) AS df FROM rows_ GROUP BY h),
ranked AS (
  SELECT r.doc_id, r.h, hs.n,
         row_number() OVER (PARTITION BY r.doc_id ORDER BY d.df, r.h) AS rn
  FROM rows_ r JOIN dfreq d USING (h) JOIN hsets hs USING (doc_id)
),
prefix AS (
  SELECT doc_id, h, n FROM ranked
  WHERE rn <= n - (({n} * n + {d - 1}) // {d}) + 1
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM prefix a JOIN prefix b
    ON a.h = b.h AND a.doc_id < b.doc_id
   AND {n} * a.n <= {d} * b.n AND {n} * b.n <= {d} * a.n
),
verify AS (
  SELECT doc_id_a, doc_id_b,
         len(list_intersect(ta.hs, tb.hs)) AS inter,
         ta.n AS na, tb.n AS nb
  FROM cands
  JOIN hsets ta ON ta.doc_id = doc_id_a
  JOIN hsets tb ON tb.doc_id = doc_id_b
)
SELECT doc_id_a, doc_id_b, inter::INT AS n_common,
       round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard
FROM verify
WHERE {d} * inter >= {n} * (na + nb - inter)
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_url_canonical": dedup_url_canonical,
    "dedup_lines": dedup_lines,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_cluster_cc": dedup_cluster_cc,
    "rank_neardup_pagerank": rank_neardup_pagerank,
    "dedup_setsim_prefix": dedup_setsim_prefix,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_incremental": dedup_incremental,
    "graph_triangle_count": graph_triangle_count,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_url_canonical": DEDUP_URL_SQL,
    "dedup_minhash_lsh": _minhash_pairs_body(),
    "dedup_simhash": _simhash_sql(),
    "dedup_ngram_jaccard": _ngram_sql(),
    "dedup_embedding_cosine": _emb_cosine_sql(),
    "dedup_cluster_cc": _cluster_cc_sql(),
    "rank_neardup_pagerank": _pagerank_sql(),
    "dedup_lines": _dedup_lines_sql(),
    "dedup_setsim_prefix": _setsim_sql(),
    "dedup_substring_spans": _substring_spans_sql(),
    "dedup_incremental": _incremental_sql(),
    "graph_triangle_count": _triangle_sql(),
}
