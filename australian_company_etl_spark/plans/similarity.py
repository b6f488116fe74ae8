"""Group G — similarity search over the embedding column.

- G1 `ann_brute_topk` — brute-force cosine top-k per query vector: the
  correctness baseline. Queries (a tiny set) are broadcast; one pass over
  the corpus, per-query row_number top-k.
- G2 `ann_lsh_topk`   — random-hyperplane LSH: 8 deterministic md5-seeded
  planes → 8-bit sign bucket → in-bucket top-k. The scale path: candidate
  set shrinks ~2^P per query.
- G3 `ann_ivf_topk`   — IVF: coarse quantizer = every 50th vector as a
  centroid (deterministic, data-derived); assign vectors to their nearest
  cell, probe the query's 2 nearest cells.

Scores are computed in double and rounded to 6 dp BEFORE ranking, with
vec_id as tie-break, so Spark and DuckDB rank identically.

Scale: centroids/planes/queries are broadcast dims; the corpus is never
replicated. G2/G3 shuffle once on the bucket/cell key; at 100 TB per-cell
top-k is the map-side-reducible pattern (partial top-k per partition via
AQE-coalesced window partitions).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from australian_company_etl_spark.functions.exactmath import D38 as _PI_D38
from australian_company_etl_spark.functions.partitioning import spread_if_narrow
from australian_company_etl_spark.functions.vectors import dot_fold, seq_dot_cross
from australian_company_etl_spark.functions.textfns import phash_sql
from australian_company_etl_spark.sources.registry import load_tables

N_QUERIES = 10  # query set: vec_id < 10
TOP_K = 5
N_PLANES = 8
EMB_DIM = 64  # testdata embedding dimensionality
CENTROID_STRIDE = 50  # vec_id % 50 == 0 → coarse centroids
#: absolute cap on the IVF coarse-centroid count (the KMEANS_K/PQ_K
#: fixed-cardinality discipline): stride alone makes the quantizer
#: O(N), which turns the assignment join quadratic (N·N/50 cosine
#: folds) and the "broadcast dim" unbounded — at N=1e9 that is 2e16
#: dot products and a 2e7-vector broadcast. With the cap, assignment
#: is O(N·K) and the broadcast is constant-size at any corpus scale.
IVF_MAX_CENTROIDS = 64
N_PROBE = 2


def _plane(p: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1)^EMB_DIM from md5 —
    reproducible in any engine, no RNG state. ``table`` derives independent
    plane sets for multi-table OR'd LSH (table 0 keeps the original seeds,
    so single-table bucket keys are unchanged)."""
    out = []
    for d in range(EMB_DIM):
        key = f"{p}:{d}" if table == 0 else f"t{table}:{p}:{d}"
        h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
        out.append((h % 2_000_001) / 1_000_000.0 - 1.0)
    return out


PLANES = [_plane(p) for p in range(N_PLANES)]

N_TABLES = 3  # independent OR'd plane tables for the multi-table variant
PLANE_TABLES = [[_plane(p, t) for p in range(N_PLANES)] for t in range(N_TABLES)]


# ── cosine, both dialects (double, sequential fold) ─────────────────────────
# Vectors are L2-normalized ONCE per row (O(N·dim)) so every pair score is a
# single dot product (O(pairs·dim)) instead of dot + two norms — 3x less
# per-pair work, and Spark's sequential fold (``dot_fold``) matches DuckDB's
# list ops bit-for-bit because both evaluate left-to-right on the same
# doubles.


def _cos_sql(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    # per-row 64-dim folds run interpreted — spread across cores (tiny file
    # scans as ONE partition; no-op posture on a real many-file dataset)
    emb = spread_if_narrow(emb, "vec_id")
    e = F.col("embedding").cast("array<double>")
    # norm as a materialized column FIRST — referencing the aggregate inside
    # the transform lambda would re-evaluate it per element (O(dim²)/row).
    # ZERO-NORM POLICY (round-10 extreme_vectors regime): a zero vector has
    # no direction, so its normalized form is NULL — every cosine against
    # it is NULL, it never crosses a similarity threshold, and rankings
    # place it after every real score in BOTH engines (Spark DESC and
    # DuckDB's default are both NULLS LAST). Without the guard Spark ANSI
    # raises DIVIDE_BY_ZERO on x/0 while DuckDB's IEEE division produces
    # NaN — an engine crash vs silent NaNs, the worst possible pair.
    d = emb.select("vec_id", "label", e.alias("e0")).withColumn(
        "nrm", F.sqrt(dot_fold(F.col("e0"), F.col("e0")))
    )
    return d.select(
        "vec_id",
        "label",
        F.when(
            F.col("nrm") > 0, F.transform("e0", lambda x: x / F.col("nrm"))
        ).alias("e"),
    )


_BASE_SQL = """base AS (
  SELECT vec_id, label,
         CASE WHEN nrm > 0 THEN list_transform(e0, x -> x / nrm) END AS e
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e0,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings) t
)"""


def _rescore(pairs: DataFrame) -> DataFrame:
    """(q_id, n_id, score) per candidate: the exact cosine of query ``qe``
    and corpus vector ``e``, rounded to 6 dp before any ranking."""
    return pairs.select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(dot_fold(F.col("qe"), F.col("e")), 6).alias("score"),
    )


def _topk(pairs: DataFrame) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "n_id", "score", "rank")
    )


_TOPK_SQL_TAIL = f"""
SELECT q_id, n_id, score, rank FROM (
  SELECT q_id, n_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


# ── G1 brute force ──────────────────────────────────────────────────────────


def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — exact cosine top-k per query vector (broadcast queries)."""
    base = _base(spark, sf_dir)
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    return _topk(_rescore(base.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))))


BRUTE_SQL = f"""
WITH {_BASE_SQL},
q AS (SELECT vec_id AS q_id, e AS qe FROM base WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.q_id, base.vec_id AS n_id, round({_cos_sql('q.qe', 'base.e')}, 6) AS score
  FROM base JOIN q ON base.vec_id <> q.q_id
)
{_TOPK_SQL_TAIL}
"""


# ── G2 random-hyperplane LSH ────────────────────────────────────────────────


def _bucket_spark(e, planes: list[list[float]] | None = None):
    bucket = F.lit(0)
    for p, plane in enumerate(planes if planes is not None else PLANES):
        dot = dot_fold(e, F.array(*[F.lit(float(x)) for x in plane]))
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket.cast("int")


def _bucket_sql(e: str, planes: list[list[float]] | None = None) -> str:
    terms = []
    for p, plane in enumerate(planes if planes is not None else PLANES):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        terms.append(f"(CASE WHEN list_dot_product({e}, {arr}) > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::INT"


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — sign-LSH bucketed top-k (candidates share the query's bucket).
    Registry entry = the frozen 8-plane parity twin; the library default
    for a growing corpus is ``ann_lsh_topk_adaptive`` (same plan, plane
    count from ``adaptive_n_planes``)."""
    return ann_lsh_topk_probed(spark, sf_dir, PLANES)


def ann_lsh_topk_probed(
    spark: SparkSession,
    sf_dir: str,
    planes: list[list[float]] | None = None,
    n_probes: int = 0,
) -> DataFrame:
    """The one sign-LSH query path (G2, G11 and their adaptive defaults):
    each query's candidates share its bucket or one of its probe buckets
    (``_probe_flips``), exact-rescored to top-k. The plane set is the
    scale lever shared with G8 (more planes → smaller buckets → bounded
    per-query candidate sets). n_probes=0 is the single-bucket G2 plan;
    n_probes=len(planes) probes the whole Hamming-1 ball (G11). A query's
    probe masks are distinct, so a candidate matches it at most once — no
    pair dedup stage."""
    plist = PLANES if planes is None else planes
    base = _base(spark, sf_dir).withColumn("bucket", _bucket_spark(F.col("e"), plist))
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("bucket").alias("qb")
    )
    key = F.col("qb")
    if n_probes > 0:
        flips = _probe_flips(F.col("qe"), plist, n_probes)
        q = q.select("q_id", "qe", "qb", F.explode(flips).alias("flip")).select(
            "q_id", "qe", F.col("qb").bitwiseXOR(F.col("flip")).alias("pb")
        )
        key = F.col("pb")
    pairs = base.join(
        F.broadcast(q), (F.col("bucket") == key) & (F.col("vec_id") != F.col("q_id"))
    )
    return _topk(_rescore(pairs))


def ann_lsh_topk_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 library default: plane count derived from the corpus (see
    ``adaptive_n_planes``) paired with the matching query-directed probe
    budget (``adaptive_probe_budget`` — zero at the parity floor, so this
    is identical to the parity twin below the adaptive threshold)."""
    planes = corpus_adaptive_planes(spark, sf_dir)
    return ann_lsh_topk_probed(
        spark, sf_dir, planes, n_probes=adaptive_probe_budget(len(planes))
    )


def _lsh_sql() -> str:
    return f"""
WITH {_BASE_SQL},
bbase AS (SELECT vec_id, e, {_bucket_sql('e')} AS bucket FROM base),
q AS (SELECT vec_id AS q_id, e AS qe, bucket AS qb FROM bbase WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.q_id, bbase.vec_id AS n_id, round({_cos_sql('q.qe', 'bbase.e')}, 6) AS score
  FROM bbase JOIN q ON bbase.bucket = q.qb AND bbase.vec_id <> q.q_id
)
{_TOPK_SQL_TAIL}
"""


# ── G3 IVF ──────────────────────────────────────────────────────────────────


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — IVF coarse-quantized search, probing the 2 nearest cells."""
    base = _base(spark, sf_dir)
    cents = base.filter(
        (F.col("vec_id") % CENTROID_STRIDE == 0)
        & (F.col("vec_id") < CENTROID_STRIDE * IVF_MAX_CENTROIDS)
    ).select(F.col("vec_id").alias("c_id"), F.col("e").alias("ce"))
    # assign every vector to its nearest centroid (broadcast centroids)
    scored = base.join(F.broadcast(cents)).select(
        "vec_id",
        "e",
        "c_id",
        F.round(dot_fold(F.col("e"), F.col("ce")), 6).alias("cscore"),
    )
    wa = Window.partitionBy("vec_id").orderBy(F.desc("cscore"), F.asc("c_id"))
    assigned = scored.withColumn("rn", F.row_number().over(wa)).filter(F.col("rn") == 1).select(
        "vec_id", "e", F.col("c_id").alias("cell")
    )
    # queries probe their N_PROBE nearest cells
    qprobe = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= N_PROBE)
        .select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("cell"))
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    pairs = (
        assigned.join(F.broadcast(qprobe), "cell")
        .join(F.broadcast(q), "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    return _topk(_rescore(pairs).distinct())


def _ivf_sql() -> str:
    return f"""
WITH {_BASE_SQL},
cents AS (SELECT vec_id AS c_id, e AS ce FROM base
          WHERE vec_id % {CENTROID_STRIDE} = 0
            AND vec_id < {CENTROID_STRIDE} * {IVF_MAX_CENTROIDS}),
cscored AS (
  SELECT base.vec_id, base.e, cents.c_id,
         round({_cos_sql('base.e', 'cents.ce')}, 6) AS cscore,
         row_number() OVER (PARTITION BY base.vec_id
                            ORDER BY round({_cos_sql('base.e', 'cents.ce')}, 6) DESC,
                                     cents.c_id ASC) AS rn
  FROM base CROSS JOIN cents
),
assigned AS (SELECT vec_id, e, c_id AS cell FROM cscored WHERE rn = 1),
qprobe AS (SELECT vec_id AS q_id, c_id AS cell FROM cscored
           WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE}),
q AS (SELECT vec_id AS q_id, e AS qe FROM base WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT DISTINCT qprobe.q_id, assigned.vec_id AS n_id,
         round({_cos_sql('q.qe', 'assigned.e')}, 6) AS score
  FROM assigned
  JOIN qprobe ON assigned.cell = qprobe.cell
  JOIN q ON q.q_id = qprobe.q_id
  WHERE assigned.vec_id <> qprobe.q_id
)
{_TOPK_SQL_TAIL}
"""


# ── G4 k-means clustering (iterative Lloyd, exact integer units) ────────────
# Embedding clustering is a first-class curation op (cluster-balanced
# sampling, semantic dedup by cluster, diversity filtering). Lloyd's
# iterations are float-fragile across engines, so everything is EXACT:
# vectors quantize to integer micro-units, distances are exact int64 sums,
# and centroid updates are floor(sum/count) where sum < 2^53 makes the
# double division bit-identical in both engines. Init = the K lowest
# vec_ids; ties in assignment break to the lowest centroid id; empty
# clusters drop out — every step deterministic, so the DuckDB oracle is the
# same algorithm unrolled as chained CTEs.
#
# Scale: centroids are a broadcast dim (K rows); each iteration is one
# corpus pass + one K×DIM-sized aggregate — the canonical distributed-kmeans
# shape. The per-pair fold is an interpreted HOF here (fine for K·N·DIM at
# this K); swap in an Arrow-batched kernel (functions/vectors.py) for wide
# production runs.

KMEANS_K = 8
KMEANS_ITERS = 2
_KM_SCALE = 1_000_000

#: exact-integer micro-unit envelope for the RAW-embedding family (G4
#: kmeans, G6 semantic dedup's kmeans stage, G7 random projection): with
#: |component| ≤ 100 the 1e6-scaled quanta stay ≤ 1e8, so the 64-term
#: squared-distance sums top out at 64·(2e8)² ≈ 2.6e18 < BIGINT max.
#: Beyond it both engines REFUSE with a matched 'envelope' error (the
#: events_value_outliers pattern) — never a silent wrap on one side and
#: an ANSI CAST_OVERFLOW crash on the other, which is what the round-10
#: extreme_vectors regime (components at ±5e29) observed. The
#: normalization-based family (G1/G2/G5/G8/F5) is unaffected: it divides
#: by the L2 norm first, so its components are always ≤ 1.
_EMB_ENVELOPE = 100.0
_EMB_ENVELOPE_MSG = (
    "embedding exact-integer envelope exceeded (|component| > 100, "
    "micro-unit quantization past the BIGINT-safe distance range) — "
    "rescale the embedding space before the integer family"
)


def _q_micro_spark(x, scale: int):
    """Guarded micro-unit quantization of one embedding component."""
    guarded = F.when(
        F.abs(x) > _EMB_ENVELOPE, F.raise_error(F.lit(_EMB_ENVELOPE_MSG)).cast("double")
    ).otherwise(x)
    return F.round(guarded * scale).cast("bigint")


def _q_micro_sql(x: str, scale: int) -> str:
    return (
        f"CAST(round((CASE WHEN abs({x}) > {_EMB_ENVELOPE} "
        f"THEN error('{_EMB_ENVELOPE_MSG}')::DOUBLE ELSE {x} END) * {scale}) AS BIGINT)"
    )


def _kq_spark():
    return F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: _q_micro_spark(x, _KM_SCALE),
    )


def _kd2_spark(qa, qb):
    return F.aggregate(
        F.zip_with(qa, qb, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def cluster_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 — k-means cluster assignment after KMEANS_ITERS exact Lloyd
    updates; returns (vec_id, cluster_id, d2) with d2 the exact squared
    distance in micro-units."""
    from australian_company_etl_spark.operators.cache import persist_tracked

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    emb = persist_tracked(
        spread_if_narrow(emb, "vec_id").select(
            "vec_id", _kq_spark().alias("q")
        )
    )
    cent = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("c_id"), F.col("q").alias("cq")
    )

    def assign(c):
        # min_by aggregate, not a window (r12, guide §2.3 aggregate-before-
        # shuffle): the window form shuffled all N·K scored rows — each
        # carrying the 64-element q array — through its Exchange before
        # keeping one row per vector; the aggregate partial-combines
        # map-side, so at most one candidate per vector per partition moves.
        # Order struct (d2, c_id) is total (c_id unique per centroid set)
        # and sorts a NULL d2 field first, exactly like the ascending
        # NULLS-FIRST window orderBy it replaces — assignment identical.
        scored = emb.crossJoin(F.broadcast(c)).withColumn(
            "d2", _kd2_spark(F.col("q"), F.col("cq"))
        )
        ord_ = F.struct(F.col("d2").alias("d"), F.col("c_id").alias("c"))
        return (
            scored.groupBy("vec_id")
            .agg(
                F.min_by(
                    F.struct(F.col("c_id"), F.col("d2"), F.col("q")), ord_
                ).alias("best")
            )
            .select("vec_id", "best.c_id", "best.d2", "best.q")
        )

    for _ in range(KMEANS_ITERS):
        a = assign(cent)
        dims = [
            F.floor(F.sum(F.element_at("q", i)) / F.count("*"))
            .cast("bigint")
            .alias(f"d{i}")
            for i in range(1, EMB_DIM + 1)
        ]
        cent = a.groupBy("c_id").agg(*dims).select(
            "c_id", F.array(*[f"d{i}" for i in range(1, EMB_DIM + 1)]).alias("cq")
        )
    return assign(cent).select(
        "vec_id", F.col("c_id").alias("cluster_id"), F.col("d2").cast("bigint").alias("d2")
    )


def _kmeans_ctes() -> str:
    """The unrolled-Lloyd CTE chain; final assignment lands in a{KMEANS_ITERS}."""
    d2 = (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> (e.q[i] - c.cq[i]) * (e.q[i] - c.cq[i])))"
    )
    dims = ", ".join(
        f"CAST(floor(sum(q[{i}])::DOUBLE / count(*)) AS BIGINT)"
        for i in range(1, EMB_DIM + 1)
    )
    ctes = [
        f"emb AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
        f"x -> {_q_micro_sql('x', _KM_SCALE)}) AS q FROM embeddings)",
        f"c0 AS (SELECT vec_id AS c_id, q AS cq FROM emb WHERE vec_id < {KMEANS_K})",
    ]
    for j in range(KMEANS_ITERS + 1):
        ctes.append(
            f"s{j} AS (SELECT e.vec_id, c.c_id, {d2} AS d2 FROM emb e CROSS JOIN c{j} c)"
        )
        ctes.append(
            f"a{j} AS (SELECT vec_id, c_id, d2 FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn "
            f"FROM s{j}) WHERE rn = 1)"
        )
        if j < KMEANS_ITERS:
            ctes.append(
                f"c{j + 1} AS (SELECT c_id, [{dims}] AS cq "
                f"FROM a{j} JOIN emb USING (vec_id) GROUP BY c_id)"
            )
    return ",\n".join(ctes)


def _kmeans_sql() -> str:
    return (
        f"WITH {_kmeans_ctes()}\n"
        f"SELECT vec_id, c_id AS cluster_id, CAST(d2 AS BIGINT) AS d2 "
        f"FROM a{KMEANS_ITERS}"
    )


# ── G6: SemDeDup — semantic dedup inside k-means clusters ───────────────────

SEM_T = 0.25  # cosine threshold for "semantic duplicate" within a cluster


def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — SemDeDup (Abbas et al. 2023): cluster the embedding space with
    k-means, then inside each cluster mark all but one member of every
    cosine-≥τ near-duplicate group as drops (keep-lowest-vec_id). Returns
    every vector with its cluster and a keep flag.

    Scale: the pairwise step is blocked by cluster — cost Σ|cluster|², the
    whole point of clustering first (the paper runs this on billions of
    embeddings exactly because pairs never cross clusters). Cluster sizes
    are bounded by the k-means balance; a pathological giant cluster is
    handled by raising K, which shrinks every block."""
    assign = cluster_kmeans_embed(spark, sf_dir).select("vec_id", "cluster_id")
    d = _base(spark, sf_dir).join(assign, "vec_id")
    a = d.select(F.col("vec_id").alias("va"), "cluster_id", F.col("e").alias("ea"))
    b = d.select(F.col("vec_id").alias("vb"), "cluster_id", F.col("e").alias("eb"))
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("va") < F.col("vb"))
        .filter(F.round(dot_fold(F.col("ea"), F.col("eb")), 4) >= SEM_T)
        .select("vb")
        .distinct()
    )
    return (
        d.join(dropped, d["vec_id"] == dropped["vb"], "left")
        .select("vec_id", "cluster_id", F.col("vb").isNull().alias("keep"))
    )


def _semantic_sql() -> str:
    return f"""
WITH {_kmeans_ctes()},
{_BASE_SQL},
d AS (
  SELECT a.vec_id, a.c_id AS cluster_id, b.e
  FROM a{KMEANS_ITERS} a JOIN base b USING (vec_id)
),
drp AS (
  SELECT DISTINCT y.vec_id AS vb
  FROM d x JOIN d y
    ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
  WHERE round(list_dot_product(x.e, y.e), 4) >= {SEM_T}
)
SELECT d.vec_id, d.cluster_id, (drp.vb IS NULL) AS keep
FROM d LEFT JOIN drp ON d.vec_id = drp.vb
"""


# ── G5: product-quantization ANN ────────────────────────────────────────────
# PQ (Jégou et al. 2011): split each vector into PQ_M subvectors, encode each
# to its nearest of PQ_K per-subspace centroids, then answer queries with
# asymmetric distance (query subvector ↔ centroid lookup-table sums). At
# 100 TB this is THE memory lever: codes are PQ_M bytes/vector vs dim*4 raw
# (32x here), the codebook is a broadcast dim, and encoding is one corpus
# pass. All subspace distances use the dot-product identity
# d² = |a|² + |b|² − 2a·b with the same left-to-right folds in both engines,
# so scores are bit-identical before the 6-dp rounding.

PQ_M = 8  # subspaces (64 dims → 8 per subspace)
PQ_SUB = EMB_DIM // PQ_M
PQ_K = 16  # centroids per subspace
PQ_CENT_STRIDE = 30  # centroid j ← vector with vec_id = j*30 (data-derived)


def _pq_parts(spark: SparkSession, sf_dir: str):
    base = _base(spark, sf_dir)
    sub_structs = [
        F.struct(F.lit(m).alias("m"), F.slice("e", m * PQ_SUB + 1, PQ_SUB).alias("sv"))
        for m in range(PQ_M)
    ]
    subs = base.select(
        "vec_id", F.explode(F.array(*sub_structs)).alias("x")
    ).select("vec_id", F.col("x.m").alias("m"), F.col("x.sv").alias("sv"))
    cents = (
        subs.filter((F.col("vec_id") % PQ_CENT_STRIDE == 0) & (F.col("vec_id") < PQ_CENT_STRIDE * PQ_K))
        .select((F.col("vec_id") / PQ_CENT_STRIDE).cast("int").alias("j"), "m", F.col("sv").alias("cv"))
    )
    return subs, cents


def _d2(a, b):
    return dot_fold(a, a) + dot_fold(b, b) - 2 * dot_fold(a, b)


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 — PQ/ADC approximate top-k: encode corpus subvectors to nearest
    per-subspace centroid (deterministic j tie-break), score queries by
    summed query↔centroid subspace distances, rank ascending."""
    subs, cents = _pq_parts(spark, sf_dir)
    # asc_nulls_last, not plain asc: a zero-norm vector's NULL subvectors
    # (the _base policy) yield NULL d2/adist, and Spark's bare ASC places
    # NULLs FIRST while DuckDB's default is LAST — real distances must
    # outrank no-direction vectors in both engines (extreme_vectors
    # regime, round 10)
    enc_w = Window.partitionBy("vec_id", "m").orderBy(
        F.asc_nulls_last("d2"), F.asc("j")
    )
    codes = (
        subs.join(F.broadcast(cents), "m")
        .withColumn("d2", _d2(F.col("sv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(enc_w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("j").alias("code"))
    )
    qd = (
        subs.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("m").alias("qm"), "sv")
        .join(cents.select(F.col("m").alias("qm"), F.col("j").alias("qj"), "cv"), "qm")
        .select("q_id", "qm", "qj", _d2(F.col("sv"), F.col("cv")).alias("qd2"))
    )
    scored = (
        codes.join(
            F.broadcast(qd),
            (F.col("m") == F.col("qm")) & (F.col("code") == F.col("qj")),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(F.round(F.sum("qd2"), 6).alias("adist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc_nulls_last("adist"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "n_id", "adist", "rank")
    )


def _pq_sql() -> str:
    sub_rows = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, list_slice(e, {m * PQ_SUB + 1}, {(m + 1) * PQ_SUB}) AS sv FROM base"
        for m in range(PQ_M)
    )
    d2 = (
        "(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        " - 2 * list_dot_product({a}, {b}))"
    )
    return f"""
WITH {_BASE_SQL},
subs AS ({sub_rows}),
cents AS (
  SELECT (vec_id // {PQ_CENT_STRIDE})::INT AS j, m, sv AS cv
  FROM subs
  WHERE vec_id % {PQ_CENT_STRIDE} = 0 AND vec_id < {PQ_CENT_STRIDE * PQ_K}
),
codes AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT s.vec_id, s.m, c.j,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {d2.format(a='s.sv', b='c.cv')}, c.j) AS rn
    FROM subs s JOIN cents c USING (m)
  ) WHERE rn = 1
),
qd AS (
  SELECT s.vec_id AS q_id, s.m, c.j,
         {d2.format(a='s.sv', b='c.cv')} AS qd2
  FROM subs s JOIN cents c USING (m)
  WHERE s.vec_id < {N_QUERIES}
),
scored AS (
  SELECT qd.q_id, codes.vec_id AS n_id, round(sum(qd.qd2), 6) AS adist
  FROM codes JOIN qd ON codes.m = qd.m AND codes.code = qd.j
  WHERE codes.vec_id <> qd.q_id
  GROUP BY 1, 2
)
SELECT q_id, n_id, adist, rank FROM (
  SELECT q_id, n_id, adist,
         row_number() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""




# ── G7: random-projection (Johnson-Lindenstrauss) reduction ─────────────────
# 64-d → 16-d with a ±1 sign matrix (Achlioptas 2003: database-friendly
# random projections — sign entries preserve pairwise distances in
# expectation like Gaussians, but the projection is pure integer
# arithmetic). The matrix entry s_ij is the parity of the portable hash of
# "rp:i:j", so Spark, DuckDB, AND the driver-side Python that builds the
# broadcast dim all derive the identical matrix from first principles —
# nothing is shipped, nothing is random at runtime.

RP_IN_DIM = 64
RP_OUT_DIM = 16
_RP_SCALE = 1_000_000


def _rp_sign_py(i: int, j: int) -> int:
    import hashlib

    h = int(hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 — exact integer JL projection: y_j = Σ_i s_ij · q_i over
    micro-quantized components (|y| ≤ 64·2·10^6·max|x| ≪ 2^63, no
    overflow, no float summation order anywhere).

    Scale: the sign matrix is a 1024-row broadcast dim (built locally,
    validated against the in-SQL hash by the oracle gate); the projection
    is posexplode → broadcast equi-join → one map-side-combined (vec_id, j)
    aggregation — a single shuffle of 16 rows per vector, embarrassingly
    parallel in N. This is the memory lever BEFORE the ANN stage: 16
    bigints/vector instead of 64 floats feeding G1/G2/G5."""
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    signs = spark.createDataFrame(
        [(i, j, _rp_sign_py(i, j)) for i in range(RP_IN_DIM) for j in range(RP_OUT_DIM)],
        "i int, j int, s long",
    )
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: _q_micro_spark(x, _RP_SCALE),
            )
        ).alias("i", "qv"),
    )
    return (
        q.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("qv") * F.col("s")).alias("y_micro"))
    )


def _rp_sql() -> str:
    sign = phash_sql("'rp:' || i::VARCHAR || ':' || j::VARCHAR")
    return f"""
WITH dims AS (SELECT unnest(range({RP_IN_DIM}))::INT AS i),
outs AS (SELECT unnest(range({RP_OUT_DIM}))::INT AS j),
signs AS (
  SELECT i, j, CASE WHEN {sign} % 2 = 0 THEN 1::BIGINT ELSE -1::BIGINT END AS s
  FROM dims, outs
),
q AS (
  SELECT vec_id, i, {_q_micro_sql('embedding[i + 1]::DOUBLE', _RP_SCALE)} AS qv
  FROM embeddings, dims
)
SELECT q.vec_id, signs.j, CAST(sum(q.qv * signs.s) AS BIGINT) AS y_micro
FROM q JOIN signs USING (i)
GROUP BY 1, 2
"""


POWER_ITERS = 8  # power-iteration rounds for the top eigenvector
_PI_SCALE = 1_000_000  # micro-unit quantization for exact integer matvecs


def embed_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 — top eigenvector of the (uncentered) embedding second-moment
    matrix EᵀE via distributed power iteration — the building block of
    PCA whitening / spectral embedding passes over a vector corpus.

    Exactly deterministic across engines, runs, AND partitionings: the
    matvec w = Eᵀ(Ev) runs entirely in integer arithmetic — embeddings
    micro-quantized to BIGINT, per-row dot s_i = eᵢ·v in BIGINT, the
    per-dimension reduction Σᵢ e_ij·(sᵢ div 10⁶) summed as DECIMAL(38,0)
    (the q1 two-phase discipline; integer addition commutes, so shuffle
    order cannot change a single bit). The 64-dim result is collected to
    the driver each round (inherent: the next iterate is a global
    dependency) and re-normalized to micro units with integer math +
    isqrt — no float ever enters the loop. ~log-factor convergence per
    round for a spectral gap; 8 rounds pin the direction to ~1e-4.

    Scale: each round is one posexplode → map-side-combined 64-group
    aggregate (the G7 projection shape); vector state on the driver is
    64 BIGINTs. At 100 TB this is exactly how you'd run it, with rounds
    fused over a cached quantized table."""
    import math

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * _PI_SCALE).cast("bigint"),
        ).alias("em"),
    ).localCheckpoint(eager=True)

    v = [_PI_SCALE] + [0] * (EMB_DIM - 1)  # deterministic start: e_1
    for _ in range(POWER_ITERS):
        vlit = F.array(*[F.lit(x) for x in v])
        s = F.aggregate(
            F.zip_with(F.col("em"), vlit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        rows = (
            q.select(s.alias("s"), "em")
            .select(F.expr(f"s div {_PI_SCALE}").alias("sd"), "em")
            .select(F.posexplode("em").alias("j", "e"), "sd")
            .groupBy("j")
            .agg(F.sum((F.col("e") * F.col("sd")).cast(_PI_D38)).alias("w"))
            .collect()
        )
        # hold the exact integers driver-side; renormalize with isqrt
        w = [0] * EMB_DIM
        for r in rows:
            w[r.j] = int(r.w)
        norm = math.isqrt(sum(x * x for x in w))
        if norm == 0:
            break
        # round-half-up rational rounding, sign-symmetric and exact
        v = [
            (2 * x * _PI_SCALE + (norm if x >= 0 else -norm)) // (2 * norm)
            for x in w
        ]
    return spark.createDataFrame(
        [(j, v[j]) for j in range(EMB_DIM)], "dim int, v_micro long"
    )


KNN_GRAPH_K = 3  # neighbors kept per vertex


def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — k-NN GRAPH construction over the whole embedding table: every
    vector's top-k cosine neighbors among vectors sharing its sign-LSH
    bucket. The graph is the substrate of graph-based clustering and
    SemDeDup-style near-dup mining (F6/F9/G6 consume edge lists exactly
    like this one); G2 answers one query's neighbors, this materializes
    all of them.

    Scale: the candidate stage is a bucket EQUI-join with itself — cost
    Σ|bucket|², never N² — and the per-vertex top-k runs through the
    WindowGroupLimit rank-filter pushdown, so only k rows per vertex
    survive each shuffle side. The LIBRARY default for a growing corpus
    is ``knn_graph_lsh_adaptive`` (plane count from ``adaptive_n_planes``
    — the sf10 bench measured the fixed 8-plane config at 187.7M
    candidate pairs vs 13.9M at the 12 planes the formula picks there);
    THIS registry entry stays the frozen 8-plane parity twin because the
    static oracle SQL cannot count the corpus, and it equals the adaptive
    output at every gate SF (the formula floors at N_PLANES). Recall is
    additionally tunable with multiple independent plane tables OR'd
    together (union of edge lists, dedup by pair) — same plan shape,
    parameterized; vertices whose bucket is a singleton simply have no
    edges, the standard LSH-graph tradeoff the multi-table variant
    repairs."""
    return knn_graph_lsh_planes(spark, sf_dir, planes=PLANES)


def _knn_cogroup_score(_key, ldf, rdf):
    """Per-bucket all-pairs scorer for the knn-graph candidate stage
    (r13, guide §4.2): runs inside a cogrouped applyInPandas, so each
    vector crosses the JVM→Python boundary ONCE PER BUCKET (≈0.5 KB/row)
    instead of once per candidate pair (the r12 plan moved ~67M pairs ×
    1 KB through the interpreted fold; a scalar Arrow UDF over the joined
    pairs was measured WORSE than the fold — 40.8 s vs 37.1 s sf10 —
    because the pair-level boundary bytes dominate). Dots are computed
    with `seq_dot_cross`, whose per-pair accumulation order is the JVM
    fold's — scores are bit-identical, verified output-identical at
    sf0.1 and pinned by tests/test_knn_arrow_kernel.py.

    Null vectors (zero-norm policy) score None, like the fold's NULL. A
    NaN dot (an embedding with a NaN or infinite component normalizes to
    a vector holding NaN) stays NaN, like the fold's, and Spark ranks it
    ABOVE every real score. Both reach the JVM through a masked
    `FloatingArray`: a plain float64 column would turn every NaN into
    NULL on its way to Arrow. The lhs is chunked so the (m, n) score
    block stays ≤ ~32 MB however skewed a bucket is."""
    import numpy as _np
    import pandas as _pd

    empty = _pd.DataFrame(
        {
            "src_id": _pd.Series(dtype="int64"),
            "nbr_id": _pd.Series(dtype="int64"),
            "dot": _pd.Series(dtype="float64"),
        }
    )
    if len(ldf) == 0 or len(rdf) == 0:
        return empty
    src = ldf["src_id"].to_numpy()
    nbr = rdf["nbr_id"].to_numpy()
    la = ldf["se"].to_numpy()
    rb = rdf["ne"].to_numpy()
    lok = _np.fromiter((x is not None for x in la), dtype=bool, count=len(la))
    rok = _np.fromiter((x is not None for x in rb), dtype=bool, count=len(rb))
    all_ok = bool(lok.all() and rok.all())
    n = len(nbr)
    B = _np.stack(rb[rok]) if rok.any() else None
    chunk = max(1, (4 << 20) // max(1, n))
    outs = []
    for lo in range(0, len(src), chunk):
        hi = min(lo + chunk, len(src))
        s_chunk = src[lo:hi]
        if all_ok:
            # fast path (every real corpus row): plain float64 all the way
            S = seq_dot_cross(_np.stack(la[lo:hi]), B)
        else:
            ok_chunk = lok[lo:hi]
            S = _np.zeros((hi - lo, n))  # NULL pairs: masked on the way out
            if B is not None and ok_chunk.any():
                A = _np.stack(la[lo:hi][ok_chunk])
                S[_np.ix_(ok_chunk, rok)] = seq_dot_cross(A, B)
        keep = s_chunk[:, None] != nbr[None, :]
        if all_ok and n > KNN_GRAPH_K + 1:
            # margin-safe per-(src,bucket) top-K prune (r13): the global
            # per-src rank is over round(dot, 6) DESC — any candidate that
            # can reach the bucket's top-K under that comparator satisfies
            # dot ≥ kth - 1e-6 (round(y) ≥ round(t) ⇒ y ≥ t − 1e-6; HALF_UP
            # on the exact decimal), kept here with a 2e-6 float-dust
            # margin. Global top-K ⊆ union of per-bucket top-K (pairs are
            # unique across buckets — probe keys per src are distinct), so
            # pruning below the margin is lossless; it cuts the Arrow→JVM
            # pair stream and the window's local sorts ~n/K-fold. Rows
            # with fewer than K real candidates keep everything (kth is
            # −inf). NaN ranks as +inf here, as Spark orders it above
            # every number, so a NaN kth keeps exactly the NaN candidates
            # and a NaN candidate is never pruned. The null-vector (not
            # all_ok) path never prunes: NULL scores can reach the global
            # top-K only when a src has < K real candidates ACROSS
            # buckets, which one bucket cannot decide — and such corpora
            # are tiny by construction.
            R = _np.where(_np.isnan(S), _np.inf, S)
            kth = _np.partition(_np.where(keep, R, -_np.inf), n - KNN_GRAPH_K, axis=1)[
                :, n - KNN_GRAPH_K
            ]
            keep = keep & (R >= (kth - 2e-6)[:, None])
        si, ni = _np.nonzero(keep)
        null = ~(lok[lo:hi][si] & rok[ni])
        dots = _pd.arrays.FloatingArray(S[si, ni], null)
        out = _pd.DataFrame({"src_id": s_chunk[si], "nbr_id": nbr[ni], "dot": dots})
        if len(out):
            outs.append(out)
    if not outs:
        return empty
    return outs[0] if len(outs) == 1 else _pd.concat(outs, ignore_index=True)


def _knn_topk_from_buckets(lhs: DataFrame, rhs: DataFrame) -> DataFrame:
    """Shared candidate-scoring + per-vertex top-k tail of the knn-graph
    family: cogroup both bucket streams, score in the Arrow kernel, round
    and rank in the JVM (rounding stays in the JVM — Spark's round is
    HALF_UP on the exact decimal, numpy's is half-even)."""
    scored = (
        lhs.groupBy("bucket")
        .cogroup(rhs.groupBy("bucket"))
        .applyInPandas(_knn_cogroup_score, "src_id long, nbr_id long, dot double")
    )
    pairs = scored.select("src_id", "nbr_id", F.round(F.col("dot"), 6).alias("score"))
    w = Window.partitionBy("src_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_GRAPH_K)
        .select("src_id", "nbr_id", "score", "rank")
    )


def knn_graph_lsh_planes(
    spark: SparkSession, sf_dir: str, planes: list[list[float]] | None = None
) -> DataFrame:
    """G8 with a parameterized plane set — the documented scale lever
    (more planes → smaller buckets → Σ|bucket|² bounded as the corpus
    grows). The registry query is the fixed-parity 8-plane instance; the
    sf10 bench times this variant at 8 AND 12 planes with measured
    candidate counts so the lever is a recorded number.

    r13: the per-pair scoring moved from the interpreted 64-dim fold to
    the cogrouped Arrow kernel (see _knn_cogroup_score) — interleaved
    sf10 A/B 37.1 s → 12.3 s on the adaptive config, output verified
    identical (the kernel reproduces the fold's summation order
    bit-for-bit, so the frozen-parity oracle twin is unchanged)."""
    base = _base(spark, sf_dir).withColumn("bucket", _bucket_spark(F.col("e"), planes))
    lhs = base.select(
        F.col("vec_id").alias("src_id"), F.col("e").alias("se"), "bucket"
    )
    rhs = base.select(F.col("vec_id").alias("nbr_id"), F.col("e").alias("ne"), "bucket")
    return _knn_topk_from_buckets(lhs, rhs)


def knn_graph_lsh_planes_fold(
    spark: SparkSession, sf_dir: str, planes: list[list[float]] | None = None
) -> DataFrame:
    """The pre-r13 join+fold formulation, kept as the equivalence
    reference for tests/test_knn_arrow_kernel.py (NOT a registry path)."""
    base = _base(spark, sf_dir).withColumn("bucket", _bucket_spark(F.col("e"), planes))
    lhs = base.select(
        F.col("vec_id").alias("src_id"), F.col("e").alias("se"), "bucket"
    )
    rhs = base.select(F.col("vec_id").alias("nbr_id"), F.col("e").alias("ne"), "bucket")
    pairs = lhs.join(rhs, "bucket").filter(F.col("src_id") != F.col("nbr_id")).select(
        "src_id",
        "nbr_id",
        F.round(dot_fold(F.col("se"), F.col("ne")), 6).alias("score"),
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_GRAPH_K)
        .select("src_id", "nbr_id", "score", "rank")
    )


def knn_planes(n_planes: int) -> list[list[float]]:
    """First ``n_planes`` deterministic md5-seeded hyperplanes (table 0 —
    the first N_PLANES are exactly the parity planes)."""
    return [_plane(p) for p in range(n_planes)]


#: target mean bucket occupancy for the adaptive plane count. 64 keeps the
#: in-bucket verify work per row O(target·dim) and reproduces the two
#: measured anchors: the parity 8 planes at the small SFs (≤ ~16k vectors)
#: and the bench-measured scale-correct 12 planes at the sf10 corpus
#: (200k vectors → 13.5× fewer candidate pairs / 13.3× less wall-clock
#: than the fixed 8-plane config, BENCH_r10 sf10.knn_plane_lever).
TARGET_BUCKET_SIZE = 64

#: bucket keys are int bitmasks (1 << p); 30 planes = the last shift that
#: stays positive in int32 — and 2^30 buckets ≈ one bucket per vector at
#: any corpus this engine meets before the key would move to bigint.
MAX_PLANES = 30


def adaptive_n_planes(n_rows: int, target_bucket_size: int = TARGET_BUCKET_SIZE) -> int:
    """Corpus-adaptive sign-LSH plane count (VERDICT r10 task 1): enough
    planes that the MEAN bucket holds ~``target_bucket_size`` vectors —
    ``ceil(log2(n / target))`` — floored at the N_PLANES parity default
    (small corpora keep the frozen-parity buckets exactly) and capped at
    MAX_PLANES. The fixed 8-plane default is scale-WRONG by the repo's own
    measurement: 256 buckets over the 100× sf10 corpus put 187.7M ordered
    pairs through the candidate join (~quadratic), vs 13.9M at the 12
    planes this formula picks for that corpus."""
    if n_rows <= 0:
        return N_PLANES
    return max(N_PLANES, min(MAX_PLANES, math.ceil(math.log2(max(1.0, n_rows / target_bucket_size)))))


def corpus_adaptive_planes(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The adaptive plane set for a corpus: one cheap count aggregate
    (parquet row-group metadata — no column read) → deterministic planes.
    A deployment with a stats manifest passes the known count straight to
    ``adaptive_n_planes`` and skips even that."""
    n = load_tables(spark, sf_dir, ["embeddings"])["embeddings"].count()
    return knn_planes(adaptive_n_planes(n))


def knn_graph_lsh_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8, the LIBRARY DEFAULT entry point: k-NN graph with the plane
    count derived from the corpus (adaptive_n_planes) — so Σ|bucket|²
    stays bounded as the corpus grows — AND, from round 12, the recall
    compensation the added planes require: adaptive_probe_budget
    query-directed Hamming-1 probes per vertex (one per plane past the
    parity floor), which held the sf10 recall gauge at the 8-plane floor
    (7/50 vs the bare adaptive 3/50) at 36% of the 8-plane candidate cost
    (BENCH_r12 knn_plane_lever; the bare adaptive config was 7.4% of that
    cost but HALF the recall — the r11 verdict's 'cheaper and blinder'
    gap this closes). The ``knn_graph_lsh`` registry entry remains the
    FROZEN 8-plane parity twin (static oracle SQL cannot count the
    corpus); at the small gate SFs the adaptive default produces an
    identical graph because the formula floors at the parity count where
    the probe budget is zero."""
    planes = corpus_adaptive_planes(spark, sf_dir)
    return knn_graph_lsh_probed(
        spark, sf_dir, planes=planes, n_probes=adaptive_probe_budget(len(planes))
    )


def knn_candidate_stats(
    spark: SparkSession, sf_dir: str, planes: list[list[float]] | None = None
) -> dict:
    """G8 scale instrumentation (VERDICT r09 task 1): bucket-count /
    max-bucket / candidate-pair terms of the bucket equi-self-join. The
    join emits ORDERED pairs (src ≠ nbr), so cand_pairs = Σ n·(n−1) — the
    exact cosine-fold count the candidate stage pays. NOT timed."""
    base = _base(spark, sf_dir).withColumn("bucket", _bucket_spark(F.col("e"), planes))
    n = F.col("n")
    row = (
        base.groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .agg(
            F.count("*").alias("buckets"),
            F.max(n).alias("max_bucket"),
            F.sum((n * (n - F.lit(1))).cast("long")).alias("pairs"),
            F.sum(n).alias("rows"),
        )
        .first()
    )
    return {
        "rows": int(row["rows"] or 0),
        "buckets": int(row["buckets"] or 0),
        "max_bucket": int(row["max_bucket"] or 0),
        "cand_pairs": int(row["pairs"] or 0),
        "n_planes": len(planes) if planes is not None else N_PLANES,
    }


def _knn_graph_sql() -> str:
    return f"""
WITH {_BASE_SQL},
bbase AS (SELECT vec_id, e, {_bucket_sql('e')} AS bucket FROM base),
scored AS (
  SELECT l.vec_id AS src_id, r.vec_id AS nbr_id,
         round({_cos_sql('l.e', 'r.e')}, 6) AS score
  FROM bbase l JOIN bbase r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
)
SELECT src_id, nbr_id, score, rank FROM (
  SELECT src_id, nbr_id, score,
         row_number() OVER (PARTITION BY src_id ORDER BY score DESC, nbr_id ASC) AS rank
  FROM scored
) WHERE rank <= {KNN_GRAPH_K}
"""


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 — multi-probe sign-LSH: each query probes its own bucket AND
    every bucket at Hamming distance 1 (flip one of the 8 sign bits) —
    the standard recall repair for single-table LSH (Lv et al., VLDB'07)
    at 9× the candidate cost instead of 2⁸× for more planes or tables.
    Motivated by G10's measurement on this corpus: single-bucket recall@5
    is ~4% and distance-1 probing doubles it (measured 8% at sf0.01) —
    still low in absolute terms because the synthetic embeddings are
    near-random (near-orthogonal in 64-d, so sign agreement is close to
    chance); on clustered real embeddings the same lever is the standard
    recall repair, and G10 is the gauge that tunes it.

    Scale: probe buckets are generated per query (|queries| · (P+1) rows,
    broadcast); candidate generation stays a bucket equi-join against the
    corpus — same plan shape as G2, wider probe dim. Registry entry = the
    frozen 8-plane parity twin; ``ann_lsh_multiprobe_adaptive`` derives
    the plane count from the corpus."""
    return ann_lsh_topk_probed(spark, sf_dir, PLANES, n_probes=N_PLANES)


def ann_lsh_multiprobe_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 library default: plane count derived from the corpus (see
    ``adaptive_n_planes``), every Hamming-1 bucket probed."""
    planes = corpus_adaptive_planes(spark, sf_dir)
    return ann_lsh_topk_probed(spark, sf_dir, planes, n_probes=len(planes))


def lsh_recall_planes(
    spark: SparkSession, sf_dir: str, planes: list[list[float]] | None = None
) -> dict:
    """Measured recall@k of single-table sign-LSH at a given plane set vs
    the exact G1 baseline — the G10 gauge, parameterized, so the recall
    COST of the adaptive plane count is recorded next to its candidate
    savings (VERDICT r10 task 1: more planes = smaller buckets = fewer
    candidates, but also fewer true neighbors sharing the query's bucket).
    Returns exact integers: Σ hits over Σ k across the query set."""
    out = lsh_recall_probed(spark, sf_dir, planes, 0)
    del out["n_probes"]
    return out


# ── query-directed probing (Lv et al., VLDB'07) — the adaptive default's
# recall compensation (VERDICT r11 task 1) ──────────────────────────────────
#
# The corpus-adaptive plane count (adaptive_n_planes) bounds Σ|bucket|² as
# the corpus grows, but each plane past the parity floor multiplies the
# single-bucket collision probability by the per-plane sign-agreement rate
# (<1): BENCH_r11 measured the recall@k gauge dropping 14% → 6% when the
# sf10 corpus moved 8 → 12 planes. Probing ALL Hamming-1 buckets (G11)
# repairs recall but costs (1+m)× the bare candidate term — at 12 planes
# that cancels most of the candidate savings the planes bought. The
# query-directed repair probes ONLY the flips most likely to hold missed
# neighbors: a near neighbor that lands one bucket away almost always
# differs on a plane whose dot product with the query is SMALL (the vector
# sits near that boundary), so flipping the n_probes smallest-|dot| bits
# buys most of Hamming-1's recall at a fraction of its probes. Everything
# is a column expression over the per-plane dots the bucket key already
# computes — no Python, no extra scan; the probe side explodes to
# (1+n_probes) keys per row and the candidate join stays a bucket
# equi-join, so cost is ≤ (1+n_probes)× the bare term at any scale.


def adaptive_probe_budget(n_planes: int) -> int:
    """Probe count paired with the adaptive plane count: zero at the
    parity floor (small corpora keep the frozen 8-plane buckets and plans
    byte-identical), else one query-directed Hamming-1 probe per plane the
    formula added past the floor. Measured on the sf10 bench corpus
    (BENCH_r12 knn_plane_lever): at 12 planes the 4-probe default holds
    the recall gauge at-or-above the 8-plane single-bucket floor while the
    candidate term stays ~(1+probes)/13.5 ≈ 37% of the 8-plane cost."""
    return max(0, n_planes - N_PLANES)


def _plane_dots(e, planes: list[list[float]]):
    """array<double> of the per-plane dots — ONE O(planes·dim) fold pass."""
    return F.array(*[dot_fold(e, F.array(*[F.lit(float(x)) for x in p])) for p in planes])


def _bucket_from_dots(ds, n_planes: int):
    """Sign-bucket key from a MATERIALIZED dots array (cheap element_at
    references — the folds are paid once wherever `ds` was computed)."""
    bucket = None
    for p in range(n_planes):
        d = F.element_at(ds, p + 1)
        term = F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("int")


def _margins_from_dots(ds, n_planes: int):
    """(|dot|, bit) structs sorted ascending — least-confident plane first,
    plane index breaking exact ties (struct ordering is field-by-field)."""
    return F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(F.element_at(ds, p + 1)).alias("m"),
                    F.lit(1 << p).alias("bit"),
                )
                for p in range(n_planes)
            ]
        )
    )


def _keys_from(bucket, margins, n_probes: int):
    """Probe-key array from MATERIALIZED bucket/margins COLUMNS. The
    transform lambda references `bucket` once per probe element — that is
    only safe when `bucket` is an attribute; an inline bucket EXPRESSION
    here re-evaluates its 12 interpreted plane folds per element (the r13
    REST profile measured the old inline form at ~6 fold-passes per row:
    ~180 exec-s of the probed lhs stage at sf10)."""
    if n_probes <= 0:
        return F.array(bucket)
    probes = F.transform(
        F.slice(margins, 1, n_probes), lambda s: bucket.bitwiseXOR(s["bit"])
    )
    return F.concat(F.array(bucket), probes)


def _keys_with_probes(e, planes: list[list[float]], n_probes: int):
    """array<int> of 1 + n_probes bucket keys for a vector: its own key
    plus the keys with the n_probes least-confident sign bits flipped
    (smallest |dot| first; plane index breaks exact ties).

    NOTE: as one inline expression this evaluates the plane dots several
    times (bucket + margins + per-probe lambda) — fine for the stats
    instrumentation it is applied to. The corpus-sized
    knn_graph_lsh_probed lhs instead materializes dots/bucket/margins as
    columns below the explode (see there)."""
    ds = _plane_dots(e, planes)
    bucket = _bucket_from_dots(ds, len(planes))
    if n_probes <= 0:
        return F.array(bucket)
    margins = _margins_from_dots(ds, len(planes))
    return _keys_from(bucket, margins, n_probes)


def _probe_flips(e, planes: list[list[float]], n_probes: int):
    """XOR masks of the buckets a query vector ``e`` probes: 0 (its own
    bucket), then the bits of its n_probes least-confident planes
    (smallest |dot| first, the ``_keys_with_probes`` order) — or, once
    n_probes covers every plane, all bits as literals: the whole Hamming-1
    ball needs no margins. The masks are distinct."""
    if n_probes >= len(planes):
        return F.array(*([F.lit(0)] + [F.lit(1 << p) for p in range(len(planes))]))
    margins = _margins_from_dots(_plane_dots(e, planes), len(planes))
    return F.concat(
        F.array(F.lit(0)), F.transform(F.slice(margins, 1, n_probes), lambda s: s["bit"])
    )


def knn_graph_lsh_probed(
    spark: SparkSession,
    sf_dir: str,
    planes: list[list[float]] | None = None,
    n_probes: int = 0,
) -> DataFrame:
    """G8 with query-directed probing: every vertex's candidate set is the
    union of its own bucket and its n_probes least-confident Hamming-1
    buckets. Probe keys per src are distinct, so a neighbor matches at
    most once — no pair dedup stage, and the per-vertex top-k window is
    unchanged. n_probes=0 is byte-identical to knn_graph_lsh_planes."""
    plist = PLANES if planes is None else planes
    if n_probes <= 0:
        return knn_graph_lsh_planes(spark, sf_dir, plist)
    base = _base(spark, sf_dir)
    # r13 (REST-profiled): dots → (bucket, margins) → keys are built over
    # THREE projections so each row pays the 12 interpreted plane folds
    # exactly ONCE. The old single-expression form re-evaluated the bucket
    # (all 12 folds) inside the per-probe transform lambda and again in
    # the margins — ~6 fold-passes per row, 180 exec-s of this stage at
    # sf10, the largest cost left after the Arrow scoring kernel.
    # CollapseProject cannot re-inline the fold array: it is an expensive
    # alias referenced more than once (SPARK-36718), and the explode is a
    # Generate, which no rule collapses a Project into.
    from australian_company_etl_spark.operators.cache import persist_tracked

    # r13 second pass (interleaved sf10 A/B 6.45 → 5.29 s): the normalized
    # vectors + plane dots are computed ONCE and persisted; lhs (probe
    # keys) and rhs (own bucket) both derive from the cached frame instead
    # of each re-running the scan + normalize + 12-fold pass. ~130 MB
    # cached at the sf10 tier, released at the next query start
    # (persist_tracked). Small corpora never reach this path (the adaptive
    # default floors to the probe-free planes twin below the threshold).
    pre = persist_tracked(
        base.select("vec_id", "e", _plane_dots(F.col("e"), plist).alias("ds"))
    )
    keyed = pre.select(
        "vec_id",
        "e",
        _bucket_from_dots(F.col("ds"), len(plist)).alias("b0"),
        _margins_from_dots(F.col("ds"), len(plist)).alias("mg"),
    )
    lhs = keyed.select(
        F.col("vec_id").alias("src_id"),
        F.col("e").alias("se"),
        F.explode(_keys_from(F.col("b0"), F.col("mg"), n_probes)).alias("bucket"),
    )
    rhs = keyed.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("e").alias("ne"),
        F.col("b0").alias("bucket"),
    )
    return _knn_topk_from_buckets(lhs, rhs)


def knn_candidate_stats_probed(
    spark: SparkSession,
    sf_dir: str,
    planes: list[list[float]] | None = None,
    n_probes: int = 0,
) -> dict:
    """Candidate-pair term of the probed graph join — Σ over (src, key) of
    |bucket(key)| minus the self matches (each src meets itself exactly
    once, through its own key). n_probes=0 reproduces knn_candidate_stats'
    Σ n·(n−1). NOT timed; the count IS the scale claim."""
    plist = PLANES if planes is None else planes
    base = _base(spark, sf_dir)
    sizes = (
        base.select(_bucket_spark(F.col("e"), plist).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )
    probe_rows = base.select(
        F.explode(_keys_with_probes(F.col("e"), plist, n_probes)).alias("bucket")
    )
    row = (
        probe_rows.join(sizes, "bucket")
        .agg(F.sum("n").cast("long").alias("matches"))
        .first()
    )
    n_rows = base.count()
    return {
        "rows": int(n_rows),
        "cand_pairs": int(row["matches"] or 0) - n_rows,
        "n_planes": len(plist),
        "n_probes": int(max(0, n_probes)),
    }


def lsh_recall_probed(
    spark: SparkSession,
    sf_dir: str,
    planes: list[list[float]] | None = None,
    n_probes: int = 0,
) -> dict:
    """The G10 recall gauge for a (planes, probes) config — exact-integer
    recall@k of the probed query path vs the brute baseline."""
    brute = ann_brute_topk(spark, sf_dir).select("q_id", "n_id")
    approx = ann_lsh_topk_probed(spark, sf_dir, planes, n_probes).select("q_id", "n_id")
    hits = brute.join(approx, ["q_id", "n_id"]).count()
    total = brute.count()
    return {
        "n_planes": len(planes) if planes is not None else N_PLANES,
        "n_probes": int(max(0, n_probes)),
        "hits": int(hits),
        "total": int(total),
        "recall_pct": round(100.0 * hits / total, 1) if total else 0.0,
    }


def _lsh_multiprobe_sql() -> str:
    flips = ", ".join(["(0)"] + [f"({1 << p})" for p in range(N_PLANES)])
    return f"""
WITH {_BASE_SQL},
bbase AS (SELECT vec_id, e, {_bucket_sql('e')} AS bucket FROM base),
q AS (SELECT vec_id AS q_id, e AS qe, bucket AS qb FROM bbase WHERE vec_id < {N_QUERIES}),
flips(flip) AS (VALUES {flips}),
probes AS (SELECT q_id, qe, xor(qb, flip) AS pb FROM q, flips),
scored AS (
  SELECT DISTINCT p.q_id, bbase.vec_id AS n_id,
         round({_cos_sql('p.qe', 'bbase.e')}, 6) AS score
  FROM bbase JOIN probes p ON bbase.bucket = p.pb AND bbase.vec_id <> p.q_id
)
{_TOPK_SQL_TAIL}
"""


def ann_lsh_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-TABLE OR'd sign-LSH (the classic L-tables construction,
    Indyk-Motwani / Gionis et al. VLDB'99): three independent 8-plane
    tables, each query's candidates = the UNION over tables of its bucket
    mates, deduped by pair, then exact-rescored top-k. Recall of L OR'd
    tables is 1−(1−r)^L for single-table recall r — the lever G8's
    docstring promises for graphs and G10 now measures on this corpus:
    8% vs single-table's 4% at sf0.01 (1−0.96³ ≈ 0.12 predicted on iid
    buckets; near-random synthetics correlate), the same uplift Hamming-1
    multiprobe reaches — from 3× candidate cost instead of multiprobe's
    9× probes.

    Not a separate registry key (registry frozen in round 4); measured as
    the `lsh_mt3` method inside `ann_recall_report`.

    Scale: bucket columns for all L tables come from ONE corpus pass
    (independent column expressions, no extra scan); candidate generation
    is L bucket equi-joins against broadcast queries, unioned then
    pair-deduped — cost L·Σ|bucket|², never N², and each join keeps the
    same shape AQE handles for G2."""
    base = _base(spark, sf_dir)
    for t in range(N_TABLES):
        base = base.withColumn(f"b{t}", _bucket_spark(F.col("e"), PLANE_TABLES[t]))
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        *[F.col(f"b{t}").alias(f"qb{t}") for t in range(N_TABLES)],
    )
    pairs = None
    for t in range(N_TABLES):
        qt = q.select("q_id", "qe", F.col(f"qb{t}").alias("qb"))
        c = _rescore(
            base.join(
                F.broadcast(qt),
                (F.col(f"b{t}") == F.col("qb")) & (F.col("vec_id") != F.col("q_id")),
            )
        )
        pairs = c if pairs is None else pairs.unionByName(c)
    # same pair scores identically in every table → row-level distinct IS
    # the pair dedup
    return _topk(pairs.distinct())


def _lsh_multitable_sql() -> str:
    branches = []
    for t in range(N_TABLES):
        branches.append(f"""
  SELECT q.q_id, bb{t}.vec_id AS n_id,
         round({_cos_sql('q.qe', f'bb{t}.e')}, 6) AS score
  FROM bbase{t} bb{t}
  JOIN qt{t} q ON bb{t}.bucket = q.qb AND bb{t}.vec_id <> q.q_id""")
    tables = ",\n".join(
        f"bbase{t} AS (SELECT vec_id, e, {_bucket_sql('e', PLANE_TABLES[t])} AS bucket FROM base),\n"
        f"qt{t} AS (SELECT vec_id AS q_id, e AS qe, bucket AS qb FROM bbase{t} WHERE vec_id < {N_QUERIES})"
        for t in range(N_TABLES)
    )
    union = "\n  UNION\n".join(branches)  # UNION (not ALL) = pair dedup
    return f"""
WITH {_BASE_SQL},
{tables},
scored AS (
{union}
)
{_TOPK_SQL_TAIL}
"""


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 — measured recall of the approximate ANN paths: per query, how
    many of G1's exact top-k survive in each approximate path's top-k —
    single-table LSH (G2), Hamming-1 multiprobe (G11), 3-table OR'd LSH
    (lsh_mt3), and IVF (G3) — recall@k as exact integers. The
    self-evaluation every approximate index needs shipped next to it: the
    docs CLAIM the LSH/IVF candidate pruning keeps quality; this operator
    measures it on the actual corpus (the number an index-tuning loop
    watches as planes/probes/tables change). Measured at sf0.01: lsh 4%,
    lsh_multiprobe 8%, lsh_mt3 8%, ivf 46%.

    Scale: composes the three existing plans; the per-query hit count is
    an equi-join of two k-row-per-query frames — O(queries · k), trivial
    next to the searches themselves."""
    brute = ann_brute_topk(spark, sf_dir).select("q_id", "n_id")
    out = None
    for method, fn in (
        ("lsh", ann_lsh_topk),
        ("lsh_multiprobe", ann_lsh_multiprobe),
        ("lsh_mt3", ann_lsh_multitable_topk),
        ("ivf", ann_ivf_topk),
    ):
        approx = fn(spark, sf_dir).select("q_id", "n_id")
        hits = (
            brute.join(approx, ["q_id", "n_id"])
            .groupBy("q_id")
            .agg(F.count("*").alias("n_hit"))
        )
        rep = (
            brute.groupBy("q_id")
            .agg(F.count("*").alias("k"))
            .join(hits, "q_id", "left")
            .select(
                "q_id",
                F.lit(method).alias("method"),
                F.coalesce("n_hit", F.lit(0)).cast("int").alias("n_hit"),
                F.expr("CAST(100 * coalesce(n_hit, 0) div k AS INT)").alias(
                    "recall_pct"
                ),
            )
        )
        out = rep if out is None else out.unionByName(rep)
    return out


def _recall_sql() -> str:
    return f"""
WITH brute AS ({BRUTE_SQL}),
lshq AS ({_lsh_sql()}),
mpq AS ({_lsh_multiprobe_sql()}),
mtq AS ({_lsh_multitable_sql()}),
ivfq AS ({_ivf_sql()}),
k_per AS (SELECT q_id, count(*) AS k FROM brute GROUP BY 1),
lsh_hits AS (
  SELECT b.q_id, count(*) AS n_hit
  FROM brute b JOIN lshq a ON b.q_id = a.q_id AND b.n_id = a.n_id
  GROUP BY 1
),
mp_hits AS (
  SELECT b.q_id, count(*) AS n_hit
  FROM brute b JOIN mpq a ON b.q_id = a.q_id AND b.n_id = a.n_id
  GROUP BY 1
),
mt_hits AS (
  SELECT b.q_id, count(*) AS n_hit
  FROM brute b JOIN mtq a ON b.q_id = a.q_id AND b.n_id = a.n_id
  GROUP BY 1
),
ivf_hits AS (
  SELECT b.q_id, count(*) AS n_hit
  FROM brute b JOIN ivfq a ON b.q_id = a.q_id AND b.n_id = a.n_id
  GROUP BY 1
)
SELECT k.q_id, 'lsh' AS method, coalesce(h.n_hit, 0)::INT AS n_hit,
       CAST(100 * coalesce(h.n_hit, 0) // k.k AS INT) AS recall_pct
FROM k_per k LEFT JOIN lsh_hits h ON k.q_id = h.q_id
UNION ALL
SELECT k.q_id, 'lsh_multiprobe', coalesce(h.n_hit, 0)::INT,
       CAST(100 * coalesce(h.n_hit, 0) // k.k AS INT)
FROM k_per k LEFT JOIN mp_hits h ON k.q_id = h.q_id
UNION ALL
SELECT k.q_id, 'lsh_mt3', coalesce(h.n_hit, 0)::INT,
       CAST(100 * coalesce(h.n_hit, 0) // k.k AS INT)
FROM k_per k LEFT JOIN mt_hits h ON k.q_id = h.q_id
UNION ALL
SELECT k.q_id, 'ivf', coalesce(h.n_hit, 0)::INT,
       CAST(100 * coalesce(h.n_hit, 0) // k.k AS INT)
FROM k_per k LEFT JOIN ivf_hits h ON k.q_id = h.q_id
"""


QUERIES = {
    "ann_brute_topk": ann_brute_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "cluster_kmeans_embed": cluster_kmeans_embed,
    "ann_pq_topk": ann_pq_topk,
    "dedup_semantic_kmeans": dedup_semantic_kmeans,
    "embed_random_projection": embed_random_projection,
    "knn_graph_lsh": knn_graph_lsh,
    "embed_top_eigenvector": embed_top_eigenvector,
    "ann_recall_report": ann_recall_report,
    "ann_lsh_multiprobe": ann_lsh_multiprobe,
}

ORACLES = {
    "ann_brute_topk": BRUTE_SQL,
    "ann_lsh_topk": _lsh_sql(),
    "ann_ivf_topk": _ivf_sql(),
    "cluster_kmeans_embed": _kmeans_sql(),
    "ann_pq_topk": _pq_sql(),
    "dedup_semantic_kmeans": _semantic_sql(),
    "embed_random_projection": _rp_sql(),
    "knn_graph_lsh": _knn_graph_sql(),
    "ann_recall_report": _recall_sql(),
    "ann_lsh_multiprobe": _lsh_multiprobe_sql(),
}
