"""r13 knn-graph Arrow kernel — equivalence pins.

The knn-graph candidate scoring moved from the interpreted per-pair
zip_with/aggregate fold to a cogrouped Arrow kernel (similarity.py
`_knn_cogroup_score` / vectors.py `seq_dot_cross`). The whole point of the
kernel is that its floating-point accumulation ORDER is the fold's, so the
output (and the frozen-parity oracle twin) is unchanged bit-for-bit. These
tests pin that claim:

1. numpy-kernel vs pure-Python fold, element-exact on adversarial doubles;
2. full-plan equivalence vs the retained fold formulation on the gate SF;
3. a crafted corpus exercising the edge cases the gate data lacks —
   zero-norm (NULL-normalized) vectors sharing a bucket with real ones,
   exact-duplicate vectors (rounded-score ties broken by nbr_id), and a
   bucket with a single vector (no pairs);
4. the probed (adaptive) variant against a probe-free union construction.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x * y)
    return acc


def test_seq_dot_cross_is_bit_identical_to_the_fold():
    from australian_company_etl_spark.functions.vectors import (
        seq_dot_cross,
        seq_dot_rows,
    )

    rng = np.random.default_rng(13)
    A = rng.standard_normal((37, 64)) * rng.choice([1e-30, 1.0, 1e30], size=(37, 64))
    B = rng.standard_normal((23, 64)) * rng.choice([1e-30, 1.0, 1e30], size=(23, 64))
    S = seq_dot_cross(A, B)
    for i in (0, 5, 36):
        for j in (0, 7, 22):
            expect = _fold_dot(A[i], B[j])
            got = S[i, j]
            assert (got == expect) or (math.isnan(got) and math.isnan(expect))
    R = seq_dot_rows(A[:23], B)
    for i in (0, 11, 22):
        expect = _fold_dot(A[i], B[i])
        assert R[i] == expect


def test_knn_graph_arrow_equals_fold_on_gate_sf(spark, sf_dir):
    from australian_company_etl_spark.plans.similarity import (
        knn_graph_lsh,
        knn_graph_lsh_planes_fold,
    )

    exp = sorted(tuple(r) for r in knn_graph_lsh_planes_fold(spark, sf_dir).collect())
    got = sorted(tuple(r) for r in knn_graph_lsh(spark, sf_dir).collect())
    assert got == exp and len(exp) > 0


@pytest.fixture(scope="module")
def crafted_dir(spark, tmp_path_factory):
    """Corpus with: a zero vector (normalizes to NULL), two exact
    duplicates (tie on rounded score), a near-singleton bucket, and
    ordinary vectors."""
    d = tmp_path_factory.mktemp("knn_crafted")
    rows = []
    rng = np.random.default_rng(7)
    for vid in range(40):
        v = rng.standard_normal(64).tolist()
        rows.append((vid, f"l{vid % 3}", v))
    rows.append((40, "dup", rows[4][2]))  # exact duplicate of vec 4
    rows.append((41, "dup", rows[4][2]))  # second duplicate → 3-way tie
    rows.append((42, "zero", [0.0] * 64))  # zero-norm → NULL normalized
    rows.append((43, "zero", [0.0] * 64))  # two NULLs can pair up
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_knn_graph_arrow_equals_fold_on_crafted_corpus(spark, crafted_dir):
    from australian_company_etl_spark.plans.similarity import (
        knn_graph_lsh_planes,
        knn_graph_lsh_planes_fold,
        knn_planes,
    )

    for n_planes in (2, 8):  # 2 planes → big mixed buckets incl. the NULLs
        pl = knn_planes(n_planes)
        exp = sorted(
            tuple(r) for r in knn_graph_lsh_planes_fold(spark, crafted_dir, pl).collect()
        )
        got = sorted(
            tuple(r) for r in knn_graph_lsh_planes(spark, crafted_dir, pl).collect()
        )
        assert got == exp and len(exp) > 0
    # NULL-scored edges exist (zero vectors pair inside bucket 0) and are
    # ranked after every real score — presence pins the None-not-NaN rule
    rows = knn_graph_lsh_planes(spark, crafted_dir, knn_planes(2)).collect()
    null_scores = [r for r in rows if r["score"] is None]
    assert null_scores, "crafted corpus should produce NULL-score edges"


def _canon(rows) -> list[tuple]:
    """Rows with every NaN score spelled "nan" (NaN != NaN), sorted."""
    return sorted(
        tuple("nan" if isinstance(x, float) and math.isnan(x) else x for x in r)
        for r in rows
    )


@pytest.fixture(scope="module")
def nonfinite_dir(spark, tmp_path_factory):
    """Corpus with a NaN-component and an inf-component embedding (both
    normalize to a vector holding NaN, so every dot with them is NaN and
    Spark ranks it above every real score), a zero vector (normalizes to
    NULL) and ordinary vectors."""
    d = tmp_path_factory.mktemp("knn_nonfinite")
    rng = np.random.default_rng(11)
    rows = [(vid, "l", rng.standard_normal(64).tolist()) for vid in range(40)]
    rows.append((40, "nan", [float("nan")] + [1.0] * 63))
    rows.append((41, "inf", [float("inf")] + [1.0] * 63))
    rows.append((42, "zero", [0.0] * 64))
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_knn_graph_arrow_equals_fold_on_nonfinite_vectors(spark, nonfinite_dir):
    """The kernel must rank NaN scores as the fold does: a NaN neighbour
    first for every vertex of its bucket, and a NaN vertex keeping its
    K NaN neighbours. Before, the per-bucket prune dropped NaN scores
    (a NaN kth kept nothing) and Arrow turned the rest into NULL."""
    from australian_company_etl_spark.plans.similarity import (
        knn_graph_lsh_planes,
        knn_graph_lsh_planes_fold,
        knn_planes,
    )

    for n_planes in (2, 8):
        pl = knn_planes(n_planes)
        exp = _canon(knn_graph_lsh_planes_fold(spark, nonfinite_dir, pl).collect())
        got = _canon(knn_graph_lsh_planes(spark, nonfinite_dir, pl).collect())
        assert got == exp
        assert [r for r in exp if r[2] == "nan"], "corpus should produce NaN edges"
        assert {r[0] for r in exp} >= {40, 41}


def test_knn_kernel_keeps_nan_apart_from_null_in_a_mixed_bucket():
    """With a NULL vector in the bucket (the path that does not prune) a
    NaN dot stays NaN and only pairs with the NULL vector are NULL."""
    import pandas as pd

    from australian_company_etl_spark.plans.similarity import _knn_cogroup_score

    vecs = {1: [1.0, 0.0], 2: [0.6, 0.8], 3: [float("nan"), 0.0], 4: None}
    ldf = pd.DataFrame({"src_id": list(vecs), "se": list(vecs.values())})
    rdf = pd.DataFrame({"nbr_id": list(vecs), "ne": list(vecs.values())})
    out = _knn_cogroup_score(None, ldf, rdf)
    dot = {(s, n): d for s, n, d in zip(out["src_id"], out["nbr_id"], out["dot"])}
    assert len(dot) == 12  # every ordered pair but the self-pairs
    for (s, n), d in dot.items():
        if 4 in (s, n):
            assert d is pd.NA
        elif 3 in (s, n):
            assert math.isnan(d)
        else:
            assert d == 0.6


def test_knn_graph_probed_arrow_equals_union_of_probe_buckets(spark, sf_dir):
    """The probed variant must equal scoring each vertex against the UNION
    of its own and probe buckets — built here from the fold formulation's
    building blocks, independent of the Arrow path."""
    from australian_company_etl_spark.functions.vectors import dot_fold
    from australian_company_etl_spark.plans.similarity import (
        KNN_GRAPH_K,
        _base,
        _bucket_spark,
        _keys_with_probes,
        knn_graph_lsh_probed,
        knn_planes,
    )
    from pyspark.sql import Window

    pl = knn_planes(10)
    base = _base(spark, sf_dir)
    lhs = base.select(
        F.col("vec_id").alias("src_id"),
        F.col("e").alias("se"),
        F.explode(_keys_with_probes(F.col("e"), pl, 2)).alias("bucket"),
    )
    rhs = base.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("e").alias("ne"),
        _bucket_spark(F.col("e"), pl).alias("bucket"),
    )
    pairs = lhs.join(rhs, "bucket").filter(F.col("src_id") != F.col("nbr_id")).select(
        "src_id",
        "nbr_id",
        F.round(dot_fold(F.col("se"), F.col("ne")), 6).alias("score"),
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    exp = sorted(
        tuple(r)
        for r in pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_GRAPH_K)
        .select("src_id", "nbr_id", "score", "rank")
        .collect()
    )
    got = sorted(
        tuple(r) for r in knn_graph_lsh_probed(spark, sf_dir, pl, 2).collect()
    )
    assert got == exp and len(exp) > 0
