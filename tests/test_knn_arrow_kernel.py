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
