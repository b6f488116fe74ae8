"""Round-12 pins: the query-directed probe budget that compensates the
adaptive plane count's recall cost (VERDICT r11 task 1).

The adaptive LSH default (G2/G8) pairs ``adaptive_n_planes`` with
``adaptive_probe_budget`` Hamming-1 probes chosen by smallest |dot| margin
(Lv et al. query-directed multiprobe). These tests pin the budget formula,
the zero-probe identity with the bare plans, probe-key structure, and the
monotone recall/cost behavior the sf10 bench measures at scale."""

from __future__ import annotations

import pytest

from australian_company_etl_spark.plans.similarity import (
    N_PLANES,
    adaptive_probe_budget,
    knn_candidate_stats,
    knn_candidate_stats_probed,
    knn_graph_lsh_planes,
    knn_graph_lsh_probed,
    knn_planes,
    lsh_recall_probed,
)


# ── the budget formula (pure arithmetic — pin it exactly) ───────────────────


def test_budget_is_zero_at_the_parity_floor():
    # small corpora keep the frozen 8-plane single-bucket plan exactly
    assert adaptive_probe_budget(N_PLANES) == 0
    assert adaptive_probe_budget(4) == 0  # below the floor still zero


def test_budget_is_one_probe_per_added_plane():
    assert adaptive_probe_budget(9) == 1
    assert adaptive_probe_budget(12) == 4  # the sf10 anchor config
    assert adaptive_probe_budget(30) == 22


# ── zero probes ≡ the bare plan (the parity-twin identity) ──────────────────


def test_probed_graph_with_zero_probes_equals_bare(spark, sf_dir):
    bare = knn_graph_lsh_planes(spark, sf_dir, knn_planes(10))
    probed = knn_graph_lsh_probed(spark, sf_dir, knn_planes(10), 0)
    assert sorted(map(tuple, bare.collect())) == sorted(map(tuple, probed.collect()))


def test_probed_stats_with_zero_probes_match_bare_stats(spark, sf_dir):
    s = knn_candidate_stats(spark, sf_dir, knn_planes(10))
    sp = knn_candidate_stats_probed(spark, sf_dir, knn_planes(10), 0)
    assert sp["cand_pairs"] == s["cand_pairs"]
    assert sp["rows"] == s["rows"]
    assert sp["n_probes"] == 0


# ── probe keys: distinct, own-bucket first, Hamming distance exactly 1 ──────


def test_probe_keys_structure(spark, sf_dir):
    from pyspark.sql import functions as F

    from australian_company_etl_spark.plans.similarity import (
        _base,
        _bucket_spark,
        _keys_with_probes,
        _probe_flips,
    )

    planes = knn_planes(10)
    # 3 = query-directed probes; len(planes) = the whole Hamming-1 ball, the
    # identity that makes G11 multiprobe the probed path with every plane
    for n_probes in (3, len(planes)):
        rows = (
            _base(spark, sf_dir)
            .select(
                _bucket_spark(F.col("e"), planes).alias("bucket"),
                _keys_with_probes(F.col("e"), planes, n_probes).alias("keys"),
                _probe_flips(F.col("e"), planes, n_probes).alias("flips"),
            )
            .limit(200)
            .collect()
        )
        assert rows
        for r in rows:
            b = r["bucket"]
            assert len(r["keys"]) == 1 + n_probes
            assert r["keys"][0] == b  # own bucket leads
            assert len(set(r["keys"])) == 1 + n_probes  # distinct → no pair dedup
            for k in r["keys"][1:]:
                assert bin(k ^ b).count("1") == 1  # Hamming-1 flips
            # the ANN query path probes the same buckets
            assert {b ^ f for f in r["flips"]} == set(r["keys"])
            if n_probes == len(planes):
                assert set(r["keys"]) == {b} | {b ^ (1 << p) for p in range(len(planes))}


# ── recall is monotone in probes; cost grows ~1 bare term per probe ─────────


@pytest.mark.parametrize("m", [10])
def test_recall_and_cost_monotone_in_probes(spark, sf_dir, m):
    planes = knn_planes(m)
    hits, costs = [], []
    for t in (0, 2, m):
        hits.append(lsh_recall_probed(spark, sf_dir, planes, t)["hits"])
        costs.append(knn_candidate_stats_probed(spark, sf_dir, planes, t)["cand_pairs"])
    assert hits == sorted(hits)  # probes only add candidates
    assert costs == sorted(costs)
    # each probe's marginal cost is at most one bare term's worth + slack:
    # probed buckets are ordinary buckets, so t probes ≤ (1+t)× bare
    bare = costs[0]
    assert costs[1] <= 3 * max(bare, 1) + 3 * knn_candidate_stats_probed(
        spark, sf_dir, planes, 0
    )["rows"]


def test_probed_graph_has_no_duplicate_edges(spark, sf_dir):
    df = knn_graph_lsh_probed(spark, sf_dir, knn_planes(10), 3)
    n = df.count()
    assert n == df.select("src_id", "nbr_id").distinct().count()
    assert n == df.select("src_id", "nbr_id", "rank").distinct().count()


def test_probed_graph_edges_superset_of_bare(spark, sf_dir):
    """Probing only ADDS candidates, so any (src, nbr) pair in the bare
    graph's candidate set is still considered — the probed top-k per src
    ranks a superset, hence per-src scores are ≥ the bare graph's at every
    rank (checked on rank 1: the best neighbor never gets worse)."""
    planes = knn_planes(10)
    bare = {
        r["src_id"]: r["score"]
        for r in knn_graph_lsh_planes(spark, sf_dir, planes)
        .filter("rank = 1")
        .collect()
    }
    probed = {
        r["src_id"]: r["score"]
        for r in knn_graph_lsh_probed(spark, sf_dir, planes, 3)
        .filter("rank = 1")
        .collect()
    }
    assert set(bare) <= set(probed)
    for src, score in bare.items():
        assert probed[src] >= score
