"""Round-12 pins: the query-directed probe budget that compensates the
adaptive plane count's recall cost (VERDICT r11 task 1).

The adaptive LSH default (G2/G8) pairs ``adaptive_n_planes`` with
``adaptive_probe_budget`` Hamming-1 probes chosen by smallest |dot| margin
(Lv et al. query-directed multiprobe). These tests pin the budget formula,
the candidate-pair count, probe-key structure, and the monotone
recall/cost behavior the sf10 bench measures at scale."""

from __future__ import annotations

import pytest

from australian_company_etl_spark.plans.similarity import (
    N_PLANES,
    adaptive_probe_budget,
    knn_candidate_stats,
    knn_graph_lsh_probed,
    knn_planes,
    lsh_recall,
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


# ── the stats count exactly the pairs the graph join scores ───────────────


@pytest.mark.parametrize("n_probes", [0, 3])
def test_candidate_stats_count_the_graph_join_pairs(spark, sf_dir, n_probes):
    from pyspark.sql import functions as F

    from australian_company_etl_spark.plans.similarity import _base, _lsh_keys

    planes = knn_planes(10)
    own, probes = _lsh_keys(_base(spark, sf_dir), planes, n_probes)
    lhs = probes.select(F.col("vec_id").alias("src_id"), "bucket")
    rhs = own.select(F.col("vec_id").alias("nbr_id"), "bucket")
    joined = lhs.join(rhs, "bucket").filter(F.col("src_id") != F.col("nbr_id")).count()
    s = knn_candidate_stats(spark, sf_dir, planes, n_probes)
    assert s["cand_pairs"] == joined
    assert s["n_planes"] == 10 and s["n_probes"] == n_probes
    assert s["rows"] == own.count()


# ── probe keys: distinct, own bucket included, Hamming distance exactly 1 ───


def test_probe_keys_structure(spark, sf_dir):
    from australian_company_etl_spark.plans.similarity import _base, _lsh_keys

    planes = knn_planes(10)
    # a partial budget, and all flips (full Hamming-1 multiprobe)
    for n_probes in (3, len(planes)):
        own, probes = _lsh_keys(_base(spark, sf_dir), planes, n_probes)
        bucket = {r["vec_id"]: r["bucket"] for r in own.collect()}
        keys: dict[int, list[int]] = {}
        for r in probes.collect():
            keys.setdefault(r["vec_id"], []).append(r["bucket"])
        assert keys and set(keys) == set(bucket)
        for vid, ks in keys.items():
            assert len(ks) == 1 + n_probes
            assert len(set(ks)) == 1 + n_probes  # distinct → no pair dedup needed
            assert bucket[vid] in ks  # own bucket probed
            for k in ks:
                if k != bucket[vid]:
                    assert bin(k ^ bucket[vid]).count("1") == 1  # Hamming-1 flips


# ── recall is monotone in probes; cost grows ~1 bare term per probe ─────────


@pytest.mark.parametrize("m", [10])
def test_recall_and_cost_monotone_in_probes(spark, sf_dir, m):
    planes = knn_planes(m)
    hits, costs = [], []
    for t in (0, 2, m):
        hits.append(lsh_recall(spark, sf_dir, planes, t)["hits"])
        costs.append(knn_candidate_stats(spark, sf_dir, planes, t)["cand_pairs"])
    assert hits == sorted(hits)  # probes only add candidates
    assert costs == sorted(costs)
    # each probe's marginal cost is at most one bare term's worth + slack:
    # probed buckets are ordinary buckets, so t probes ≤ (1+t)× bare
    bare = costs[0]
    assert costs[1] <= 3 * max(bare, 1) + 3 * knn_candidate_stats(
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
        for r in knn_graph_lsh_probed(spark, sf_dir, planes, 0)
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
