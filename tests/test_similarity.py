"""Similarity-search invariants: brute-force is the exactness anchor;
LSH recall has a floor on the top of the ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from podcast_plow_spark.operators.similarity import (
    _grouped_topk_pairs,
    cosine_topk_pairs,
    ivf_assignments,
    lsh_cosine_topk_pairs,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_brute_force_topk_shape(spark, emb):
    rows = cosine_topk_pairs(spark, emb, k=20).collect()
    assert len(rows) == 20
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    for r in rows:
        assert r["a_id"] < r["b_id"]
        assert -1.0001 <= r["cos_sim"] <= 1.0001


def test_multi_block_matches_single_block(spark, emb):
    """ADVICE r2 (high): cross-block cells must keep EVERY pair.

    block_rows=64 on the 500-row fixture forces ~8 hash-assigned
    blocks, so most pairs live in blk_a < blk_b cells; the result must
    be identical to the single-block (all-in-one-cell) run. The same
    holds for the grouped (LSH / IVF) path's per-group blocks."""
    multi = [tuple(r) for r in cosine_topk_pairs(spark, emb, k=40, block_rows=64).collect()]
    single = [tuple(r) for r in cosine_topk_pairs(spark, emb, k=40, block_rows=10_000).collect()]
    assert multi == single

    # grouped path: block_rows=16 splits every IVF cell into several
    # row_number blocks (no query at sf <= 0.1 fills one 2,048-row block)
    cells = ivf_assignments(emb, n_cells=8, n_probe=3)

    def grouped(block_rows):
        df = _grouped_topk_pairs(emb, cells, ["cell"], "vec_id", "embedding", 40, 4, block_rows)
        return [tuple(r) for r in df.collect()]

    assert grouped(16) == grouped(10_000)


def test_rounded_tie_at_topk_boundary_is_kept(spark):
    """ADVICE (medium): pairs (1, 2) at raw cosine 0.90003 and (3, 4) at
    0.90004 both round to 0.9, so the id tie-break makes (1, 2) the
    top-1. A combo prune at the raw k-th value would drop (1, 2) first."""
    import math

    def unit(c):
        return [c, math.sqrt(1.0 - c * c)]

    data = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, unit(0.90003) + [0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0] + unit(0.90004)),
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    one_group = df.select("vec_id", F.lit(0).alias("g"))
    brute = cosine_topk_pairs(spark, df, k=1)
    grouped = _grouped_topk_pairs(df, one_group, ["g"], "vec_id", "embedding", 1, 4)
    for out in (brute, grouped):
        assert [tuple(r) for r in out.collect()] == [(1, 2, 0.9)]


def test_lsh_candidates_recall_floor(spark, emb):
    exact = {(r["a_id"], r["b_id"]) for r in cosine_topk_pairs(spark, emb, k=10).collect()}
    lsh = {
        (r["a_id"], r["b_id"])
        for r in lsh_cosine_topk_pairs(spark, emb, k=200, n_planes=16, n_bands=8).collect()
    }
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall} on top-10 exact pairs"


def test_lsh_is_subset_of_true_cosines(spark, emb):
    # every LSH-reported similarity must equal the exact cosine for that pair
    lsh = lsh_cosine_topk_pairs(spark, emb, k=20).collect()
    if not lsh:
        pytest.skip("no LSH pairs at this scale")
    exact_all = {
        (r["a_id"], r["b_id"]): r["cos_sim"]
        for r in cosine_topk_pairs(spark, emb, k=5000).collect()
    }
    for r in lsh:
        key = (r["a_id"], r["b_id"])
        if key in exact_all:
            assert abs(exact_all[key] - r["cos_sim"]) < 1e-6


def test_ivf_recall_and_exact_rerank(spark, emb):
    """IVF tier (n_cells=8, n_probe=3 — the driver-query config):
    recall vs the exact brute-force top-50 stays above the floor, and
    every emitted similarity is the true cosine (rerank is exact)."""
    from podcast_plow_spark.operators.similarity import ivf_cosine_topk_pairs

    exact = {
        (r["a_id"], r["b_id"]): r["cos_sim"]
        for r in cosine_topk_pairs(spark, emb, k=50).collect()
    }
    ivf = ivf_cosine_topk_pairs(spark, emb, k=50, n_cells=8, n_probe=3, seed=7).collect()
    got = {(r["a_id"], r["b_id"]): r["cos_sim"] for r in ivf}
    recall = len(set(got) & set(exact)) / len(exact)
    assert recall >= 0.7, f"IVF recall {recall}"
    for k_, v in got.items():
        if k_ in exact:
            assert abs(v - exact[k_]) < 1e-9


def test_ivf_assignment_is_deterministic_and_multi_probe(spark, emb):
    from podcast_plow_spark.operators.similarity import ivf_assignments

    a1 = sorted(tuple(r) for r in ivf_assignments(emb, n_cells=8, n_probe=3, seed=7).collect())
    a2 = sorted(tuple(r) for r in ivf_assignments(emb.repartition(13), n_cells=8, n_probe=3, seed=7).collect())
    assert a1 == a2  # partition-layout invariant
    per_id: dict = {}
    for vid, cell in a1:
        per_id.setdefault(vid, set()).add(cell)
    assert all(len(cells) == 3 for cells in per_id.values())  # 3 distinct probes


def test_embedding_near_dup_precision_and_shape(spark, emb):
    """Dedup-shaped cosine near-dup: every emitted pair is a TRUE
    above-threshold pair (precision 1.0 — the rerank is exact), pairs
    are canonical (a_id < b_id) with no duplicates, and recall over
    the brute-force ground truth clears the LSH collision floor at
    this threshold/band setting on the fixed corpus."""
    import numpy as np

    from podcast_plow_spark.operators.similarity import embedding_near_dup_pairs

    tau = 0.40
    got = embedding_near_dup_pairs(spark, emb, threshold=tau).collect()
    keys = [(r["a_id"], r["b_id"]) for r in got]
    assert len(keys) == len(set(keys))
    assert all(a < b for a, b in keys)

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    iu = np.triu_indices(len(ids), k=1)
    exact = {}
    for i, j, s in zip(iu[0], iu[1], sims[iu]):
        if round(float(s), 4) >= tau:
            a, b = sorted((int(ids[i]), int(ids[j])))
            exact[(a, b)] = round(float(s), 4)
    assert exact, "corpus/threshold choice must be non-vacuous"

    for r in got:
        k = (r["a_id"], r["b_id"])
        assert k in exact, f"false positive {k} cos={r['cos_sim']}"
        assert abs(r["cos_sim"] - exact[k]) < 1e-9

    recall = len(keys) / len(exact)
    assert recall >= 0.5, f"recall {recall} below floor ({len(keys)}/{len(exact)})"


def test_embedding_near_dup_bucket_cap_drops_hot_buckets(spark):
    """A degenerate corpus (many identical vectors → one LSH bucket
    per band) trips the heavy-hitter cap: the hot bucket is excluded
    from candidate generation, so no O(cap²) pair blow-up."""
    import numpy as np

    from podcast_plow_spark.operators.similarity import embedding_near_dup_pairs

    n = 40
    rng = np.random.default_rng(0)
    base = rng.standard_normal(64)
    data = [(i, (base + rng.standard_normal(64) * 1e-3).tolist()) for i in range(n)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    out = embedding_near_dup_pairs(spark, df, threshold=0.9, bucket_cap=10).collect()
    assert out == []  # every bucket exceeds the cap -> zero candidates
    out2 = embedding_near_dup_pairs(spark, df, threshold=0.9, bucket_cap=None).collect()
    assert len(out2) == n * (n - 1) // 2  # cap off: full clique survives exactly
