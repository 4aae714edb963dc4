"""Cuckoo-filter hot tier (north rule: "blocked Bloom filters with a
cuckoo-filter hot tier merged via treeAggregate").

Public construction: Fan/Andersen/Kaminsky/Mitzenmacher, CoNEXT 2014 —
16-bit partial keys, 4-way buckets, XOR alternate bucket. These tests
pin the properties the engine's exactness bypass depends on (no false
negatives), the merge capability, and distributed-build parity with
a local build.
"""

from __future__ import annotations

import numpy as np
import pytest

from podcast_plow_spark.operators.seen import (
    CuckooFilter,
    build_bloom,
    build_cuckoo,
    seen_filter_exact,
)


def _keys(lo: int, hi: int, seed: int = 0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(1, 2**62, size=hi - lo, dtype=np.int64).astype(np.uint64)


class TestCuckooLocal:
    def test_no_false_negatives(self):
        ks = _keys(0, 20_000, seed=1)
        cf = CuckooFilter.sized_for(len(ks))
        cf.add_many(ks)
        assert cf.contains_many(ks).all()

    def test_fpr_small(self):
        ks = _keys(0, 20_000, seed=2)
        other = _keys(0, 50_000, seed=3)
        cf = CuckooFilter.sized_for(len(ks))
        cf.add_many(ks)
        fpr = cf.contains_many(other).mean()
        # 2 buckets × 4 slots × 2^-16 ≈ 0.012% theoretical; allow 10×
        assert fpr < 0.002, fpr

    def test_merge_is_union(self):
        a_keys, b_keys = _keys(0, 8_000, seed=4), _keys(0, 8_000, seed=5)
        a = CuckooFilter.sized_for(20_000)
        b = CuckooFilter(a.n_buckets)
        a.add_many(a_keys)
        b.add_many(b_keys)
        m = a.merge(b)
        assert m.contains_many(a_keys).all()
        assert m.contains_many(b_keys).all()
        # originals untouched (merge returns a new filter)
        assert not b.contains_many(a_keys).all()

    def test_eviction_path_and_stash_keep_membership(self):
        # overfill well past the sizing target to force eviction chains
        # (and possibly stash entries); membership must still be exact
        ks = _keys(0, 3_000, seed=7)
        cf = CuckooFilter(256)  # 1024 slots for 3000 keys → saturated
        cf.add_many(ks)
        assert cf.contains_many(ks).all()
        assert cf.load > 0.9

    def test_determinism(self):
        ks = _keys(0, 5_000, seed=8)
        a = CuckooFilter.sized_for(len(ks))
        b = CuckooFilter.sized_for(len(ks))
        a.add_many(ks)
        b.add_many(ks)
        assert np.array_equal(a.buckets, b.buckets) and a.stash == b.stash


class TestCuckooDistributed:
    def test_driver_build_matches_local_membership(self, spark):
        urls = [(f"https://h{i % 31}.example.com/p{i}",) for i in range(5_000)]
        df = spark.createDataFrame(urls, "url_canon string").repartition(8)
        cf = build_cuckoo(df, "url_canon", expected_items=5_000)
        # every inserted key must probe positive through the same
        # JVM-side key derivation path used at build time
        from podcast_plow_spark.operators.seen import _key_col

        ks = np.array(
            [r["__k"] for r in df.select(_key_col("url_canon").alias("__k")).collect()],
            dtype=np.int64,
        ).astype(np.uint64) % np.uint64(2**63)
        assert cf.contains_many(ks).all()

    def test_tiered_seen_filter_is_exact(self, spark):
        """bloom(cold) + cuckoo(hot) probe → exact unseen set: cold
        covers URLs 0..499, hot covers 500..699 (the 'since last fold'
        window); candidates 400..900 must yield exactly 700..899."""
        mk = lambda lo, hi: [(f"https://h{i % 13}.example.com/p{i}",) for i in range(lo, hi)]
        cold = spark.createDataFrame(mk(0, 500), "url_canon string")
        hot_rows = spark.createDataFrame(mk(500, 700), "url_canon string")
        seen = cold.unionByName(hot_rows)  # exact backstop sees ALL seen rows
        cand = spark.createDataFrame(mk(400, 900), "url_canon string")
        bloom = build_bloom(cold, expected_items=500)
        hot = build_cuckoo(hot_rows, expected_items=200)
        unseen, _ = seen_filter_exact(cand, seen, bloom, [], hot=hot)
        got = sorted(r["url_canon"] for r in unseen.collect())
        want = sorted(u for (u,) in mk(700, 900))
        assert got == want

    def test_missing_hot_tier_breaks_no_false_negative_invariant(self, spark):
        """Negative control: probing WITHOUT the hot tier while the
        seen set contains unfolded rows lets recent dupes through the
        definite-unseen bypass — the failure mode the tier exists to
        prevent (and why the engine folds before dropping it)."""
        mk = lambda lo, hi: [(f"https://h{i % 13}.example.com/p{i}",) for i in range(lo, hi)]
        cold = spark.createDataFrame(mk(0, 500), "url_canon string")
        hot_rows = spark.createDataFrame(mk(500, 700), "url_canon string")
        seen = cold.unionByName(hot_rows)
        cand = spark.createDataFrame(mk(600, 800), "url_canon string")
        bloom = build_bloom(cold, expected_items=500)
        unseen, _ = seen_filter_exact(cand, seen, bloom, [])  # hot omitted
        got = {r["url_canon"] for r in unseen.collect()}
        dupes_let_through = got & {u for (u,) in mk(600, 700)}
        assert dupes_let_through, "bypass should misclassify unfolded seen rows"
