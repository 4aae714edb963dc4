"""MERGE-upsert family semantics (S8-S12, D5) — parity with the
reference's per-row upsert rules (server/ingest/feeds.py:106-214,
server/services/evidence_fetcher.py:632-693)."""

from __future__ import annotations

from pyspark.sql import functions as F

from podcast_plow_spark.operators.merge import (
    dedup_gc,
    delete_and_replace,
    insert_if_absent,
    upsert_coalesce,
)


def _target(spark):
    return spark.createDataFrame(
        [(1, "old-title", "old-desc"), (2, "keep", None)],
        "id int, title string, description string",
    )


class TestUpsertCoalesce:
    def test_matched_coalesces_nulls_keep_old(self, spark):
        src = spark.createDataFrame([(1, None, "new-desc")], "id int, title string, description string")
        out = {r["id"]: r for r in upsert_coalesce(_target(spark), src, "id").collect()}
        assert out[1]["title"] == "old-title"  # null source keeps old
        assert out[1]["description"] == "new-desc"
        assert out[2]["title"] == "keep"  # untouched row preserved

    def test_overwrite_cols_take_source_even_null(self, spark):
        src = spark.createDataFrame([(1, None, None)], "id int, title string, description string")
        out = {r["id"]: r for r in upsert_coalesce(_target(spark), src, "id", overwrite_cols=["title"]).collect()}
        assert out[1]["title"] is None  # S9 title-overwrite semantics
        assert out[1]["description"] == "old-desc"

    def test_nullif_empty_cross_fill(self, spark):
        # S10: empty-string source values do NOT clobber existing ids
        src = spark.createDataFrame([(1, "", "x")], "id int, title string, description string")
        out = {r["id"]: r for r in upsert_coalesce(_target(spark), src, "id", nullif_empty_cols=["title"]).collect()}
        assert out[1]["title"] == "old-title"

    def test_unmatched_inserts(self, spark):
        src = spark.createDataFrame([(3, "new", "d")], "id int, title string, description string")
        out = upsert_coalesce(_target(spark), src, "id")
        assert out.count() == 3
        assert out.where(F.col("id") == 3).collect()[0]["title"] == "new"

    def test_idempotent_reapply(self, spark):
        src = spark.createDataFrame([(1, "t2", None), (3, "new", "d")], "id int, title string, description string")
        once = upsert_coalesce(_target(spark), src, "id")
        twice = upsert_coalesce(once, src, "id")
        a = sorted(map(tuple, once.collect()))
        b = sorted(map(tuple, twice.collect()))
        assert a == b


def test_insert_if_absent_conflict_does_nothing(spark):
    t = _target(spark)
    src = spark.createDataFrame([(1, "CLOBBER", "x"), (9, "fresh", "y")], "id int, title string, description string")
    out = insert_if_absent(t, src, "id")
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["title"] == "old-title"  # conflict ignored
    assert rows[9]["title"] == "fresh"
    assert out.count() == 3


def test_delete_and_replace_is_idempotent(spark):
    t = spark.createDataFrame([(1, 10, "a"), (1, 11, "b"), (2, 20, "c")], "ep int, id int, text string")
    repl = spark.createDataFrame([(1, 100, "fresh")], "ep int, id int, text string")
    once = delete_and_replace(t, repl, F.col("ep") == 1)
    twice = delete_and_replace(once, repl, F.col("ep") == 1)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert once.where(F.col("ep") == 1).count() == 1


def test_dedup_gc_min_id_primary(spark):
    df = spark.createDataFrame(
        [("k1", 5), ("k1", 3), ("k1", 9), ("k2", 7)], "key string, id int"
    )
    kept, deleted = dedup_gc(df, "key", "id")
    assert {(r["key"], r["id"]) for r in kept.collect()} == {("k1", 3), ("k2", 7)}
    assert {r["id"] for r in deleted.collect()} == {5, 9}


class TestUpsertNullKeys:
    def test_target_row_with_null_key_survives_unchanged(self, spark):
        # presence is detected via sentinels, not key nullness: a target
        # row whose key is NULL must come through as itself, not be
        # mistaken for a source-only row (which would NULL every column)
        tgt = spark.createDataFrame(
            [(None, "null-key-title", "d0"), (2, "keep", None)],
            "id int, title string, description string",
        )
        src = spark.createDataFrame([(3, "new", "nd")], "id int, title string, description string")
        rows = upsert_coalesce(tgt, src, "id").collect()
        by_title = {r["title"]: r for r in rows}
        assert "null-key-title" in by_title
        r = by_title["null-key-title"]
        assert r["id"] is None and r["description"] == "d0"
        assert by_title["new"]["id"] == 3
        assert len(rows) == 3

    def test_source_row_with_null_key_inserts_as_itself(self, spark):
        src = spark.createDataFrame([(None, "src-null", "sd")], "id int, title string, description string")
        rows = upsert_coalesce(_target(spark), src, "id").collect()
        by_title = {r["title"]: r for r in rows}
        assert by_title["src-null"]["description"] == "sd"
        assert by_title["old-title"]["id"] == 1
        assert len(rows) == 3


def test_union_dedup_semantics(spark):
    """D1-adjacent union+dedup (reference evidence_fetcher.py:449-458):
    unionByName of two keyed projections followed by distinct equals
    the set union. Frozen here since `union_nationkeys` rotated out of
    the 50-row oracle surface (round 5) to readmit minhash_signatures;
    its shape, the nation keys of customers ∪ suppliers, runs below on
    the sf0.001 tables."""
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "nationkey int")
    b = spark.createDataFrame([(3,), (4,), (4,)], "nationkey int")
    got = sorted(
        r["nationkey"] for r in a.unionByName(b).distinct().collect()
    )
    assert got == [1, 2, 3, 4]
    sf = "/root/testdata/sf0.001"
    c = spark.read.parquet(f"{sf}/customer.parquet").select(F.col("c_nationkey").alias("nationkey"))
    s = spark.read.parquet(f"{sf}/supplier.parquet").select(F.col("s_nationkey").alias("nationkey"))
    keys = [r["nationkey"] for r in c.unionByName(s).distinct().orderBy("nationkey").collect()]
    want = {r[0] for r in c.collect()} | {r[0] for r in s.collect()}
    assert keys == sorted(want)
