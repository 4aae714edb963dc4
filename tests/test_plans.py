"""Physical-plan audits — the ".explain and iterate" discipline frozen
as tests. Each assertion pins a plan property that matters at 100 TB:
pushdown reaching the scan, column pruning, broadcast joins on small
dims, TakeOrderedAndProject for top-K, no exchange under the
politeness window on a clustered frontier."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.where(F.col("l_shipdate") > "1999-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan, plan


def test_column_pruning_narrows_read_schema(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_small_dim_join_is_broadcast(spark):
    """J1 inner equi-join on broadcastable dims (reference
    server/app.py:876-882): orders ⋈ customer ⋈ nation, revenue per
    nation."""
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    df = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "inner")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "inner")
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy("n_name")
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_dequeue_is_take_ordered_not_global_sort(spark):
    import datetime as dt

    from podcast_plow_spark.operators import frontier as fr

    cand = spark.createDataFrame(
        [(f"u{i}", f"u{i}", "h.com", f"f{i}", i % 3, i) for i in range(100)],
        "url string, url_canon string, host string, fingerprint string, priority int, seq_key long",
    )
    frontier = fr.enqueue(cand, epoch=0)
    batch = frontier.where(F.col("status") == "queued").orderBy(*fr.DEQUEUE_ORDER()).limit(5)
    plan = _plan(batch)
    assert "TakeOrderedAndProject" in plan, plan


def test_politeness_window_needs_no_exchange_on_clustered_frontier(spark):
    from pyspark.sql import Window

    from podcast_plow_spark.crawl.bench import synthetic_frontier
    from podcast_plow_spark.operators import frontier as fr

    raw = synthetic_frontier(spark, 10_000, 8).withColumn("url_canon", F.col("url")).withColumn(
        "fingerprint", F.sha2(F.col("url"), 256)
    )
    frontier = fr.cluster_by_host(fr.enqueue(raw, epoch=0, seq_mode="keyed"), 8).cache()
    frontier.count()
    w = Window.partitionBy("host").orderBy(*fr.DEQUEUE_ORDER())
    eligible = frontier.withColumn("__hr", F.row_number().over(w))
    plan = _plan(eligible)
    # the only Exchange allowed is inside the cached build plan
    above_cache = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in above_cache, above_cache
    frontier.unpersist()


def test_one_shard_probe_computes_no_host_bucket(spark):
    """With one shard every key is in bucket 0: the probe plan carries
    a constant bucket, not parse_url + crc32 of the host per candidate
    (the 4-shard plan shows the check sees them when present)."""
    from podcast_plow_spark.operators.seen import build_bloom, probe_bloom

    seen = spark.createDataFrame([(f"https://h{i}.com/p",) for i in range(200)], "url_canon string")
    cand = spark.createDataFrame([(f"https://h{i}.com/p",) for i in range(100, 300)], "url_canon string")
    plans = {n: _plan(probe_bloom(cand, build_bloom(seen, n_shards=n))).lower() for n in (1, 4)}
    # the executed plan spells parse_url as ParseUrlEvaluator
    host_exprs = ("parse_url", "parseurl", "crc32")
    assert not [e for e in host_exprs if e in plans[1]], plans[1]
    assert "parseurl" in plans[4] and "crc32" in plans[4], plans[4]


def test_exact_seen_backstop_uses_broadcast_not_shuffle(spark):
    from podcast_plow_spark.operators.seen import build_bloom, seen_filter_exact

    seen = spark.createDataFrame([(f"https://h{i}.com/p",) for i in range(2000)], "url_canon string")
    cand = spark.createDataFrame([(f"https://h{i}.com/p",) for i in range(1500, 2500)], "url_canon string")
    bloom = build_bloom(seen, expected_items=2000)
    unseen, _ = seen_filter_exact(cand, seen, bloom)
    plan = _plan(unseen)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_grade_aggregation_is_whole_stage_codegen(spark):
    import __spark_entry__ as m

    df = m.q_grade_claims(spark, SF)
    plan = _plan(df)
    assert "HashAggregate" in plan, plan  # conditional-count agg, no pivot shuffle
    assert "Expand" not in plan, plan  # no pivot-style row expansion


def test_polite_dequeue_store_read_no_full_frontier_exchange(spark, tmp_path_factory):
    """VERDICT r1 'What's wrong #2': on a frontier READ BACK FROM THE
    STORE (no cached outputPartitioning), the epoch dequeue must not
    shuffle the full frontier. dequeue_batch_polite's sampled path cuts
    a global-order-prefix Filter FIRST; the politeness window's
    Exchange sits above that filter, so only ~k·safety rows move."""
    import datetime as dt

    from podcast_plow_spark.operators import frontier as fr
    from podcast_plow_spark.sources.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path_factory.mktemp("plan_store")))
    # 2000 hosts so eligibility (host-rank ≤ cap) inside the prefix can
    # actually satisfy k — the sampled path must not fall back to exact
    base = spark.range(0, 20_000, 1, 8)
    raw = (
        base.select(
            F.concat(F.lit("https://h"), (F.col("id") % 2000).cast("string"), F.lit(".com/p"), F.col("id").cast("string")).alias("url"),
            F.concat(F.lit("h"), (F.col("id") % 2000).cast("string"), F.lit(".com")).alias("host"),
            F.col("id").alias("seq_key"),
            (F.col("id") % 10).cast("int").alias("priority"),
        )
        .withColumn("url_canon", F.col("url"))
        .withColumn("fingerprint", F.sha2(F.col("url"), 256))
    )
    store.write_bucketed("frontier", fr.enqueue(raw, epoch=0, seq_mode="keyed"))
    store.commit(0)

    frontier = store.read_table(spark, "frontier")  # plain parquet scan — no partitioning info
    batch = fr.dequeue_batch_polite(
        frontier, 500, dt.datetime(2024, 1, 1), per_host_cap=3,
        sample_rows=2000, small_n_cutoff=1000,
    )
    plan = _plan(batch)
    lines = plan.splitlines()
    exchange_idx = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert exchange_idx, plan  # the window shuffle exists…
    for i in exchange_idx:
        # …but every Exchange's subtree must contain the threshold
        # Filter (the global-order-prefix cut) before reaching the scan,
        # i.e. no Exchange consumes the raw full-frontier scan.
        below = "\n".join(lines[i:])
        scan_pos = below.find("Scan parquet")
        assert scan_pos != -1, plan
        filter_pos = below.find("Filter")
        assert filter_pos != -1 and filter_pos < scan_pos, plan
        seg = below[filter_pos:scan_pos]
        assert "seq#" in seg and "priority#" in seg, seg  # the prefix predicate


def test_prefix_filter_pushed_through_mor_overlay(spark, tmp_path_factory):
    """WRITE ORDERED BY only pays off if the dequeue's order-key
    prefix predicate reaches the BASE parquet scan as PushedFilters —
    through the merge-on-read overlay (left-anti delta join + union).
    With it pushed, row-group min/max stats on the sorted files skip
    the store's tail; without it, the scan reads everything and
    filters above."""
    import datetime as dt

    from podcast_plow_spark.operators import frontier as fr
    from podcast_plow_spark.sources.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path_factory.mktemp("ordered_store")))
    base = spark.range(0, 5000, 1, 8)
    raw = (
        base.select(
            F.concat(F.lit("https://h"), (F.col("id") % 500).cast("string"), F.lit(".com/p"), F.col("id").cast("string")).alias("url"),
            F.concat(F.lit("h"), (F.col("id") % 500).cast("string"), F.lit(".com")).alias("host"),
            F.col("id").alias("seq_key"),
            (F.col("id") % 10).cast("int").alias("priority"),
        )
        .withColumn("url_canon", F.col("url"))
        .withColumn("fingerprint", F.sha2(F.col("url"), 256))
    )
    store.write_bucketed(
        "frontier",
        fr.enqueue(raw, epoch=0, seq_mode="keyed"),
        order_by=[["priority", "desc"], ["run_at", "asc"], ["seq", "asc"]],
    )
    store.commit(0)
    # stage a small delta so read_table builds the MoR overlay
    upd = store.read_table(spark, "frontier").limit(3).withColumn("status", F.lit("finished"))
    store.merge_delta("frontier", upd)
    store.commit(1)

    frontier = store.read_table(spark, "frontier")
    cut = frontier.where(
        (F.col("priority") > 8)
        | (
            (F.col("priority") == 8)
            & (F.col("run_at") <= F.lit(dt.datetime(2024, 1, 1)))
        )
    )
    plan = _plan(cut)
    assert "PushedFilters" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "priority" in ln]
    # the prefix predicate (an Or over the order key) reaches at least
    # the base scan — Catalyst pushes the filter through the union and
    # the anti-join's left side
    assert any("Or(GreaterThan(priority,8)" in ln for ln in pushed), plan


def test_word_shingles_has_no_exchange(spark):
    """Per-doc shingle dedup is row-local (array_distinct before the
    explode) — no global distinct shuffle over the exploded relation."""
    from podcast_plow_spark.operators.dedup import word_shingles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(word_shingles(docs))
    assert "Exchange" not in plan, plan


def test_embedding_near_dup_candidates_are_equi_join_no_cartesian(spark):
    """The dedup-family invariant at the plan level: candidate pairs
    come from a hash equi-join on (band, bucket) — never a cartesian /
    broadcast-nested-loop all-pairs — and the bytes-free rerank join
    back to vectors is also an equi-join."""
    import __spark_entry__ as m

    df = m.q_embedding_near_dup(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    joins = plan.count("HashJoin") + plan.count("SortMergeJoin")
    assert joins >= 3, plan  # band/bucket candidate join + two id joins


def test_multimodal_feature_scan_prunes_to_payload_columns(spark, tmp_path_factory):
    """extract_image_features must not read caption/phash: the Arrow
    exchange ships only what the UDF consumes (at 10^10 rows, shipping
    an unread string column through Arrow is real money)."""
    from podcast_plow_spark.sources.images import generate_image_table
    from podcast_plow_spark.sources.multimodal import extract_image_features

    path = str(tmp_path_factory.mktemp("plans") / "img")
    generate_image_table(spark, 8, path, w=16, h=16, partitions=1)
    imgs = spark.read.parquet(path).select("image_id", "bytes", "w", "h", "fmt")
    plan = _plan(extract_image_features(imgs))
    assert "caption" not in plan and "phash" not in plan, plan


def _plan_tree(plan: str) -> list[tuple[int, str]]:
    """(depth, node text) per line of a plan tree string; depth is the
    column of the node name, so a node's subtree is the run of lines
    after it that sit deeper."""
    out = []
    for ln in plan.splitlines():
        stripped = ln.lstrip(" :+-")
        if stripped:
            out.append((len(ln) - len(stripped), stripped))
    return out


def _ancestors(tree: list[tuple[int, str]], i: int) -> list[int]:
    path, depth = [], tree[i][0]
    for j in range(i - 1, -1, -1):
        if tree[j][0] < depth:
            path.append(j)
            depth = tree[j][0]
    return path


_PY_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def test_discovery_candidates_cross_python_once(spark, tmp_path_factory, monkeypatch):
    """A discovery epoch's candidate projection runs ONE Python node
    between the feed parse and the Bloom probe (canonicalize + host +
    robots in one mapInPandas), and no Python eval node sits under the
    feed⋈parent join — Catalyst must not be able to push a url_canon
    filter below the join and run the canonicalizer on both sides."""
    from podcast_plow_spark.crawl.engine import CrawlConfig, CrawlEngine
    from podcast_plow_spark.operators import seen
    from podcast_plow_spark.sources.fixtures import FixtureSpec, make_fixtures
    from podcast_plow_spark.sources.snapshots import SnapshotStore

    root = str(tmp_path_factory.mktemp("plan_fixtures"))
    fx = make_fixtures(FixtureSpec(root=root, n_feeds=2, entries_per_feed=4))
    eng = CrawlEngine(
        spark,
        SnapshotStore(str(tmp_path_factory.mktemp("plan_crawl"))),
        fx.root,
        config=CrawlConfig(batch_size=8, per_host_cap=2, num_partitions=4),
    )
    eng.bootstrap(f"{fx.root}/feeds.txt")

    plans: list[str] = []
    real_probe = seen.probe_bloom

    def spy(candidates, *args, **kwargs):
        out = real_probe(candidates, *args, **kwargs)
        plans.append(_plan(out))
        return out

    monkeypatch.setattr(seen, "probe_bloom", spy)
    assert eng.run_epoch()  # epoch 1 dequeues the seed feeds
    assert len(plans) == 1, plans

    tree = _plan_tree(plans[0])
    probe = next(i for i, (_, t) in enumerate(tree) if t.startswith("ArrowEvalPython"))
    parse = next(i for i, (_, t) in enumerate(tree) if t.startswith("MapInPandas") and "fetch(" in t)
    path = _ancestors(tree, parse)
    assert probe in path, plans[0]
    between = [tree[j][1] for j in path[: path.index(probe)] if tree[j][1].startswith(_PY_NODES)]
    assert len(between) == 1 and between[0].startswith("MapInPandas"), plans[0]

    join = next(j for j in path if "Join" in tree[j][1].split(" ", 1)[0])
    assert "feed_url" in tree[join][1], plans[0]
    under_join = []
    for d, t in tree[join + 1 :]:
        if d <= tree[join][0]:
            break
        under_join.append(t)
    assert not [t for t in under_join if t.startswith(("ArrowEvalPython", "BatchEvalPython"))], plans[0]


def test_cached_small_dequeue_batch_is_coalesced(spark):
    """A dequeued batch of ≤100 rows, once cached, holds at most
    defaultParallelism partitions: AQE coalesces the shuffles inside
    cached plans (session.py), so a batch-sized cache is not spread
    over spark.sql.shuffle.partitions near-empty partitions."""
    import datetime as dt

    from podcast_plow_spark.operators import frontier as fr

    raw = spark.range(0, 400, 1, 4).select(
        F.concat(F.lit("https://h"), (F.col("id") % 40).cast("string"), F.lit(".com/p"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 40).cast("string"), F.lit(".com")).alias("host"),
        F.col("id").alias("seq_key"),
    ).withColumn("url_canon", F.col("url")).withColumn("fingerprint", F.sha2(F.col("url"), 256))
    frontier = fr.enqueue(raw, epoch=0, seq_mode="keyed")
    # without the global crawl_rank window, the batch keeps the
    # partitioning of the per-host politeness window's shuffle
    batch = fr.dequeue_batch_polite(
        frontier, 100, dt.datetime(2024, 1, 1), per_host_cap=2, with_rank=False
    ).cache()
    try:
        assert 0 < batch.count() <= 100
        n_parts = batch.rdd.getNumPartitions()
        assert n_parts <= spark.sparkContext.defaultParallelism, n_parts
    finally:
        batch.unpersist()
