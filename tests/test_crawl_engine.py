"""Engine mechanics: checkpoint/resume byte-parity, atomic commits,
Bloom seen-filter correctness, politeness scheduling, image invariant."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from podcast_plow_spark.crawl.engine import CrawlConfig, CrawlEngine
from podcast_plow_spark.operators.politeness import schedule_fetches
from podcast_plow_spark.operators.seen import BloomFilter, build_bloom, seen_filter_exact
from podcast_plow_spark.sources.fixtures import FixtureSpec, make_fixtures
from podcast_plow_spark.sources.images import check_invariants, generate_image_table
from podcast_plow_spark.sources.snapshots import SnapshotStore


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fixtures"))
    return make_fixtures(FixtureSpec(root=root, n_feeds=3, entries_per_feed=4))


def _run(spark, fixtures, store_dir, max_epochs=100, resume=False):
    store = SnapshotStore(store_dir)
    eng = CrawlEngine(spark, store, fixtures.root, config=CrawlConfig(batch_size=8, per_host_cap=2, num_partitions=4))
    if resume:
        eng.run(max_epochs=max_epochs, resume=True)
    else:
        eng.run(seeds_path=f"{fixtures.root}/feeds.txt", max_epochs=max_epochs)
    return eng


def test_resume_after_kill_is_byte_identical(spark, fixtures, tmp_path_factory):
    """Kill mid-crawl at epoch k, resume, final state identical to an
    uninterrupted run (SURVEY.md §7 M5)."""
    d1 = str(tmp_path_factory.mktemp("uninterrupted"))
    full = _run(spark, fixtures, d1)

    d2 = str(tmp_path_factory.mktemp("interrupted"))
    partial = _run(spark, fixtures, d2, max_epochs=2)  # "crash" after epoch 2
    resumed = _run(spark, fixtures, d2, resume=True)

    assert resumed.crawl_order() == full.crawl_order()
    assert resumed.seen_set() == full.seen_set()
    assert resumed.fetched_image_ids() == full.fetched_image_ids()


def test_lineage_rows_written(spark, fixtures, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lineage"))
    eng = _run(spark, fixtures, d)
    lineage = eng.store.read_table(spark, "lineage")
    rows = lineage.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["batch_epoch"] >= 1
        assert r["urls_in"] >= 0 and r["urls_out"] >= 0
        assert 0.0 <= r["bloom_fpr"] <= 1.0


class TestBloom:
    def test_no_false_negatives(self):
        bf = BloomFilter.sized_for(10_000)
        keys = np.arange(1, 10_001, dtype=np.uint64) * 2654435761 % (2**63)
        bf.add_many(keys)
        assert bf.contains_many(keys).all()

    def test_fpr_reasonable(self):
        bf = BloomFilter.sized_for(10_000, bits_per_item=12, k=6)
        keys = (np.arange(1, 10_001, dtype=np.uint64) * 2654435761) % (2**63)
        bf.add_many(keys)
        probe = (np.arange(20_001, 40_001, dtype=np.uint64) * 40503) % (2**63)
        fpr = bf.contains_many(probe).mean()
        assert fpr < 0.02, f"fpr {fpr}"

    def test_merge_is_union(self):
        a, b = BloomFilter.sized_for(100), BloomFilter.sized_for(100)
        ka = np.array([1, 2, 3], dtype=np.uint64)
        kb = np.array([7, 8, 9], dtype=np.uint64)
        a.add_many(ka)
        b.add_many(kb)
        m = a.merge(b)
        assert m.contains_many(ka).all() and m.contains_many(kb).all()

    def test_distributed_build_matches_exact_filter(self, spark):
        seen = spark.createDataFrame([(f"https://h{i}.com/p",) for i in range(500)], "url_canon string")
        cand = spark.createDataFrame(
            [(f"https://h{i}.com/p",) for i in range(400, 900)], "url_canon string"
        )
        bloom = build_bloom(seen, "url_canon")
        unseen, _stats = seen_filter_exact(cand, seen, bloom)
        got = {r["url_canon"] for r in unseen.collect()}
        want = {f"https://h{i}.com/p" for i in range(500, 900)}
        assert got == want  # exact despite the probabilistic fast path


def test_politeness_spacing(spark):
    batch = spark.createDataFrame(
        [("a.com", i + 1) for i in range(5)] + [("b.com", 6)], "host string, crawl_rank long"
    )
    sched = schedule_fetches(batch, crawl_delay_sec=2.0, max_connections=1)
    offs = {(r["host"], r["crawl_rank"]): r["fetch_offset_sec"] for r in sched.collect()}
    a_offsets = sorted(v for (h, _), v in offs.items() if h == "a.com")
    assert a_offsets == [0.0, 2.0, 4.0, 6.0, 8.0]  # ≥ crawl_delay spacing
    assert offs[("b.com", 6)] == 0.0  # other hosts unaffected


class TestImageInvariant:
    @pytest.fixture(scope="class")
    def image_path(self, spark, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("imgs") / "images.parquet")
        generate_image_table(spark, n_images=64, out_path=p)
        return p

    def test_all_rows_pass_invariant(self, spark, image_path):
        images = spark.read.parquet(image_path)
        res = check_invariants(images).cache()
        assert res.count() == 64
        failed = res.where(~F.col("passed")).collect()
        assert failed == [], failed

    def test_lossy_format_is_genuinely_lossy_but_above_floor(self, spark, image_path):
        images = spark.read.parquet(image_path)
        res = check_invariants(images)
        qjpg = res.join(images.select("image_id", "fmt"), "image_id").where(F.col("fmt") == "qjpg")
        rows = qjpg.collect()
        assert rows
        for r in rows:
            assert 40.0 <= r["psnr_db"] < 60.0, r  # lossy: not inf, above floor

    def test_corrupted_caption_fails(self, spark, image_path):
        images = spark.read.parquet(image_path).withColumn(
            "caption", F.concat(F.col("caption"), F.lit(" CORRUPTED"))
        )
        res = check_invariants(images)
        assert res.where(F.col("passed")).count() == 0


class TestSaltHotHosts:
    def test_hot_host_spread_cold_untouched(self, spark):
        from podcast_plow_spark.crawl.bench import synthetic_frontier
        from podcast_plow_spark.operators.politeness import salt_hot_hosts
        from pyspark.sql import functions as F

        fr_df = synthetic_frontier(spark, 20_000, 8).select(
            F.col("url").alias("url_canon"), "host"
        )
        salted = salt_hot_hosts(fr_df, hot_threshold=1000, n_salts=8).cache()
        hot = salted.where(F.col("host") == "hot.example.com")
        n_salts_used = hot.select("host_salt").distinct().count()
        assert n_salts_used == 8, "hot host must spread across all salts"
        cold = salted.where(F.col("host") != "hot.example.com")
        assert cold.select("host_salt").distinct().collect()[0]["host_salt"] == 0
        # deterministic: same url → same salt on re-run
        again = salt_hot_hosts(fr_df.repartition(3), hot_threshold=1000, n_salts=8)
        a = {r["url_canon"]: r["host_salt"] for r in salted.collect()}
        b = {r["url_canon"]: r["host_salt"] for r in again.collect()}
        assert a == b
        salted.unpersist()

    def test_budget_division_keeps_per_host_rate(self, spark):
        """Politeness spacing × n_salts per salt group ⇒ the union of all
        salts' schedules respects the real per-host delay in aggregate."""
        from podcast_plow_spark.operators.politeness import salt_hot_hosts, schedule_fetches
        from pyspark.sql import functions as F

        rows = [("hot.com", f"https://hot.com/{i}", i + 1) for i in range(64)]
        df = spark.createDataFrame(rows, "host string, url_canon string, crawl_rank long")
        salted = salt_hot_hosts(df, hot_threshold=10, n_salts=4)
        # schedule each salt group with delay × n_salts
        sched = schedule_fetches(
            salted.withColumn("host", F.concat_ws("#", "host", "host_salt")),
            crawl_delay_sec=1.0 * 4,
        )
        # per true host: 4 salt lanes × spacing 4s ⇒ ≥ 16 fetches need ≥ 12s span;
        # aggregate rate ≈ 1/sec as budgeted
        per_offset = sched.groupBy("fetch_offset_sec").count().collect()
        assert all(r["count"] <= 4 for r in per_offset), "≤ n_salts concurrent per instant"


def test_run_epoch_honors_run_at(spark, fixtures, tmp_path_factory):
    """Q2 dequeue contract: a row requeued with a future run_at (backoff)
    must NOT be dequeued before its delay elapses (reference
    dequeue_job: status='queued' AND run_at <= now())."""
    import datetime as dt

    from podcast_plow_spark.operators import frontier as fr

    d = str(tmp_path_factory.mktemp("runat"))
    store = SnapshotStore(d)
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    clock_now = {"t": t0}
    cfg = CrawlConfig(batch_size=8, per_host_cap=2, num_partitions=4, clock=lambda: clock_now["t"])
    eng = CrawlEngine(spark, store, fixtures.root, config=cfg)
    eng.bootstrap(f"{fixtures.root}/feeds.txt")

    # push every queued row's run_at into the future
    frontier = store.read_table(spark, "frontier")
    future = t0 + dt.timedelta(seconds=3600)
    delayed = frontier.withColumn("run_at", F.lit(future).cast("timestamp"))
    store.write_bucketed("frontier", delayed)
    store.commit(0, store.latest_metadata())

    assert eng.run_epoch() is False  # nothing runnable yet

    clock_now["t"] = t0 + dt.timedelta(seconds=3601)
    assert eng.run_epoch() is True  # delay elapsed → dequeued


def test_crawl_log_fetch_offsets_honor_robots_delay(spark, fixtures, tmp_path_factory):
    """P1×P6×P7 end-to-end: within each epoch, a host's fetches are
    spaced by that host's effective politeness delay — its robots
    Crawl-delay for the crawler's selected group, else the reference's
    0.34 s sleep_between — in crawl-rank order."""
    import os

    from podcast_plow_spark.operators.politeness import parse_crawl_delay

    d = str(tmp_path_factory.mktemp("sched"))
    eng = _run(spark, fixtures, d)

    def effective_delay(host: str) -> float:
        p = os.path.join(fixtures.root, "sites", host, "robots.txt")
        body = open(p).read() if os.path.exists(p) else ""
        dd = parse_crawl_delay(body, "plow-spark")
        return dd if dd is not None else 0.34

    log = eng.store.read_table(spark, "crawl_log").collect()
    assert all(r["fetch_offset_sec"] is not None for r in log)
    by_key: dict = {}
    for r in log:
        by_key.setdefault((r["epoch"], r["host"]), []).append((r["crawl_rank"], r["fetch_offset_sec"]))
    saw_spacing = False
    for (_e, host), rows in by_key.items():
        rows.sort()
        offs = [o for _, o in rows]
        delay = effective_delay(host)
        for i, o in enumerate(offs):
            assert abs(o - i * delay) < 1e-9, (host, delay, offs)
            if i > 0:
                saw_spacing = True
    assert saw_spacing  # at least one host had >1 fetch in an epoch


def test_robots_group_crawl_delay_reaches_schedule(spark, tmp_path_factory):
    """A host whose robots declares Crawl-delay inside the crawler's
    OWN group gets that spacing in the crawl log."""
    import os

    root = str(tmp_path_factory.mktemp("fx_delay"))
    fx = make_fixtures(FixtureSpec(root=root, n_feeds=2, entries_per_feed=4))
    host = "host0000.example.com"
    p = os.path.join(root, "sites", host, "robots.txt")
    with open(p, "a") as fh:
        fh.write("Crawl-delay: 2.5\n")  # appended to the plow-spark group
    d = str(tmp_path_factory.mktemp("sched2"))
    store = SnapshotStore(d)
    eng = CrawlEngine(
        spark, store, fx.root, config=CrawlConfig(batch_size=8, per_host_cap=4, num_partitions=4)
    )
    eng.run(seeds_path=f"{fx.root}/feeds.txt")
    log = [r for r in eng.store.read_table(spark, "crawl_log").collect() if r["host"] == host]
    by_epoch: dict = {}
    for r in log:
        by_epoch.setdefault(r["epoch"], []).append((r["crawl_rank"], r["fetch_offset_sec"]))
    for rows in by_epoch.values():
        rows.sort()
        for i, (_rk, o) in enumerate(rows):
            assert abs(o - i * 2.5) < 1e-9, rows


class TestShardedBloom:
    """Host-bucket-sharded seen filter: same exact semantics as the
    monolith (no false negatives; exact backstop identical), shard-wise
    incremental merge, and fpr-in-lineage path unchanged."""

    def _urls(self, lo, hi):
        return [(f"https://h{i % 37}.example.com/p{i}",) for i in range(lo, hi)]

    def test_exact_filter_parity_with_monolith(self, spark):
        from podcast_plow_spark.operators.seen import build_bloom

        seen = spark.createDataFrame(self._urls(0, 500), "url_canon string")
        cand = spark.createDataFrame(self._urls(400, 900), "url_canon string")
        sb = build_bloom(seen, "url_canon", n_shards=8)
        unseen, _ = seen_filter_exact(cand, seen, sb)
        got = {r["url_canon"] for r in unseen.collect()}
        want = {u for (u,) in self._urls(500, 900)}
        assert got == want

    def test_incremental_shardwise_merge(self, spark):
        from podcast_plow_spark.operators.seen import build_bloom

        seen0 = spark.createDataFrame(self._urls(0, 300), "url_canon string")
        delta = spark.createDataFrame(self._urls(300, 400), "url_canon string")
        sb = build_bloom(seen0, "url_canon", n_shards=8)
        sb2 = sb.merge(build_bloom(delta, "url_canon", like=sb))
        # no false negatives over the union after the shard-wise OR
        all_seen = spark.createDataFrame(self._urls(0, 400), "url_canon string")
        from podcast_plow_spark.operators.seen import probe_bloom

        probed = probe_bloom(all_seen, sb2)
        assert probed.where(~F.col("maybe_seen")).count() == 0

    def test_fpr_stats_path_with_shards(self, spark):
        from podcast_plow_spark.operators.seen import build_bloom

        seen = spark.createDataFrame(self._urls(0, 200), "url_canon string")
        cand = spark.createDataFrame(self._urls(100, 300), "url_canon string")
        sb = build_bloom(seen, "url_canon", n_shards=4)
        unseen, stats = seen_filter_exact(cand, seen, sb, measure_fpr=True)
        assert unseen.count() == 100
        rows = stats.collect()
        assert rows and all(r["urls_in"] >= 0 and r["bloom_pos"] >= 0 for r in rows)

    def test_one_shard_build_is_bit_identical_to_local_filter(self, spark):
        """The monolithic filter is the 1-shard build: its one shard's
        words equal a driver-side BloomFilter sized for n and fed the
        same int64 keys (first 15 sha256 hex chars), so lineage
        bloom_fpr and resume byte-identity cannot move."""
        import hashlib

        from podcast_plow_spark.operators.seen import ShardedBloom

        urls = [u for (u,) in self._urls(0, 500)]
        seen = spark.createDataFrame([(u,) for u in urls], "url_canon string").repartition(3)
        sb = build_bloom(seen, "url_canon", n_shards=1)
        assert isinstance(sb, ShardedBloom) and sb.n_shards == 1 and list(sb.shards) == [0]
        local = BloomFilter.sized_for(len(urls))
        local.add_many(
            np.array([int(hashlib.sha256(u.encode()).hexdigest()[:15], 16) for u in urls], dtype=np.uint64)
        )
        assert np.array_equal(sb.shards[0].words, local.words)

    def test_engine_run_identical_with_shards(self, spark, fixtures, tmp_path_factory):
        """The sharded filter must not change ANY observable crawl
        output: run the fixture crawl with and without shards and
        compare crawl logs and frontiers row-for-row."""
        outs = {}
        for name, shards in (("mono", 1), ("sharded", 4)):
            store = SnapshotStore(str(tmp_path_factory.mktemp(f"sb_{name}")))
            eng = CrawlEngine(
                spark,
                store,
                fixtures.root,
                config=CrawlConfig(
                    batch_size=8, per_host_cap=2, num_partitions=4, bloom_shards=shards
                ),
            )
            eng.run(seeds_path=f"{fixtures.root}/feeds.txt", max_epochs=100)
            log = store.read_table(spark, "crawl_log")
            fr_t = store.read_table(spark, "frontier")
            outs[name] = (
                sorted(map(tuple, log.select("epoch", "crawl_rank", "url_canon").collect())),
                sorted(r["url_canon"] for r in fr_t.select("url_canon").collect()),
            )
        assert outs["mono"] == outs["sharded"]


class TestHotTierFold:
    """Cuckoo hot tier + amortized Bloom folds (north rule's "blocked
    Bloom + cuckoo hot tier"): the tier is pure maintenance-cost
    engineering — crawl output must be bit-identical to the
    fold-every-epoch default, and the tier must actually engage."""

    def test_engine_run_identical_with_hot_tier(self, spark, fixtures, tmp_path_factory):
        outs = {}
        engines = {}
        for name, fold in (("every_epoch", 1), ("amortized", 3)):
            store = SnapshotStore(str(tmp_path_factory.mktemp(f"hot_{name}")))
            eng = CrawlEngine(
                spark,
                store,
                fixtures.root,
                config=CrawlConfig(
                    batch_size=8,
                    per_host_cap=2,
                    num_partitions=4,
                    bloom_fold_epochs=fold,
                ),
            )
            eng.run(seeds_path=f"{fixtures.root}/feeds.txt", max_epochs=100)
            engines[name] = eng
            log = store.read_table(spark, "crawl_log")
            fr_t = store.read_table(spark, "frontier")
            outs[name] = (
                sorted(map(tuple, log.select("epoch", "crawl_rank", "url_canon").collect())),
                sorted(r["url_canon"] for r in fr_t.select("url_canon").collect()),
            )
        assert outs["every_epoch"] == outs["amortized"]
        # the amortized engine actually used the tier at some point:
        # after the final fold it may be None again, so check the fold
        # bookkeeping advanced past the initial state
        eng = engines["amortized"]
        assert eng._hot is not None or eng._last_fold_epoch > 0

    def test_sharded_bloom_with_hot_tier_identical(self, spark, fixtures, tmp_path_factory):
        """The 10^10 flagship config — sharded Bloom + cuckoo hot tier
        + amortized folds — must produce the same crawl as the plain
        monolith fold-every-epoch default."""
        outs = {}
        for name, kw in (
            ("default", {}),
            ("sharded_hot", {"bloom_shards": 4, "bloom_fold_epochs": 3}),
        ):
            store = SnapshotStore(str(tmp_path_factory.mktemp(f"sh_{name}")))
            eng = CrawlEngine(
                spark,
                store,
                fixtures.root,
                config=CrawlConfig(batch_size=8, per_host_cap=2, num_partitions=4, **kw),
            )
            eng.run(seeds_path=f"{fixtures.root}/feeds.txt", max_epochs=100)
            log = store.read_table(spark, "crawl_log")
            fr_t = store.read_table(spark, "frontier")
            outs[name] = (
                sorted(map(tuple, log.select("epoch", "crawl_rank", "url_canon").collect())),
                sorted(r["url_canon"] for r in fr_t.select("url_canon").collect()),
            )
        assert outs["default"] == outs["sharded_hot"]

    def test_resume_with_hot_tier_is_byte_identical(self, spark, fixtures, tmp_path_factory):
        """Kill mid-crawl with an UNFOLDED hot tier, resume in a fresh
        engine: the tier is process-local state, so the invariant
        (bloom ∪ hot ⊇ seen) must be re-established from the store —
        the resumed process rebuilds the full Bloom on first probe.
        Final state must equal an uninterrupted amortized run AND the
        fold-every-epoch run."""
        cfg = dict(batch_size=8, per_host_cap=2, num_partitions=4, bloom_fold_epochs=4)

        def crawl(store_dir, max_epochs=100, resume=False):
            eng = CrawlEngine(
                spark, SnapshotStore(store_dir), fixtures.root, config=CrawlConfig(**cfg)
            )
            if resume:
                eng.run(max_epochs=max_epochs, resume=True)
            else:
                eng.run(seeds_path=f"{fixtures.root}/feeds.txt", max_epochs=max_epochs)
            return eng

        d1 = str(tmp_path_factory.mktemp("hot_uninterrupted"))
        full = crawl(d1)
        d2 = str(tmp_path_factory.mktemp("hot_interrupted"))
        crawl(d2, max_epochs=2)  # killed with tier state lost
        resumed = crawl(d2, resume=True)
        assert resumed.crawl_order() == full.crawl_order()
        assert resumed.seen_set() == full.seen_set()
        assert resumed.fetched_image_ids() == full.fetched_image_ids()


class TestSaltedEpoch:
    """Hot-host salting wired into CrawlEngine.run_epoch (north rule,
    VERDICT r4 item 2): salting must not change the crawl ordering or
    the URL-seen set — it only re-times hot-host fetch offsets (still
    honoring the per-host budget) and spreads their physical layout."""

    def _crawl(self, spark, fixtures, store_dir, threshold, cap=4):
        store = SnapshotStore(store_dir)
        eng = CrawlEngine(
            spark,
            store,
            fixtures.root,
            config=CrawlConfig(
                batch_size=16,
                per_host_cap=cap,
                num_partitions=4,
                salt_hot_batch_threshold=threshold,
                salt_n_salts=4,
            ),
        )
        eng.run(seeds_path=f"{fixtures.root}/feeds.txt", max_epochs=100)
        return eng.store

    def test_crawl_output_identical_salted_vs_not(self, spark, fixtures, tmp_path_factory):
        outs = {}
        for name, thr in (("unsalted", 0), ("salted", 2)):
            # threshold 2 with per_host_cap 4 ⇒ every multi-row host in a
            # batch is treated as hot — the aggressive end of the knob
            store = self._crawl(
                spark, fixtures, str(tmp_path_factory.mktemp(f"salt_{name}")), thr
            )
            log = store.read_table(spark, "crawl_log")
            fr_t = store.read_table(spark, "frontier")
            outs[name] = (
                sorted(map(tuple, log.select("epoch", "crawl_rank", "url_canon").collect())),
                sorted(r["url_canon"] for r in fr_t.select("url_canon").collect()),
            )
        assert outs["unsalted"] == outs["salted"]

    def test_salted_offsets_honor_per_host_budget(self, spark, fixtures, tmp_path_factory):
        """In the salted crawl every pair of same-host fetches in an
        epoch is still ≥ the effective per-host spacing apart (the lane
        grid guarantees distinct spacing-slots per host)."""
        import os

        store = self._crawl(
            spark, fixtures, str(tmp_path_factory.mktemp("salt_budget")), threshold=2
        )
        from podcast_plow_spark.operators.politeness import parse_crawl_delay

        def effective_delay(host: str) -> float:
            p = os.path.join(fixtures.root, "sites", host, "robots.txt")
            if os.path.exists(p):
                d = parse_crawl_delay(open(p).read(), "plow-spark")
                if d is not None:
                    return d
            return 0.34

        log = store.read_table(spark, "crawl_log").collect()
        by_key: dict = {}
        for r in log:
            by_key.setdefault((r["epoch"], r["host"]), []).append(r["fetch_offset_sec"])
        multi = 0
        for (_e, host), offs in by_key.items():
            offs.sort()
            gaps = [b - a for a, b in zip(offs, offs[1:])]
            if gaps:
                multi += 1
                assert min(gaps) >= effective_delay(host) - 1e-9, (host, offs)
        assert multi > 0  # the invariant was actually exercised
