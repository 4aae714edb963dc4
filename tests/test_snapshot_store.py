"""SnapshotStore bucketed/append semantics — the Iceberg-analog layer
the 10^10 design depends on (SCALE_DESIGN.md): bucket-pruned MERGE
rewrites only touched buckets; append tables never re-write history;
GC keeps every file reachable from retained snapshots."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from podcast_plow_spark.sources.snapshots import INLINE_ROWS_MAX, MAX_DELTA_PARTS, SnapshotStore


def _frontier_like(spark, ids, bucket_of=lambda i: i % 4):
    return spark.createDataFrame(
        [(i, bucket_of(i), f"u{i}", "queued") for i in ids],
        "seq long, host_hash int, url_canon string, status string",
    )


class TestBucketed:
    def test_roundtrip_keeps_schema_and_rows(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        df = _frontier_like(spark, range(20))
        store.write_bucketed("frontier", df)
        store.commit(0)
        back = store.read_table(spark, "frontier")
        assert sorted(back.columns) == sorted(df.columns)
        assert back.count() == 20
        assert {r["host_hash"] for r in back.select("host_hash").distinct().collect()} == {0, 1, 2, 3}

    def test_bucket_pruned_read(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(20)))
        store.commit(0)
        sub = store.read_table(spark, "frontier", bucket_ids=[1, 3])
        assert {r["host_hash"] for r in sub.select("host_hash").distinct().collect()} == {1, 3}
        # pruning happens at the manifest level: only those dirs are read
        entry = store.table_entry("frontier")
        assert set(entry["buckets"]) == {"0", "1", "2", "3"}

    def test_merge_rewrites_only_touched_buckets(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(20)))
        store.commit(0)
        before = dict(store.table_entry("frontier")["buckets"])

        # new content for buckets 1 and 2 only
        touched = spark.createDataFrame(
            [(100, 1, "u100", "finished"), (101, 2, "u101", "queued")],
            "seq long, host_hash int, url_canon string, status string",
        )
        rewritten = store.merge_buckets("frontier", touched)
        store.commit(1)
        after = dict(store.table_entry("frontier")["buckets"])

        assert rewritten == [1, 2]
        assert after["0"] == before["0"] and after["3"] == before["3"]  # pointers carried
        assert after["1"] != before["1"] and after["2"] != before["2"]
        # content: buckets 1/2 replaced wholesale, 0/3 untouched
        back = store.read_table(spark, "frontier")
        assert back.count() == 5 + 5 + 2  # bucket0(5) + bucket3(5) + new(2)
        assert back.where(F.col("host_hash") == 1).count() == 1

    def test_merge_can_create_new_bucket(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(8)))
        store.commit(0)
        newb = spark.createDataFrame(
            [(200, 9, "u200", "queued")], "seq long, host_hash int, url_canon string, status string"
        )
        assert store.merge_buckets("frontier", newb) == [9]
        store.commit(1)
        assert store.read_table(spark, "frontier", bucket_ids=[9]).count() == 1
        assert store.read_table(spark, "frontier").count() == 9

    def test_uncommitted_merge_is_invisible(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(8)))
        store.commit(0)
        touched = spark.createDataFrame(
            [(100, 1, "u100", "finished")], "seq long, host_hash int, url_canon string, status string"
        )
        store.merge_buckets("frontier", touched)
        # no commit → readers still see snapshot 0 (atomicity)
        fresh = SnapshotStore(str(tmp_path))
        assert fresh.read_table(spark, "frontier").count() == 8


class TestAppend:
    def test_appends_accumulate_without_rewrites(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        store.append_table("log", spark.createDataFrame([(1,)], "epoch long"))
        store.commit(0)
        p0 = list(store.table_entry("log")["parts"])
        store.append_table("log", spark.createDataFrame([(2,), (3,)], "epoch long"))
        store.commit(1)
        parts = store.table_entry("log")["parts"]
        assert parts[: len(p0)] == p0  # old parts untouched (no rewrite)
        assert len(parts) == len(p0) + 1
        assert store.read_table(spark, "log").count() == 3

    def test_declared_empty_crawl_log_has_crawl_log_schema(self, spark, tmp_path):
        """bootstrap declares crawl_log with no part: no data file is
        written, and a read is an empty frame of CRAWL_LOG_SCHEMA."""
        from pyspark.sql.types import StructType

        from podcast_plow_spark.crawl.engine import CRAWL_LOG_SCHEMA

        store = SnapshotStore(str(tmp_path))
        store.declare_table("crawl_log", CRAWL_LOG_SCHEMA)
        store.commit(0)
        assert store.table_entry("crawl_log")["parts"] == []
        assert not os.path.exists(os.path.join(str(tmp_path), "data", "crawl_log"))
        log = store.read_table(spark, "crawl_log")
        assert log.schema == StructType.fromDDL(CRAWL_LOG_SCHEMA)
        assert log.count() == 0

    def test_inline_rows_spill_into_one_part_past_bound(self, spark, tmp_path):
        """append_rows keeps rows in the manifest until they pass
        INLINE_ROWS_MAX, then moves all of them into one part; the rows
        read back are the same either way."""
        store = SnapshotStore(str(tmp_path))
        store.declare_table("lineage", "epoch long, n long, fpr double")
        store.commit(0)
        step = INLINE_ROWS_MAX // 2 + 1
        want = []
        for e in range(1, 4):
            rows = [(e, i, 0.5) for i in range(step)]
            store.append_rows("lineage", rows)
            store.commit(e)
            want += rows
            entry = store.table_entry("lineage")
            assert len(entry["rows"]) <= INLINE_ROWS_MAX
            got = sorted(tuple(r) for r in store.read_table(spark, "lineage").collect())
            assert got == sorted(want), e
        # 3 steps pass the bound once: one spill part, the rest inline
        assert len(entry["parts"]) == 1 and len(entry["rows"]) == step


class TestExpire:
    def test_gc_keeps_reachable_mixed_kinds(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(8)))
        store.append_table("log", spark.createDataFrame([(1,)], "epoch long"))
        store.commit(0)
        for e in range(1, 5):
            touched = spark.createDataFrame(
                [(100 + e, e % 4, f"u{100+e}", "queued")],
                "seq long, host_hash int, url_canon string, status string",
            )
            store.merge_buckets("frontier", touched)
            store.append_table("log", spark.createDataFrame([(e,)], "epoch long"))
            store.commit(e)
        n_front = store.read_table(spark, "frontier").count()
        n_log = store.read_table(spark, "log").count()
        store.expire_snapshots(keep_last=2)
        # everything reachable from the latest snapshot still reads fine
        assert store.read_table(spark, "frontier").count() == n_front
        assert store.read_table(spark, "log").count() == n_log
        # old manifests gone
        assert len(os.listdir(os.path.join(str(tmp_path), "manifests"))) == 2

    def test_gc_keeps_every_live_delta_part(self, spark, tmp_path):
        """With many delta parts pending, expiring old snapshots keeps
        every part the live manifest lists, and the overlay reads the
        same rows after the GC."""
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(8)))
        store.commit(0)
        n_parts = MAX_DELTA_PARTS - 1
        for e in range(1, n_parts + 1):
            upd = spark.createDataFrame(
                [(e % 8, e % 4, f"u{e % 8}", f"s{e}"), (100 + e, e % 4, f"u{100 + e}", "queued")],
                "seq long, host_hash int, url_canon string, status string",
            )
            store.merge_delta("frontier", upd)
            store.commit(e)
        deltas = store.table_entry("frontier")["deltas"]
        assert len(deltas) == n_parts
        before = sorted(tuple(r) for r in store.read_table(spark, "frontier").collect())
        store.expire_snapshots(keep_last=1)
        assert all(os.path.isdir(os.path.join(str(tmp_path), rel)) for rel in deltas)
        after = sorted(tuple(r) for r in store.read_table(spark, "frontier").collect())
        assert after == before
        assert len(after) == 8 + n_parts

    def test_gc_removes_unreachable_versions(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        for e in range(4):
            store.write_table("t", spark.createDataFrame([(e,)], "v long"))
            store.commit(e)
        versions_before = len(os.listdir(os.path.join(str(tmp_path), "data", "t")))
        assert versions_before == 4
        store.expire_snapshots(keep_last=1)
        assert len(os.listdir(os.path.join(str(tmp_path), "data", "t"))) == 1
        assert store.read_table(spark, "t").collect()[0]["v"] == 3


class TestMergeOnRead:
    def test_overlay_replaces_and_inserts(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(8)))
        store.commit(0)
        upd = spark.createDataFrame(
            [(1, 1, "u1", "finished"), (100, 2, "u100", "queued")],
            "seq long, host_hash int, url_canon string, status string",
        )
        store.merge_delta("frontier", upd)
        store.commit(1)
        back = store.read_table(spark, "frontier")
        assert back.count() == 9  # 8 base, 1 replaced, 1 inserted
        assert back.where(F.col("seq") == 1).collect()[0]["status"] == "finished"
        # bucket pointers did NOT move — epoch write cost is O(delta)
        assert store.table_entry("frontier")["buckets"] == {
            k: v for k, v in store.table_entry("frontier", epoch=0)["buckets"].items()
        }

    def test_repeated_updates_latest_wins_across_bounded_parts(self, spark, tmp_path):
        """Each merge adds one part; the newest part's row wins for a
        key updated in every part, and the compaction policy keeps the
        part count at or below MAX_DELTA_PARTS."""
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(8)))
        store.commit(0)
        most_parts = 0
        for e in range(1, MAX_DELTA_PARTS + 2):
            upd = spark.createDataFrame(
                [(3, 3, "u3", f"s{e}")], "seq long, host_hash int, url_canon string, status string"
            )
            store.merge_delta("frontier", upd)
            if store.compaction_due(spark, "frontier", max_rows=10**9):
                store.compact_deltas("frontier")
            store.commit(e)
            entry = store.table_entry("frontier")
            most_parts = max(most_parts, len(entry["deltas"]))
            if e in (2, MAX_DELTA_PARTS - 1, MAX_DELTA_PARTS + 1):
                back = store.read_table(spark, "frontier")
                assert back.where(F.col("seq") == 3).collect()[0]["status"] == f"s{e}", e
                assert back.count() == 8, e
        assert most_parts == MAX_DELTA_PARTS - 1  # the bound compacts, parts never pile up

    def test_part_bound_compaction_is_pure_layout_change(self, spark, tmp_path):
        """MAX_DELTA_PARTS parts make compaction due however few rows
        they hold; folding them changes the layout, not the rows read."""
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(8)))
        store.commit(0)
        for e in range(1, MAX_DELTA_PARTS + 1):
            upd = spark.createDataFrame(
                [(e % 3, e % 3 % 4, f"u{e % 3}", f"s{e}"), (200 + e, 9, f"u{200 + e}", "queued")],
                "seq long, host_hash int, url_canon string, status string",
            )
            store.merge_delta("frontier", upd, approx_rows=2)
            assert store.compaction_due(spark, "frontier", max_rows=10**9) == (e == MAX_DELTA_PARTS)
            store.commit(e)
        pre = sorted(tuple(r) for r in store.read_table(spark, "frontier").collect())
        store.compact_deltas("frontier")
        store.commit(MAX_DELTA_PARTS + 1)
        assert store.table_entry("frontier")["deltas"] == []
        post = sorted(tuple(r) for r in store.read_table(spark, "frontier").collect())
        assert post == pre

    def test_compaction_folds_then_clears(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(8)))
        store.commit(0)
        upd = spark.createDataFrame(
            [(1, 1, "u1", "finished"), (200, 9, "u200", "queued")],
            "seq long, host_hash int, url_canon string, status string",
        )
        store.merge_delta("frontier", upd)
        store.commit(1)
        pre = sorted(tuple(r) for r in store.read_table(spark, "frontier").collect())
        rewritten = store.compact_deltas("frontier")
        store.commit(2)
        assert sorted(rewritten) == [1, 9]  # only delta-touched buckets
        entry = store.table_entry("frontier")
        assert entry["deltas"] == []
        post = sorted(tuple(r) for r in store.read_table(spark, "frontier").collect())
        assert post == pre  # compaction is a pure layout change

    def test_bucket_pruned_read_applies_overlay(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", _frontier_like(spark, range(8)))
        store.commit(0)
        upd = spark.createDataFrame(
            [(1, 1, "u1", "finished")], "seq long, host_hash int, url_canon string, status string"
        )
        store.merge_delta("frontier", upd)
        store.commit(1)
        sub = store.read_table(spark, "frontier", bucket_ids=[1])
        rows = {r["seq"]: r["status"] for r in sub.collect()}
        assert rows[1] == "finished" and len(rows) == 2  # seqs 1, 5


class TestWriteOrdered:
    """WRITE ORDERED BY analog: order-key sort inside each bucket file
    makes parquet row-group min/max stats selective for the dequeue's
    pushed prefix filter (the Iceberg sort-order property the 10^10
    epoch-flatness design relies on — BENCH/EPOCH_SCALING.md)."""

    ORDER = [["priority", "desc"], ["run_at", "asc"], ["seq", "asc"]]

    @staticmethod
    def _rows(spark, n, seed_shift=0):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [
                (
                    i + seed_shift,
                    i % 4,
                    f"u{i + seed_shift}",
                    "queued",
                    (i * 7 + seed_shift) % 10,
                    base + dt.timedelta(seconds=(i * 13) % 1000),
                )
                for i in range(n)
            ],
            "seq long, host_hash int, url_canon string, status string, priority int, run_at timestamp",
        )

    @staticmethod
    def _files_sorted_by_priority_desc(root, rel_entry) -> bool:
        """Every data file's rows are non-increasing in priority —
        verified from the files themselves via pyarrow."""
        import pyarrow.parquet as pq

        ok = True
        for rel in rel_entry["buckets"].values():
            path = os.path.join(root, rel)
            for f in os.listdir(path):
                if not f.endswith(".parquet"):
                    continue
                col = pq.read_table(os.path.join(path, f), columns=["priority"])["priority"].to_pylist()
                ok = ok and all(a >= b for a, b in zip(col, col[1:]))
        return ok

    def test_files_are_order_sorted_and_rows_intact(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        df = self._rows(spark, 200)
        store.write_bucketed("frontier", df, order_by=self.ORDER)
        store.commit(0)
        entry = store.table_entry("frontier")
        assert entry["write_order"] == self.ORDER
        assert self._files_sorted_by_priority_desc(str(tmp_path), entry)
        back = store.read_table(spark, "frontier")
        assert sorted(r["seq"] for r in back.collect()) == list(range(200))

    def test_compaction_preserves_write_order(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        store.write_bucketed("frontier", self._rows(spark, 200), order_by=self.ORDER)
        store.commit(0)
        store.merge_delta("frontier", self._rows(spark, 40, seed_shift=1000))
        store.commit(1)
        pre = sorted(tuple(r) for r in store.read_table(spark, "frontier").collect())
        store.compact_deltas("frontier")
        store.commit(2)
        entry = store.table_entry("frontier")
        assert entry["write_order"] == self.ORDER
        assert self._files_sorted_by_priority_desc(str(tmp_path), entry)
        assert sorted(tuple(r) for r in store.read_table(spark, "frontier").collect()) == pre

    def test_prefix_filter_prunes_row_groups(self, spark, tmp_path):
        """The point of the property: a dequeue-shaped prefix filter
        over the store reads only the head row groups. Verified via
        pyarrow stats (each file's later row groups are skippable) —
        Spark-side the same stats drive filterPushdown row-group
        skipping."""
        import pyarrow.parquet as pq

        store = SnapshotStore(str(tmp_path))
        # tiny row groups (the pruning quantum — Iceberg
        # write.parquet.row-group-size-bytes analog) so this small
        # fixture actually exercises multi-group stats
        store.write_bucketed(
            "frontier", self._rows(spark, 2000), order_by=self.ORDER, row_group_bytes=16 << 10
        )
        store.commit(0)
        entry = store.table_entry("frontier")
        assert entry["row_group_bytes"] == 16 << 10
        multi_group = False
        # the prefix cut: priority > 8 — with priority-desc in-file
        # order, row groups whose max priority <= 8 are skippable
        for rel in entry["buckets"].values():
            path = os.path.join(str(tmp_path), rel)
            for f in os.listdir(path):
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(path, f)).metadata
                multi_group = multi_group or md.num_row_groups > 1
                maxes = [
                    md.row_group(i).column(
                        next(
                            j
                            for j in range(md.num_columns)
                            if md.row_group(i).column(j).path_in_schema == "priority"
                        )
                    ).statistics.max
                    for i in range(md.num_row_groups)
                ]
                # priority maxima never increase across row groups —
                # a 'priority > p' filter prunes a contiguous tail
                assert all(a >= b for a, b in zip(maxes, maxes[1:]))
        # the quantum knob actually produced sub-file row groups
        assert multi_group
        # and the filtered read is still correct
        got = store.read_table(spark, "frontier").where(F.col("priority") > 8).count()
        expect = sum(1 for i in range(2000) if (i * 7) % 10 > 8)
        assert got == expect


def test_engine_epoch_is_delta_only_then_compaction_prunes(spark, tmp_path_factory):
    """Engine persistence contract at scale: a normal epoch moves NO
    bucket pointers (merge-on-read delta only — O(batch) write); with
    compaction forced every epoch, the rewrite touches only buckets of
    batch/discovery hosts."""
    from podcast_plow_spark.crawl.engine import CrawlConfig, CrawlEngine
    from podcast_plow_spark.functions.urls import host_hash_py
    from podcast_plow_spark.sources.fixtures import FixtureSpec, make_fixtures

    root = str(tmp_path_factory.mktemp("fixtures"))
    fx = make_fixtures(FixtureSpec(root=root, n_feeds=6, entries_per_feed=6))
    npart = 32

    # (a) default threshold: pure MoR — pointers never move
    store = SnapshotStore(str(tmp_path_factory.mktemp("store_mor")))
    eng = CrawlEngine(
        spark, store, fx.root, config=CrawlConfig(batch_size=4, per_host_cap=1, num_partitions=npart)
    )
    eng.bootstrap(f"{fx.root}/feeds.txt")
    before = dict(store.table_entry("frontier")["buckets"])
    assert eng.run_epoch()
    after = dict(store.table_entry("frontier")["buckets"])
    assert after == before  # delta-only epoch
    assert store.table_entry("frontier")["deltas"]

    # (b) compaction forced every epoch: rewrite ⊆ batch+discovery buckets
    store2 = SnapshotStore(str(tmp_path_factory.mktemp("store_cow")))
    eng2 = CrawlEngine(
        spark,
        store2,
        fx.root,
        config=CrawlConfig(
            batch_size=4, per_host_cap=1, num_partitions=npart, delta_compact_rows=1
        ),
    )
    eng2.bootstrap(f"{fx.root}/feeds.txt")
    untouched_seen = 0
    for epoch in range(1, 4):
        before = dict(store2.table_entry("frontier")["buckets"])
        if not eng2.run_epoch():
            break
        after = dict(store2.table_entry("frontier")["buckets"])
        log = store2.read_table(spark, "crawl_log").where(F.col("epoch") == epoch)
        batch_hosts = {r["host"] for r in log.select("host").distinct().collect()}
        new_hosts = {
            r["host"]
            for r in store2.read_table(spark, "frontier")
            .where(F.col("discovered_epoch") == epoch)
            .select("host")
            .distinct()
            .collect()
        }
        allowed = {str(host_hash_py(h, npart)) for h in batch_hosts | new_hosts}
        moved = {b for b in after if after[b] != before.get(b)}
        assert moved <= allowed, f"epoch {epoch}: moved {moved - allowed} beyond touched hosts"
        untouched_seen += sum(1 for b in before if after.get(b) == before[b])
    assert untouched_seen > 0  # the pruning actually pruned something


def test_epoch_delta_part_holds_only_its_batch_and_new_rows(spark, tmp_path_factory):
    """O(batch) epoch writes: epoch e's new delta part holds exactly
    its batch (re-stated as finished) plus its discoveries, whatever e
    is — no earlier part's rows are carried into it."""
    import pyarrow.parquet as pq

    from podcast_plow_spark.crawl.engine import CrawlConfig, CrawlEngine
    from podcast_plow_spark.sources.fixtures import FixtureSpec, make_fixtures

    fx = make_fixtures(FixtureSpec(root=str(tmp_path_factory.mktemp("fx_parts")), n_feeds=3, entries_per_feed=4))
    store = SnapshotStore(str(tmp_path_factory.mktemp("store_parts")))
    eng = CrawlEngine(
        spark, store, fx.root, config=CrawlConfig(batch_size=4, per_host_cap=2, num_partitions=4)
    )
    eng.bootstrap(f"{fx.root}/feeds.txt")
    epoch = 0
    while eng.run_epoch():
        epoch += 1
        deltas = store.table_entry("frontier")["deltas"]
        assert len(deltas) == epoch  # one new part per epoch, none folded
        part = os.path.join(store.root, deltas[-1])
        part_rows = sum(
            pq.ParquetFile(os.path.join(part, f)).metadata.num_rows
            for f in os.listdir(part)
            if f.endswith(".parquet")
        )
        n_batch = store.read_table(spark, "crawl_log").where(F.col("epoch") == epoch).count()
        n_new = store.read_table(spark, "frontier").where(F.col("discovered_epoch") == epoch).count()
        assert n_batch > 0
        assert part_rows == n_batch + n_new, (epoch, part_rows, n_batch, n_new)
    assert 3 <= epoch < MAX_DELTA_PARTS  # several parts, none compacted away


def test_engine_on_bucketed_store_matches_oracle(spark, tmp_path_factory):
    """Crawl parity is layout-independent: the bucketed store + polite
    dequeue produce the identical ordering/seen set as the oracle —
    both in pure merge-on-read mode AND with compaction forced every
    epoch (compaction is a layout change, never a semantic one)."""
    from podcast_plow_spark.crawl.engine import CrawlConfig, CrawlEngine
    from podcast_plow_spark.crawl.oracle import sequential_crawl
    from podcast_plow_spark.sources.fixtures import FixtureSpec, make_fixtures

    root = str(tmp_path_factory.mktemp("fx2"))
    fx = make_fixtures(FixtureSpec(root=root, n_feeds=5, entries_per_feed=5))
    oracle = sequential_crawl(fx.root, batch_size=6, per_host_cap=2)

    for compact_rows in (100_000, 1):  # MoR-only, compact-every-epoch
        store = SnapshotStore(str(tmp_path_factory.mktemp(f"store2_{compact_rows}")))
        eng = CrawlEngine(
            spark,
            store,
            fx.root,
            config=CrawlConfig(
                batch_size=6, per_host_cap=2, num_partitions=16, delta_compact_rows=compact_rows
            ),
        )
        eng.run(seeds_path=f"{fx.root}/feeds.txt")
        assert eng.crawl_order() == oracle.crawl_order, compact_rows
        assert eng.seen_set() == oracle.seen, compact_rows
        assert eng.fetched_image_ids() == oracle.fetched_images, compact_rows


def test_compact_in_same_epoch_as_merge_folds_staged_delta(spark, tmp_path):
    """Regression: compacting in the SAME (uncommitted) epoch as a
    merge_delta must fold the staged delta, not the committed state."""
    store = SnapshotStore(str(tmp_path))
    store.write_bucketed("frontier", _frontier_like(spark, range(8)))
    store.commit(0)
    upd = spark.createDataFrame(
        [(1, 1, "u1", "finished")], "seq long, host_hash int, url_canon string, status string"
    )
    store.merge_delta("frontier", upd)
    store.compact_deltas("frontier")  # same epoch, no commit in between
    store.commit(1)
    back = store.read_table(spark, "frontier")
    assert back.where(F.col("seq") == 1).collect()[0]["status"] == "finished"
    assert back.count() == 8
    assert store.table_entry("frontier")["deltas"] == []
