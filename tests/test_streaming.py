"""Structured-Streaming frontier ingestion: availableNow drain over a
seed-file directory into the engine's snapshot store, an idempotent
re-run, and stream = batch on the frontier and the crawl it drives."""

from __future__ import annotations

import os

from podcast_plow_spark.crawl.engine import CrawlConfig, CrawlEngine
from podcast_plow_spark.operators.frontier import FRONTIER_SCHEMA
from podcast_plow_spark.sources.fixtures import FixtureSpec, make_fixtures
from podcast_plow_spark.sources.snapshots import SnapshotStore
from podcast_plow_spark.streaming.frontier_stream import run_ingest_stream

CFG = dict(batch_size=8, per_host_cap=2, num_partitions=4)


def _write_seeds(seeds_dir: str, name: str, lines: list[str], mtime: int) -> None:
    path = os.path.join(seeds_dir, name)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    # the file source reads files in modification-time order
    os.utime(path, (mtime, mtime))


def _ingest(spark, store_dir: str, fixtures_root: str, seeds_dir: str, ckpt: str) -> CrawlEngine:
    eng = CrawlEngine(spark, SnapshotStore(store_dir), fixtures_root, config=CrawlConfig(**CFG))
    q = run_ingest_stream(eng, seeds_dir, ckpt)
    q.awaitTermination(180)
    assert q.exception() is None
    return eng


def _frontier_rows(spark, eng: CrawlEngine) -> list[tuple]:
    cols = [f.name for f in FRONTIER_SCHEMA.fields if f.name != "discovered_epoch"]
    rows = eng.store.read_table(spark, "frontier").select(*cols).orderBy("seq").collect()
    return [tuple(r) for r in rows]


def test_available_now_drain_and_idempotent_sink(spark, tmp_path):
    seeds, ckpt, store, fx = (str(tmp_path / d) for d in ("seeds", "ckpt", "store", "fx"))
    os.makedirs(seeds)
    os.makedirs(fx)
    _write_seeds(
        seeds,
        "a.txt",
        [
            "# comment",
            "https://A.com/x?utm_source=t",
            "https://a.com/x",  # canonical dup of the line above
            "https://b.com/y",
        ],
        mtime=1_000_000,
    )
    eng = _ingest(spark, store, fx, seeds, ckpt)
    rows = {r["url_canon"]: r for r in eng.store.read_table(spark, "frontier").collect()}
    assert set(rows) == {"https://a.com/x", "https://b.com/y"}
    assert rows["https://a.com/x"]["url"] == "https://A.com/x?utm_source=t"  # first wins
    assert eng.store.latest_metadata()["n_queued"] == 2

    # second run: one new URL + one already-ingested URL → one new row
    _write_seeds(seeds, "b.txt", ["https://b.com/y", "https://c.com/z"], mtime=1_001_000)
    eng2 = _ingest(spark, store, fx, seeds, ckpt)
    rows2 = eng2.store.read_table(spark, "frontier").collect()
    assert len(rows2) == 3
    assert {r["url_canon"] for r in rows2} == {"https://a.com/x", "https://b.com/y", "https://c.com/z"}
    meta = eng2.store.latest_metadata()
    assert meta["n_queued"] == 3 and meta["next_seq"] == 4


def test_streaming_bootstrap_matches_batch_engine(spark, tmp_path):
    """The same seed lines, bootstrapped by the batch engine from one
    file and streamed as three files through ``run_ingest_stream``,
    give the same frontier (every column but ``discovered_epoch``) and
    the same crawl. The seeds hold a robots-disallowed URL and one
    canonical URL written two ways, within one file and across two."""
    fx = make_fixtures(FixtureSpec(root=str(tmp_path / "fx"), n_feeds=4, entries_per_feed=2))
    blocked = os.path.join(fx.root, "sites", "blocked.example.com")
    os.makedirs(blocked)
    with open(os.path.join(blocked, "robots.txt"), "w") as fh:
        fh.write("User-agent: *\nDisallow: /private\n")
    files = [
        [
            "# streamed seeds",
            "https://host0000.example.com/feed.xml",
            "https://HOST0001.example.com/feed.xml?utm_source=t",
            "",
            "https://host0001.example.com/feed.xml",
        ],
        [
            "https://blocked.example.com/private/a",
            "https://host0002.example.com/feed.xml",
            "https://blocked.example.com/public/b",
        ],
        ["https://Host0002.example.com/feed.xml#top", "https://host0003.example.com/feed.xml"],
    ]

    seeds_all = tmp_path / "seeds_all.txt"
    seeds_all.write_text("\n".join(line for f in files for line in f) + "\n")
    store_b = SnapshotStore(str(tmp_path / "store_batch"))
    eng_b = CrawlEngine(spark, store_b, fx.root, config=CrawlConfig(**CFG))
    eng_b.bootstrap(str(seeds_all))

    sdir = tmp_path / "seeds_stream"
    sdir.mkdir()
    for i, f in enumerate(files):
        _write_seeds(str(sdir), f"s{i:02d}.txt", f, mtime=1_000_000 + 1000 * i)
    eng_s = _ingest(spark, str(tmp_path / "store_stream"), fx.root, str(sdir), str(tmp_path / "ck"))
    assert eng_s.store.latest_epoch() == 2  # one snapshot per seed file

    got = _frontier_rows(spark, eng_s)
    assert "https://blocked.example.com/private/a" not in {r[1] for r in got}  # robots gate
    # url in seq order: the first spelling of a canonical URL wins,
    # within one file (host0001) and across files (host0002)
    assert [r[0] for r in got] == [
        "https://host0000.example.com/feed.xml",
        "https://HOST0001.example.com/feed.xml?utm_source=t",
        "https://host0002.example.com/feed.xml",
        "https://blocked.example.com/public/b",
        "https://host0003.example.com/feed.xml",
    ]
    assert got == _frontier_rows(spark, eng_b)
    meta_b, meta_s = eng_b.store.latest_metadata(), eng_s.store.latest_metadata()
    assert (meta_s["next_seq"], meta_s["n_queued"]) == (meta_b["next_seq"], meta_b["n_queued"]) == (6, 5)

    # the stream-built store crawls exactly like the batch-built one
    orders = []
    for name in ("store_batch", "store_stream"):
        eng = CrawlEngine(spark, SnapshotStore(str(tmp_path / name)), fx.root, config=CrawlConfig(**CFG))
        eng.run(resume=True)
        orders.append(eng.crawl_order())
    assert orders[0] == orders[1]
    assert len(orders[0]) > len(got)  # the crawl went past the seeds
