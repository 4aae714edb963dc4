"""crawl-feeds workload: ``CrawlEngine.bootstrap`` + ``run_epoch`` until
the frontier drains, on feed fixtures generated from the workload seed,
checked against ``crawl/oracle.sequential_crawl``."""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

NAME = "crawl-feeds"
LAYERS = ("engine", "store", "frontier", "politeness", "seen", "feeds", "spark")
SEED_USED = True

# The seed changes host names, image ids, the seed-list order and the
# image-host assignment; the counts of feeds, entries, repeated URLs,
# robots-private URLs, tracking-param URLs and hot-host URLs are fixed,
# and so is the number of epochs. Every feed is on the seed list, so
# epoch 1 is the one discovery epoch. The batch size and the per-host
# cap then split the ~500 images over five image epochs.
SIZES = {
    "full": dict(n_feeds=8, entries_per_feed=90, n_image_hosts=16, batch_size=100, per_host_cap=20),
    "tiny": dict(n_feeds=4, entries_per_feed=6, n_image_hosts=4, batch_size=8, per_host_cap=3),
}
HOT_FRACTION = 0.1  # share of image URLs on the CDN host
DUP_EVERY = 5  # every 5th entry repeats the image URL of 4 entries before
PRIVATE_EVERY = 7  # every 7th image lives under the robots-disallowed path


def make_fixtures(root: str, seed: int, n_feeds: int, entries_per_feed: int, n_image_hosts: int) -> int:
    """Write ``feeds.txt`` and ``sites/<host>/{feed.xml,robots.txt}``
    (the ``sources/fixtures.py`` layout). Returns the entry count."""
    shutil.rmtree(root, ignore_errors=True)
    tag = f"s{seed}"
    cdn = f"cdn.{tag}.example.com"
    feed_hosts = [f"feed{i:04d}.{tag}.example.com" for i in range(n_feeds)]
    img_hosts = [f"img{k:03d}.{tag}.example.com" for k in range(n_image_hosts)]
    shift = random.Random(seed).randrange(n_image_hosts)

    def image_url(src: int) -> str:
        f, e = divmod(src, entries_per_feed)
        if (f * 131 + e * 17) % 1000 < HOT_FRACTION * 1000:
            host = cdn
        else:
            host = img_hosts[(f * 7 + e + shift) % n_image_hosts]
        path = "images/private" if src % PRIVATE_EVERY == 3 else "images"
        noise = "?utm_source=rss&amp;ref=feed" if src % 3 == 0 else ""
        host = host.upper() if src % 4 == 1 else host
        return f"https://{host}/{path}/img-{tag}-{src:08d}{noise}"

    for i, host in enumerate(feed_hosts):
        items = []
        for j in range(entries_per_feed):
            g = i * entries_per_feed + j
            src = g - DUP_EVERY + 1 if g and g % DUP_EVERY == 0 else g
            guid = f"<guid>g-{i:04d}-{j:04d}</guid>" if g % 3 != 2 else ""
            items.append(
                f"    <item>\n      <title>caption {src}</title>\n      {guid}\n"
                f"      <pubDate>{g % 27 + 1:02d} Jan 2024 0{g % 10}:00:00 GMT</pubDate>\n"
                f"      <link>https://{host}/ep/{j}</link>\n"
                f'      <enclosure url="{image_url(src)}" type="image/x-synthetic" length="100" />\n'
                f"      <itunes:duration>00:{g % 50 + 10:02d}:00</itunes:duration>\n    </item>"
            )
        site = os.path.join(root, "sites", host)
        os.makedirs(site, exist_ok=True)
        with open(os.path.join(site, "feed.xml"), "w") as fh:
            fh.write(
                '<?xml version="1.0" encoding="UTF-8"?>\n'
                '<rss version="2.0" xmlns:itunes="http://www.itunes.com/dtds/podcast-1.0.dtd">\n'
                f"  <channel>\n    <title>Feed {i}</title>\n    <link>https://{host}/</link>\n"
                + "\n".join(items)
                + "\n  </channel>\n</rss>\n"
            )
    for host in [cdn, *img_hosts, *feed_hosts]:
        site = os.path.join(root, "sites", host)
        os.makedirs(site, exist_ok=True)
        with open(os.path.join(site, "robots.txt"), "w") as fh:
            fh.write(
                "User-agent: *\nDisallow: /images/private/\nCrawl-delay: 1.0\n\n"
                "User-agent: plow-spark\nDisallow: /images/private/\nAllow: /images/private/allowed-*\n"
            )
    order = list(range(n_feeds))
    random.Random(seed).shuffle(order)
    with open(os.path.join(root, "feeds.txt"), "w") as fh:
        fh.write("# seed list\n\n" + "".join(f"https://{feed_hosts[i]}/feed.xml\n" for i in order))
    return n_feeds * entries_per_feed


def prepare(spark, work: str, seed: int, size: str) -> dict:
    """Input generation plus a small warm-up action (set-up, untimed)."""
    cfg = SIZES[size]
    root = os.path.join(work, "fixtures")
    entries = make_fixtures(root, seed, cfg["n_feeds"], cfg["entries_per_feed"], cfg["n_image_hosts"])
    spark.read.text(os.path.join(root, "feeds.txt")).count()
    return {"root": root, "entries": entries, "cfg": cfg, "work": work}


def install_tracing(tracer, state: dict) -> None:
    from podcast_plow_spark.crawl.engine import CrawlEngine
    from podcast_plow_spark.operators import frontier, politeness, seen
    from podcast_plow_spark.sources import feeds
    from podcast_plow_spark.sources.snapshots import SnapshotStore

    tracer.wrap_method(CrawlEngine, "bootstrap", "engine.bootstrap")
    tracer.wrap_method(CrawlEngine, "run_epoch", "engine.epoch")
    for attr, name in [
        ("read_table", "store.read"),
        ("append_table", "store.append"),
        ("merge_delta", "store.merge_delta"),
        ("compact_deltas", "store.compact"),
        ("commit", "store.commit"),
    ]:
        tracer.wrap_method(SnapshotStore, attr, name)

    def dequeue_done(args, kwargs, out):
        # the sampled-prefix path registers its caches; an empty
        # registry means the dequeue took the exact (full-order) path
        if not kwargs.get("cache_registry"):
            state["dequeue_exact"] += 1

    tracer.wrap_function(frontier, "dequeue_batch_polite", "frontier.dequeue", on_return=dequeue_done)
    tracer.wrap_function(frontier, "enqueue", "frontier.enqueue")
    tracer.wrap_function(politeness, "robots_filter", "politeness.robots")
    tracer.wrap_function(politeness, "schedule_fetches", "politeness.schedule")
    for fn in ("build_bloom", "build_sharded_bloom", "build_cuckoo"):
        tracer.wrap_function(seen, fn, "seen.bloom_build")
    tracer.wrap_function(seen, "seen_filter_exact", "seen.filter")
    tracer.wrap_function(feeds, "fetch_and_parse_feeds", "feeds.parse")


def _dir_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return size, n


def measure(spark, inp: dict, seconds: float, tracer=None) -> dict:
    """One whole crawl, bootstrap to drained frontier, in the cold
    process a crawl job runs in. The crawl's length is set by the
    fixtures, not by ``seconds``."""
    from podcast_plow_spark.crawl.engine import CrawlConfig, CrawlEngine
    from podcast_plow_spark.sources.snapshots import SnapshotStore

    from proc import tree_cpu_s

    cfg = inp["cfg"]
    state = {"dequeue_exact": 0, "bytes": [], "files": []}
    if tracer is not None:
        install_tracing(tracer, state)
    store_root = os.path.join(inp["work"], "store")
    shutil.rmtree(store_root, ignore_errors=True)
    engine = CrawlEngine(
        spark,
        SnapshotStore(store_root),
        inp["root"],
        config=CrawlConfig(batch_size=cfg["batch_size"], per_host_cap=cfg["per_host_cap"]),
    )

    def store_growth():
        if tracer is not None:
            size, n = _dir_stats(store_root)
            state["bytes"].append(size)
            state["files"].append(n)

    epoch_s: list[float] = []
    work0, jit0 = tree_cpu_s()
    t_start = time.perf_counter()
    with tracer.span("crawl") if tracer is not None else nullcontext() as root_idx:
        engine.bootstrap(os.path.join(inp["root"], "feeds.txt"))
        store_growth()
        calls = 1
        while True:
            t0 = time.perf_counter()
            more = engine.run_epoch()
            dt = time.perf_counter() - t0
            calls += 1
            if not more:
                break
            store_growth()
            epoch_s.append(dt)
    wall = time.perf_counter() - t_start
    work, jit = tree_cpu_s()
    work, jit = work - work0, jit - jit0
    if tracer is not None:
        tracer.uninstall()

    # --- oracle (untimed). The three observables are independent Spark
    # jobs and the oracle is pure Python, so they run side by side.
    from podcast_plow_spark.crawl.oracle import sequential_crawl

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [
            pool.submit(engine.crawl_order),
            pool.submit(engine.seen_set),
            pool.submit(engine.fetched_image_ids),
            pool.submit(
                sequential_crawl,
                inp["root"],
                batch_size=cfg["batch_size"],
                per_host_cap=cfg["per_host_cap"],
                max_epochs=100_000,
            ),
        ]
        order, seen_set, images, oracle = (f.result() for f in futures)
    checks = {
        "crawl_order": order == oracle.crawl_order,
        "seen_set": seen_set == oracle.seen,
        "fetched_images": images == oracle.fetched_images,
        "epochs": len(epoch_s) == oracle.epochs,
    }
    failed = sum(not ok for ok in checks.values())
    result = {
        "attempted": calls,
        "failed": failed,
        "checks": checks,
        "e2e": {"op_cpu_s": work},
        "jit_cpu_s": jit,
        "wall_s": wall,
        "detail": {
            "crawl_work_cpu_s": work,
            "crawl_jit_cpu_s": jit,
            "crawl_urls_per_s": len(order) / wall,
            "epoch_p50_s": statistics.median(epoch_s),
            "crawl_wall_s": wall,
            "epochs_s": [round(x, 4) for x in epoch_s],
            "crawled_urls": len(order),
            "oracle_check_s": round(time.perf_counter() - t0, 3),
        },
    }
    if tracer is not None:
        result["layers"] = _layers(spark, tracer, engine, state, inp, len(epoch_s), seen_set, root_idx)
    return result


def _layers(spark, tracer, engine, state, inp, n_epochs, seen_set, root_idx) -> dict:
    from spans import sum_jobs

    jm = tracer.collect()
    m: dict[str, float] = {}
    epochs = tracer.named("engine.epoch")
    epoch_tot = sum_jobs(jm, tracer.jobs_named("engine.epoch"))
    per = max(n_epochs, 1)
    m["engine.bootstrap_s"] = tracer.wall("engine.bootstrap")
    m["engine.epoch_self_s"] = sum(
        tracer.spans[i].wall_s - sum(tracer.spans[c].wall_s for c in tracer.spans[i].children) for i in epochs
    )
    m["engine.jobs_per_epoch"] = epoch_tot["jobs"] / per
    m["engine.tasks_per_epoch"] = epoch_tot["tasks"] / per
    for key, name in [
        ("read_s", "store.read"),
        ("append_s", "store.append"),
        ("merge_delta_s", "store.merge_delta"),
        ("compact_s", "store.compact"),
        ("commit_s", "store.commit"),
    ]:
        m[f"store.{key}"] = tracer.wall(name)
    m["store.bytes_written_per_epoch"] = (state["bytes"][-1] - state["bytes"][0]) / per
    m["store.files_written_per_epoch"] = (state["files"][-1] - state["files"][0]) / per
    m["frontier.dequeue_s"] = tracer.wall("frontier.dequeue")
    m["frontier.dequeue_jobs"] = float(len(tracer.jobs_named("frontier.dequeue")))
    m["frontier.dequeue_exact_path"] = float(state["dequeue_exact"])
    m["frontier.enqueue_s"] = tracer.wall("frontier.enqueue")
    m["frontier.enqueued_rows"] = float(len(seen_set))
    m["politeness.robots_s"] = tracer.wall("politeness.robots")
    m["politeness.schedule_s"] = tracer.wall("politeness.schedule")
    m["seen.bloom_build_s"] = tracer.wall("seen.bloom_build")
    m["seen.filter_s"] = tracer.wall("seen.filter")
    # discovery epochs are the ones that ran the seen filter; their
    # lineage rows carry per-partition candidates and the Bloom's
    # false positives
    disc = set()
    for k, i in enumerate(epochs, start=1):
        if any(tracer.spans[d].name == "seen.filter" for d in tracer.descendants(i)):
            disc.add(k)
    cand = unseen = fp = 0.0
    if disc:
        rows = engine.store.read_table(spark, "lineage").collect()
        per_epoch_out: dict[int, int] = {}
        for r in rows:
            if r["batch_epoch"] in disc:
                cand += r["urls_in"]
                fp += r["bloom_fpr"] * r["urls_in"]
                per_epoch_out[r["batch_epoch"]] = r["urls_out"]
        unseen = float(sum(per_epoch_out.values()))
    m["seen.candidates"] = cand
    m["seen.bloom_fpr"] = fp / cand if cand else 0.0
    m["seen.unseen_ratio"] = unseen / cand if cand else 0.0
    m["feeds.parse_s"] = tracer.wall("feeds.parse")
    m["feeds.entries"] = float(inp["entries"])
    tot = sum_jobs(jm, tracer.jobs_under(root_idx))
    for k in ("exec_s", "shuffle_mb", "spill_mb", "tasks", "jobs"):
        m[f"spark.{k}"] = tot[k]
    return m
