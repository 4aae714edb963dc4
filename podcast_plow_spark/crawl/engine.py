"""The epoch-driven distributed crawl engine.

Each epoch mirrors one turn of the reference's worker poll loop
(``server/manage.py:498-529``) at batch scale (SURVEY.md §3.2):

    dequeue batch (Q2 ordering + politeness cap)
      → fetch (feeds: parse+explode entries; images: payload join)
      → canonicalize + host + robots gate (ONE Python pass per row)
      → within-epoch dedup
      → URL-seen filter (blocked Bloom fast path + exact anti-join)
      → enqueue new frontier rows (deterministic seq)
      → mark batch done → lineage rows → ATOMIC snapshot commit

One snapshot per epoch ⇒ the crawl is resumable from any epoch
(north rule); ``CrawlEngine(..., resume=True)`` continues from the
latest committed snapshot and produces byte-identical final state
(tested in tests/test_crawl_engine.py).

Scale design notes (10^10 frontier — these are now code, not notes):
- the frontier is a BUCKETED store table (``bucket(host_hash)``);
  an epoch rewrites only the buckets its batch/discoveries touch —
  every other bucket carries forward as a manifest pointer
  (``SnapshotStore.merge_buckets``; tested bucket-pruned in
  tests/test_snapshot_store.py).
- dequeue = ``dequeue_batch_polite``: runnable filter (pushed to the
  scan) → sampled global-order threshold → politeness window over the
  ~K·safety-row *prefix* only. No window/Exchange over the full
  store-read frontier (tests/test_plans.py).
- crawl_log / lineage / fetched_images are APPEND tables — one new
  part per epoch, history never re-read or re-written.
- crawl_rank / seq windows run on ≤ K or ≤ fan-out(K) rows per epoch,
  never on the full frontier.
- canonicalization, host extraction and the robots verdict run in
  one opaque ``mapInPandas`` (``politeness.robots_filter``): each
  candidate crosses the Arrow boundary once, and Catalyst cannot push
  a ``url_canon`` filter below the feed⋈parent join and evaluate the
  canonicalizer on both sides (tests/test_plans.py).
- per-epoch caches (batch, dequeue prefix, probed candidates, new
  rows) hold a few hundred rows; the session lets AQE coalesce the
  shuffles inside them (``session.py``), so their plans run a
  batch-sized number of tasks, not ``spark.sql.shuffle.partitions``.
- the ``bytes`` image column is touched only by the payload join and
  the invariant job — column pruning keeps every other scan narrow.
- the seen filter is one ``ShardedBloom`` (``bloom_shards`` shards by
  host bucket; 1 = monolithic), built once then maintained
  incrementally; with ``bloom_fold_epochs > 1`` each epoch's
  insertions land in a batch-sized cuckoo hot tier (O(batch)) and the
  O(filter-size) Bloom OR-fold is amortized across epochs — the exact
  anti-join backstop is unchanged either way.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from podcast_plow_spark.functions.urls import image_id_col, url_kind_col
from podcast_plow_spark.operators import frontier as fr
from podcast_plow_spark.operators.politeness import (
    parse_crawl_delay,
    robots_filter,
    salt_hot_hosts,
    schedule_fetches,
)
from podcast_plow_spark.operators.seen import (
    CuckooFilter,
    build_bloom,
    build_cuckoo,
    seen_filter_exact,
)
from podcast_plow_spark.sources.feeds import fetch_and_parse_feeds, load_seeds
from podcast_plow_spark.sources.snapshots import SnapshotStore

__all__ = ["CrawlConfig", "CrawlEngine"]


@dataclass
class CrawlConfig:
    batch_size: int = 64
    per_host_cap: int = 2
    user_agent: str = "plow-spark"
    num_partitions: int = 8
    bloom_bits_per_item: int = 12
    #: shards of the URL-seen filter, by the frontier's crc32-host
    #: bucket (the 10^10 SCALE_DESIGN layout, where a 15 GB monolithic
    #: filter cannot be broadcast whole). 1 = one monolithic filter.
    bloom_shards: int = 1
    max_attempts: int = 3
    #: injectable clock — the dequeue honors ``run_at <= clock()``
    #: (reference dequeue_job's ``run_at <= now()``), so rows requeued
    #: with a backoff delay by mark_failed are NOT dequeued early.
    clock: Callable[[], dt.datetime] | None = None
    #: fold merge-on-read deltas into the bucket files once they reach
    #: this many rows (amortized compaction; keeps the read overlay
    #: broadcast-sized)
    delta_compact_rows: int = 100_000
    #: default inter-fetch spacing per host, seconds — the reference's
    #: sleep_between (0.34 s, evidence_fetcher.py:742-747). Overridden
    #: per host by a robots Crawl-delay when present.
    crawl_delay_sec: float = 0.34
    max_connections: int = 1
    #: refresh the dequeue's order-key threshold sample every N epochs
    #: (between refreshes the dequeue runs zero sampling jobs; sample
    #: staleness is correctness-free — prefix widens / falls back, and
    #: sufficiency is verified live). 0 disables (sample every epoch).
    presample_epochs: int = 4
    #: hosts with at least this many rows in a dequeued BATCH are
    #: salted across ``salt_n_salts`` lanes before scheduling (explicit
    #: skew handling, north rule / SURVEY §4.1): the politeness window
    #: and every fetch stage downstream then spread the hot host over
    #: n_salts partitions instead of one, with the per-host budget
    #: divided across lanes (delay × n_salts per lane). 0 disables.
    #: Crawl ordering and the URL-seen set are unaffected either way —
    #: salting changes only fetch_offset_sec values for hot hosts
    #: (still ≥ spacing apart per host) and physical partitioning.
    salt_hot_batch_threshold: int = 10_000
    salt_n_salts: int = 16
    #: fold the cuckoo hot tier into the big Bloom every N epochs
    #: (north rule's "blocked Bloom + cuckoo hot tier"). 1 = fold
    #: every epoch, i.e. no hot tier — OR-merging a delta into the
    #: Bloom is an O(filter-size) pass (~15 GB at 10^10 keys × 12
    #: bits), a flat per-epoch cost the tier amortizes: with N > 1,
    #: per-epoch maintenance is O(batch) (build+merge a batch-sized
    #: cuckoo) and the Bloom fold runs every N epochs. An early fold
    #: triggers if the hot tier passes ~0.8 load. Probes check
    #: bloom OR hot; crawl output is bit-identical either way
    #: (tests/test_crawl_engine.py::test_engine_run_identical_with_hot_tier).
    bloom_fold_epochs: int = 1
    #: hot-tier capacity (slots). Sized ~2× the expected insertions
    #: between folds; the load-triggered early fold makes undersizing
    #: safe (correctness never depends on the sizing).
    hot_tier_capacity: int = 65_536


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        fixtures_root: str,
        image_table_path: str | None = None,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.store = store
        self.fixtures_root = fixtures_root
        self.image_table_path = image_table_path
        self.cfg = config or CrawlConfig()
        self._robots_bodies: dict[str, str] | None = None
        self._crawl_delays: dict[str, float] | None = None
        # incremental seen-filter: built once from the frontier, then
        # only each epoch's insertions are OR-merged in (never a full
        # rescan; saturation beyond sizing is safe — the exact backstop
        # keeps correctness, only fpr degrades)
        self._bloom = None
        self._bloom_capacity = 1_000_000
        # cuckoo hot tier: insertions newer than the last Bloom fold
        # (None while bloom_fold_epochs == 1 or before the first probe).
        # Invariant: bloom ∪ hot ⊇ all frontier URLs — guaranteed
        # because the Bloom is built from the FULL seen set the first
        # time a process probes (also after resume), and every later
        # insertion lands in the hot tier until folded.
        self._hot = None
        self._epochs_since_fold = 0
        self._last_fold_epoch = 0
        # dequeue threshold presample, refreshed every
        # cfg.presample_epochs (see run_epoch); None = sample inline
        self._presample: list | None = None
        self._presample_age = 0

    # -- helpers ---------------------------------------------------------

    def _robots(self) -> dict[str, str]:
        if self._robots_bodies is None:
            bodies: dict[str, str] = {}
            sites = os.path.join(self.fixtures_root, "sites")
            if os.path.isdir(sites):
                for host in os.listdir(sites):
                    p = os.path.join(sites, host, "robots.txt")
                    if os.path.exists(p):
                        with open(p) as fh:
                            bodies[host] = fh.read()
            self._robots_bodies = bodies
        return self._robots_bodies

    def _delays(self) -> dict[str, float]:
        """Per-host robots Crawl-delay overrides (P6 × P1)."""
        if self._crawl_delays is None:
            self._crawl_delays = {}
            for host, body in self._robots().items():
                d = parse_crawl_delay(body, self.cfg.user_agent)
                if d is not None:
                    self._crawl_delays[host] = d
        return self._crawl_delays

    def _project_candidates(self, raw: DataFrame) -> DataFrame:
        """(url, seq_key[, parent info]) → canonicalized, robots-passed,
        first-occurrence-deduped candidate rows ready for enqueue."""
        c = robots_filter(raw, self._robots(), self.cfg.user_agent)
        w = Window.partitionBy("url_canon").orderBy(F.col("seq_key").asc())
        c = c.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
        return c.withColumn("fingerprint", F.sha2(F.col("url_canon"), 256))

    # -- bootstrap ---------------------------------------------------------

    def bootstrap(self, seeds_path: str) -> None:
        seeds = load_seeds(self.spark, seeds_path)
        cand = self._project_candidates(seeds)
        rows = fr.enqueue(
            cand,
            epoch=0,
            max_attempts=self.cfg.max_attempts,
            num_partitions=self.cfg.num_partitions,
            seq_base=0,
        ).cache()  # the count and the bucketed write share one evaluation
        n = rows.count()
        # frontier is BUCKETED by host_hash (Iceberg bucket(N, host)
        # analog) — epochs later rewrite only the buckets they touch —
        # and WRITE ORDERED BY the dequeue key: row-group min/max
        # stats then let the dequeue's pushed order-key prefix filter
        # skip nearly the whole store instead of scanning it (the
        # frontier scan was the last O(frontier) term in the epoch;
        # see BENCH/EPOCH_SCALING.md)
        self.store.write_bucketed(
            "frontier",
            rows,
            bucket_col="host_hash",
            order_by=[["priority", "desc"], ["run_at", "asc"], ["seq", "asc"]],
            # 16 MB row groups = the pruning quantum: a prefix cut
            # reads ~1 group per bucket instead of whole bucket files
            row_group_bytes=16 << 20,
        )
        # side tables are APPEND tables: each epoch adds one part,
        # history is never re-read or re-written
        empty_log = self.spark.createDataFrame(
            [],
            "epoch long, crawl_rank long, url_canon string, host string, kind string, "
            "fetch_offset_sec double",
        )
        self.store.append_table("crawl_log", empty_log)
        self.store.append_table(
            "lineage",
            self.spark.createDataFrame(
                [], "partition_id int, batch_epoch long, urls_in long, urls_out long, bloom_fpr double"
            ),
        )
        self.store.append_table(
            "fetched_images", self.spark.createDataFrame([], "image_id string, url_canon string, epoch long")
        )
        self.store.commit(0, {"epoch": 0, "next_seq": n + 1, "n_queued": n})
        rows.unpersist()

    # -- one epoch ---------------------------------------------------------

    def run_epoch(self) -> bool:
        meta = self.store.latest_metadata()
        epoch = int(meta.get("epoch", 0)) + 1
        next_seq = int(meta.get("next_seq", 1))
        frontier = self.store.read_table(self.spark, "frontier")
        assert frontier is not None, "bootstrap first"

        # --- amortized Bloom fold (cuckoo hot tier → big Bloom).
        # Folding at epoch START means the freshly-read frontier holds
        # every row the hot tier covers (discovered_epoch > last fold),
        # so the fold is one pushed-down scan of just those rows; the
        # tier is then dropped and rebuilt from this epoch's inserts.
        # The load-triggered early fold bounds tier fpr regardless of
        # how hot_tier_capacity was sized.
        if self._hot is not None and (
            self._epochs_since_fold >= self.cfg.bloom_fold_epochs or self._hot.load > 0.8
        ):
            fold_rows = frontier.where(
                F.col("discovered_epoch") > F.lit(int(self._last_fold_epoch))
            ).select("url_canon")
            self._bloom = self._bloom.merge(build_bloom(fold_rows, "url_canon", like=self._bloom))
            self._hot = None
            self._epochs_since_fold = 0
            self._last_fold_epoch = epoch - 1

        # --- dequeue with politeness cap. Full Q2 predicate
        # (status=='queued' AND run_at <= now, so backoff-requeued rows
        # wait out their delay) + greedy-equivalent per-host cap.
        # dequeue_batch_polite never windows the full frontier: above
        # its cutoff it ranks hosts only inside a sampled global-order
        # prefix — the store-read frontier sees filter+scan, no
        # Exchange (tests/test_plans.py).
        now = (self.cfg.clock or dt.datetime.utcnow)()
        n_queued = meta.get("n_queued")
        epoch_caches: list = []
        batch0 = fr.dequeue_batch_polite(
            frontier,
            self.cfg.batch_size,
            now,
            self.cfg.per_host_cap,
            # exact queued-count tracked across epochs replaces the
            # sizing count() — one less full-frontier scan per epoch
            n_hint=int(n_queued) if n_queued is not None else None,
            cache_registry=epoch_caches,
            # threshold presample carried across epochs (refreshed
            # every presample_epochs below) — removes the per-epoch
            # sampling scan; staleness is correctness-free (the prefix
            # widens / falls back, sufficiency is probed LIVE)
            presample=self._presample,
        ).cache()
        batch = batch0
        n_batch = batch.count()
        if n_batch == 0:
            batch0.unpersist()
            for h in epoch_caches:
                h.unpersist()
            return False

        # shared kernel (functions/urls.py) — same path-based semantics
        # as the oracle's url_kind, so feed.xml?page=2 etc. cannot drift
        batch = batch.withColumn("kind", url_kind_col(F.col("url_canon"))).cache()
        n_feeds = batch.where(F.col("kind") == "feed").count()  # on the cached batch

        # --- crawl log (the observable crawl ordering): append-only
        # the politeness schedule is part of the observable record:
        # per-host spacing = robots Crawl-delay (else the reference's
        # 0.34 s sleep) ÷ max_connections, in crawl-rank order.
        # Politeness only delays — the global ordering is untouched.
        # explicit hot-host salting (north rule): hosts above the
        # per-batch threshold spread over n_salts lanes — the politeness
        # window computes their schedule in n_salts parallel tasks and
        # the fetch stages below (which read from `sched`) inherit the
        # (host, salt)-hashed partitioning, so one hot host no longer
        # pins one task. Budget division (delay × n_salts per lane, lane
        # offsets on the spacing grid) keeps the per-host rate honest;
        # ordering/seen-set are untouched (salting only re-times and
        # re-partitions). Cold hosts take salt=0/lanes=1 → offsets
        # byte-identical to the un-salted path.
        if self.cfg.salt_hot_batch_threshold:
            batch_s = salt_hot_hosts(
                batch,
                hot_threshold=self.cfg.salt_hot_batch_threshold,
                n_salts=self.cfg.salt_n_salts,
            )
            salt_kw = {"salt_col": "host_salt", "n_salts_col": "host_salts"}
        else:
            batch_s = batch
            salt_kw = {}
        sched = schedule_fetches(
            batch_s,
            crawl_delay_sec=self.cfg.crawl_delay_sec,
            max_connections=self.cfg.max_connections,
            per_host_delay=self._delays(),
            **salt_kw,
        )
        log_new = sched.select(
            F.lit(epoch).cast("long").alias("epoch"),
            "crawl_rank",
            "url_canon",
            "host",
            "kind",
            "fetch_offset_sec",
        )
        self.store.append_table("crawl_log", log_new)

        # fetch stages run over an EXPLICIT (host, salt)-hashed layout
        # when salting engaged — the hot host's per-URL fetch work then
        # runs on n_salts partitions, not one. The repartition is
        # explicit rather than inherited from the schedule window
        # because the fetch projections don't consume
        # fetch_offset_sec, so Catalyst would prune the window (and its
        # layout) out of the fetch branches (measured:
        # scripts/skew_bench.py, 2.3× at 30% skew / 16 cores).
        # Un-salted path keeps the cached batch (no plan change).
        fetch_src = (
            batch_s.repartition(self.cfg.num_partitions, F.col("host"), F.col("host_salt"))
            if salt_kw
            else batch
        )

        # --- fetch: images → payload rows
        img_batch = fetch_src.where(F.col("kind") == "image").select(
            "url_canon",
            # shared kernel: last path segment, trailing slashes stripped
            image_id_col(F.col("url_canon")).alias("image_id"),
        )
        fetched_new = img_batch.select("image_id", "url_canon", F.lit(epoch).cast("long").alias("epoch"))
        self.store.append_table("fetched_images", fetched_new)

        # --- discoveries. Image rows have no children, so a batch with
        # zero feed rows skips the entire candidate machinery (feed
        # parse, robots gate, seen filter, enqueue) — several Spark
        # jobs saved on every image-only epoch, identical semantics.
        new_rows = None
        n_new = 0
        stats = None
        if n_feeds:
            feed_batch = fetch_src.where(F.col("kind") == "feed").select(
                F.col("url_canon").alias("url"), "seq"
            )
            entries = fetch_and_parse_feeds(feed_batch, self.fixtures_root).where(
                F.col("parse_error").isNull() & F.col("enclosure_url").isNotNull()
            )
            parent = batch.select(F.col("url_canon").alias("feed_url"), F.col("seq").alias("parent_seq"))
            cand_raw = entries.join(parent, "feed_url").select(
                F.col("enclosure_url").alias("url"),
                (F.col("parent_seq") * F.lit(1_000_000) + F.col("entry_pos")).alias("seq_key"),
            )

            # --- candidate projection + seen filter
            cand = self._project_candidates(cand_raw)
            seen = frontier.select("url_canon")
            if self._bloom is None:
                self._bloom = build_bloom(
                    seen,
                    "url_canon",
                    expected_items=self._bloom_capacity,
                    bits_per_item=self.cfg.bloom_bits_per_item,
                    n_shards=self.cfg.bloom_shards,
                )
                # the full build covers every row in the frontier
                # read this epoch (all discovered_epoch ≤ epoch-1)
                self._last_fold_epoch = epoch - 1
            unseen, stats = seen_filter_exact(
                cand, seen, self._bloom, "url_canon",
                measure_fpr=True,
                cache_registry=epoch_caches,
                hot=self._hot,
            )

            # --- enqueue (deterministic seq continues from next_seq)
            new_rows = fr.enqueue(
                unseen,
                epoch=epoch,
                max_attempts=self.cfg.max_attempts,
                num_partitions=self.cfg.num_partitions,
                seq_base=next_seq - 1,
            ).cache()
            n_new = new_rows.count()
            if n_new:
                if self.cfg.bloom_fold_epochs > 1:
                    # O(batch) maintenance: insertions land in the
                    # cuckoo hot tier; the O(filter-size) Bloom OR +
                    # full re-broadcast are deferred to the amortized
                    # fold at epoch start. The tier is one batch-sized
                    # cuckoo for any shard count; probes OR it in after
                    # the Bloom.
                    if self._hot is None:
                        self._hot = CuckooFilter.sized_for(self.cfg.hot_tier_capacity)
                    self._hot = self._hot.merge(
                        build_cuckoo(new_rows.select("url_canon"), "url_canon", like=self._hot)
                    )
                    self._epochs_since_fold += 1
                else:
                    delta = build_bloom(new_rows.select("url_canon"), "url_canon", like=self._bloom)
                    self._bloom = self._bloom.merge(delta)

        # --- mark batch done + insert discoveries as ONE merge-on-read
        # delta (the batch rows themselves, re-stated as finished, plus
        # the new rows — no join needed). Politeness spreads a batch
        # over many hosts, so a copy-on-write bucket merge would
        # degenerate to a near-full rewrite every epoch; the delta
        # keeps the epoch's write cost O(batch). When accumulated
        # deltas pass the threshold they're folded into the bucket
        # files once (amortized, bucket-pruned compaction).
        finished_batch = (
            batch.withColumn("status", F.lit(fr.STATUS_FINISHED))
            .withColumn("error", F.lit(None).cast("string"))
            .select([f.name for f in fr.FRONTIER_SCHEMA.fields])
        )
        delta_rows = finished_batch if new_rows is None else finished_batch.unionByName(new_rows)
        self.store.merge_delta("frontier", delta_rows, approx_rows=n_batch + n_new)
        if self.store.delta_rows(self.spark, "frontier") >= self.cfg.delta_compact_rows:
            self.store.compact_deltas("frontier")

        # --- lineage
        urls_in = n_batch
        fpr_rows = stats.collect() if stats is not None else []
        if fpr_rows:
            lineage_new = self.spark.createDataFrame(
                [
                    (
                        int(r["partition_id"]),
                        epoch,
                        int(r["urls_in"]),
                        n_new,
                        (float(r["false_pos"]) / r["urls_in"]) if r["urls_in"] else 0.0,
                    )
                    for r in fpr_rows
                ],
                "partition_id int, batch_epoch long, urls_in long, urls_out long, bloom_fpr double",
            )
        else:
            lineage_new = self.spark.createDataFrame(
                [(0, epoch, urls_in, n_new, 0.0)],
                "partition_id int, batch_epoch long, urls_in long, urls_out long, bloom_fpr double",
            )
        self.store.append_table("lineage", lineage_new)

        meta_out = {"epoch": epoch, "next_seq": next_seq + n_new}
        if n_queued is not None:
            meta_out["n_queued"] = max(0, int(n_queued) - n_batch + n_new)
        self.store.commit(epoch, meta_out)

        # --- threshold-presample maintenance: refresh the dequeue's
        # order-key sample every presample_epochs from the just-merged
        # frontier (one narrow sampled scan, amortized N×); between
        # refreshes the dequeue runs ZERO sampling jobs. Age it out so
        # a long crawl can't drift unboundedly.
        self._presample_age += 1
        if self.cfg.presample_epochs and (
            self._presample is None or self._presample_age >= self.cfg.presample_epochs
        ):
            nq = meta_out.get("n_queued")
            if nq:  # without a tracked queue size the inline sample is safer
                new_frontier = self.store.read_table(self.spark, "frontier")
                queued = new_frontier.where(F.col("status") == fr.STATUS_QUEUED).select(
                    "priority", "run_at", "seq"
                )
                frac = min(1.0, 20_000 / max(int(nq), 1))
                self._presample = queued.sample(False, frac, seed=42).collect()
                self._presample_age = 0

        batch.unpersist()
        batch0.unpersist()
        # dequeue prefix/batch caches + the seen filter's probed cache
        for h in epoch_caches:
            h.unpersist()
        if new_rows is not None:
            new_rows.unpersist()
        return True

    # -- full run ------------------------------------------------------------

    def run(self, seeds_path: str | None = None, max_epochs: int = 100, resume: bool = False) -> int:
        if not resume:
            assert seeds_path is not None
            self.bootstrap(seeds_path)
        epochs = 0
        for _ in range(max_epochs):
            if not self.run_epoch():
                break
            epochs += 1
        return epochs

    # -- observables (for parity checks) ---------------------------------

    def crawl_order(self) -> list[str]:
        log = self.store.read_table(self.spark, "crawl_log")
        return [r["url_canon"] for r in log.orderBy("epoch", "crawl_rank").collect()]

    def seen_set(self) -> set[str]:
        frontier = self.store.read_table(self.spark, "frontier")
        return {r["url_canon"] for r in frontier.select("url_canon").distinct().collect()}

    def verify_fetched_payloads(self, min_psnr_db: float = 40.0) -> DataFrame:
        """Per-row payload invariant over everything this crawl fetched
        (BASELINE.json input_hint): decoded-pixel PSNR ≥ 40 dB (lossy)
        + caption equality vs the recomputed reference row. The image
        ``bytes`` column is touched only here (column pruning keeps it
        out of the crawl itself); nothing is collected to the driver."""
        from podcast_plow_spark.sources.images import check_invariants

        assert self.image_table_path, "engine was constructed without an image table"
        fetched = self.store.read_table(self.spark, "fetched_images")
        images = self.spark.read.parquet(self.image_table_path)
        rows = images.join(fetched.select("image_id").distinct(), "image_id", "left_semi")
        return check_invariants(rows, min_psnr_db)

    def fetched_image_ids(self) -> list[str]:
        t = self.store.read_table(self.spark, "fetched_images")
        log = self.store.read_table(self.spark, "crawl_log").where(F.col("kind") == "image")
        joined = t.join(log.select("url_canon", "epoch", "crawl_rank"), ["url_canon", "epoch"])
        return [r["image_id"] for r in joined.orderBy("epoch", "crawl_rank").collect()]
