"""The epoch-driven distributed crawl engine.

Each epoch mirrors one turn of the reference's worker poll loop
(``server/manage.py:498-529``) at batch scale (SURVEY.md §3.2):

    dequeue batch (Q2 ordering + politeness cap)
      → fetch (feeds: parse+explode entries; images: their crawl_log
        rows are the fetch record, payloads are joined on demand)
      → canonicalize + host + robots gate (ONE Python pass per row)
      → within-epoch dedup
      → URL-seen filter (blocked Bloom fast path + exact anti-join)
      → enqueue new frontier rows (deterministic seq)
      → mark batch done → lineage rows → ATOMIC snapshot commit

One snapshot per epoch ⇒ the crawl is resumable from any epoch
(north rule); ``CrawlEngine(..., resume=True)`` continues from the
latest committed snapshot and produces byte-identical final state
(tested in tests/test_crawl_engine.py).

One candidate path: seed bootstrap, an epoch's feed discoveries and
stream ingest (``streaming/frontier_stream.py``) all admit URLs
through ``_project_candidates`` (robots gate, first row by
``seq_key`` per canonical URL) and ``_admit`` (seen filter →
enqueue → seen-filter insert). ``ingest`` is the entry point for a
candidate DataFrame from outside the crawl; on an empty store it
writes the first frontier, otherwise it commits one snapshot of its
own, so a stream-built and a batch-built frontier crawl identically
(tests/test_streaming.py).

Scale design notes (10^10 frontier — these are now code, not notes):
- the frontier is a BUCKETED store table (``bucket(host_hash)``).
  An epoch rewrites no bucket: it writes one delta part (below), and
  only compaction rewrites buckets — those its folded parts touch;
  every other bucket carries forward as a manifest pointer
  (``SnapshotStore.compact_deltas``; tested bucket-pruned in
  tests/test_snapshot_store.py).
- dequeue = ``dequeue_batch_polite``: runnable filter (pushed to the
  scan) → sampled global-order threshold → politeness window over the
  ~K·safety-row *prefix* only. No window/Exchange over the full
  store-read frontier (tests/test_plans.py).
- crawl_log / lineage are APPEND tables, declared at bootstrap with
  their schemas and no data file. crawl_log adds one part per epoch;
  lineage rows ride inline in the snapshot manifest (no Spark job).
  History is never re-read or re-written. crawl_log is also the fetch
  record: the fetched image ids are its ``kind = 'image'`` rows
  through ``image_id_col``, in (epoch, crawl_rank) order.
- the frontier's per-epoch delta is one new part holding only the
  batch and its discoveries; earlier parts are never rewritten, and
  compaction folds them into the buckets once they pass
  ``delta_compact_rows`` rows or the store's part bound.
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
- the URL-seen filter is ``operators/seen.py::SeenFilter``: seeded
  at bootstrap, folded at epoch start, probed and inserted into by
  ``_admit``.
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
from podcast_plow_spark.operators.seen import SeenFilter
from podcast_plow_spark.sources.feeds import fetch_and_parse_feeds, load_seeds
from podcast_plow_spark.sources.snapshots import SnapshotStore

__all__ = ["CRAWL_LOG_SCHEMA", "LINEAGE_SCHEMA", "CrawlConfig", "CrawlEngine"]

# append-table schemas, declared at bootstrap; the store records them
# in the manifest and reads every part under them
CRAWL_LOG_SCHEMA = (
    "epoch long, crawl_rank long, url_canon string, host string, kind string, fetch_offset_sec double"
)
LINEAGE_SCHEMA = "partition_id int, batch_epoch long, urls_in long, urls_out long, bloom_fpr double"


@dataclass
class CrawlConfig:
    batch_size: int = 64
    per_host_cap: int = 2
    user_agent: str = "plow-spark"
    num_partitions: int = 8
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
        self._seen = SeenFilter(self.cfg.bloom_shards, self.cfg.bloom_fold_epochs)
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

    def _admit(
        self, cand: DataFrame, frontier: DataFrame, epoch: int, next_seq: int, caches: list
    ) -> tuple[DataFrame, int, DataFrame]:
        """Projected candidates → (new frontier rows, their count, the
        seen filter's per-partition stats): seen filter, enqueue with
        ``seq`` continuing from ``next_seq``, then the new URLs go into
        the seen filter. The new rows are cached in ``caches``."""
        unseen, stats = self._seen.unseen(cand, frontier, epoch, caches)
        new_rows = fr.enqueue(
            unseen,
            epoch=epoch,
            max_attempts=self.cfg.max_attempts,
            num_partitions=self.cfg.num_partitions,
            seq_base=next_seq - 1,
        ).cache()
        caches.append(new_rows)
        n_new = new_rows.count()
        if n_new:
            self._seen.insert(new_rows)
        return new_rows, n_new, stats

    def _commit_epoch(
        self, epoch: int, meta: dict, delta_rows: DataFrame, n_batch: int, n_new: int, stats
    ) -> dict:
        """Write an epoch's frontier rows as ONE new merge-on-read delta
        part, its lineage rows and its snapshot; returns the committed
        metadata."""
        self.store.merge_delta("frontier", delta_rows, approx_rows=n_batch + n_new)
        if self.store.compaction_due(self.spark, "frontier", self.cfg.delta_compact_rows):
            self.store.compact_deltas("frontier")

        # --- lineage: one row per seen-filter partition, or one row
        # for the whole batch when the epoch ran no seen filter; the
        # store keeps these few rows inline in the manifest. A
        # partition's false positives are its share of the Bloom
        # positives, which sum over partitions to the flagged count.
        rows = stats.collect() if stats is not None else []
        maybe_n = sum(r["bloom_pos"] for r in rows)
        lineage_rows = [
            (
                int(r["partition_id"]),
                epoch,
                int(r["urls_in"]),
                n_new,
                int(r["bloom_pos"] * r["false_pos_total"] / maybe_n) / r["urls_in"]
                if r["urls_in"] and maybe_n
                else 0.0,
            )
            for r in rows
        ] or [(0, epoch, n_batch, n_new, 0.0)]
        self.store.append_rows("lineage", lineage_rows)

        meta_out = {"epoch": epoch, "next_seq": int(meta.get("next_seq", 1)) + n_new}
        n_queued = meta.get("n_queued")
        if n_queued is not None:
            meta_out["n_queued"] = max(0, int(n_queued) - n_batch + n_new)
        self.store.commit(epoch, meta_out)
        return meta_out

    # -- candidates from outside the crawl ---------------------------------

    def bootstrap(self, seeds_path: str) -> None:
        self.ingest(load_seeds(self.spark, seeds_path))

    def ingest(self, raw: DataFrame) -> None:
        """Admit a candidate DataFrame of ``(url, seq_key)`` rows into
        the frontier through the crawl's own candidate path. On an
        empty store this writes the first frontier (snapshot 0);
        otherwise the new rows are one delta part in a snapshot of
        their own, and nothing is committed when every candidate was
        already seen."""
        cand = self._project_candidates(raw)
        if self.store.latest_epoch() is None:
            rows = fr.enqueue(
                cand,
                epoch=0,
                max_attempts=self.cfg.max_attempts,
                num_partitions=self.cfg.num_partitions,
                seq_base=0,
            ).cache()  # the count, the seen filter and the write share one evaluation
            n = rows.count()
            self._seen.seed(rows)
            # frontier is BUCKETED by host_hash (Iceberg bucket(N, host)
            # analog) — compaction later rewrites only the buckets its
            # parts touch — and WRITE ORDERED BY the dequeue key:
            # row-group min/max stats then let the dequeue's pushed
            # order-key prefix filter skip nearly the whole store instead
            # of scanning it (the frontier scan was the last O(frontier)
            # term in the epoch; see BENCH/EPOCH_SCALING.md)
            self.store.write_bucketed(
                "frontier",
                rows,
                bucket_col="host_hash",
                order_by=[["priority", "desc"], ["run_at", "asc"], ["seq", "asc"]],
                # 16 MB row groups = the pruning quantum: a prefix cut
                # reads ~1 group per bucket instead of whole bucket files
                row_group_bytes=16 << 20,
            )
            # side tables are APPEND tables, declared with no data file:
            # each epoch adds to them, history is never re-read or
            # re-written
            self.store.declare_table("crawl_log", CRAWL_LOG_SCHEMA)
            self.store.declare_table("lineage", LINEAGE_SCHEMA)
            self.store.commit(0, {"epoch": 0, "next_seq": n + 1, "n_queued": n})
            rows.unpersist()
            return

        meta = self.store.latest_metadata()
        epoch = int(meta.get("epoch", 0)) + 1
        frontier = self.store.read_table(self.spark, "frontier")
        self._seen.fold_if_due(frontier, epoch)
        caches: list = []
        new_rows, n_new, stats = self._admit(
            cand, frontier, epoch, int(meta.get("next_seq", 1)), caches
        )
        if n_new:
            self._commit_epoch(epoch, meta, new_rows, 0, n_new, stats)
        for h in caches:
            h.unpersist()

    # -- one epoch ---------------------------------------------------------

    def run_epoch(self) -> bool:
        meta = self.store.latest_metadata()
        epoch = int(meta.get("epoch", 0)) + 1
        next_seq = int(meta.get("next_seq", 1))
        frontier = self.store.read_table(self.spark, "frontier")
        assert frontier is not None, "bootstrap first"
        self._seen.fold_if_due(frontier, epoch)

        # --- dequeue with politeness cap. Full Q2 predicate
        # (status=='queued' AND run_at <= now, so backoff-requeued rows
        # wait out their delay) + greedy-equivalent per-host cap.
        # dequeue_batch_polite never windows the full frontier: above
        # its cutoff it ranks hosts only inside a sampled global-order
        # prefix — the store-read frontier sees filter+scan, no
        # Exchange (tests/test_plans.py).
        now = (self.cfg.clock or dt.datetime.utcnow)()
        n_queued = meta.get("n_queued")
        # every cache this epoch makes (the dequeue's, the batch, the
        # seen filter's probed candidates, the new rows), released
        # together once the epoch has committed
        epoch_caches: list = []
        batch = fr.dequeue_batch_polite(
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
        )
        # shared kernel (functions/urls.py) — same path-based semantics
        # as the oracle's url_kind, so feed.xml?page=2 etc. cannot drift.
        # One job materializes the batch cache and counts rows and feeds.
        batch = batch.withColumn("kind", url_kind_col(F.col("url_canon"))).cache()
        epoch_caches.append(batch)
        counts = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("kind") == "feed", 1)).alias("feeds"),
        ).collect()[0]
        n_batch, n_feeds = counts["n"], counts["feeds"]
        if n_batch == 0:
            for h in epoch_caches:
                h.unpersist()
            return False

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
        # byte-identical to the un-salted path. The dequeue leaves a
        # host at most per_host_cap rows of a batch, so no host can be
        # hot unless the cap reaches the threshold; below it the
        # salting groupBy, join and repartition are skipped.
        if 0 < self.cfg.salt_hot_batch_threshold <= self.cfg.per_host_cap:
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
        # layout) out of the fetch branches (measured 2.3× at 30% skew
        # / 16 cores: BENCH/BASELINE.md "Hot-host salting delta").
        # Un-salted path keeps the cached batch (no plan change).
        fetch_src = (
            batch_s.repartition(self.cfg.num_partitions, F.col("host"), F.col("host_salt"))
            if salt_kw
            else batch
        )
        # The image fetch record is the crawl_log's image rows
        # (fetched_image_ids), so image rows need no stage of their own.

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

            # --- the shared candidate path (seq continues from next_seq)
            new_rows, n_new, stats = self._admit(
                self._project_candidates(cand_raw), frontier, epoch, next_seq, epoch_caches
            )

        # --- mark batch done + insert discoveries as ONE new
        # merge-on-read delta part (the batch rows themselves,
        # re-stated as finished, plus the new rows — no join needed).
        # Politeness spreads a batch over many hosts, so a
        # copy-on-write bucket merge would degenerate to a near-full
        # rewrite every epoch; the part keeps the epoch's write cost
        # O(batch). When the parts pass the row threshold or the
        # store's part bound they're folded into the bucket files
        # once (amortized, bucket-pruned compaction).
        finished_batch = (
            batch.withColumn("status", F.lit(fr.STATUS_FINISHED))
            .withColumn("error", F.lit(None).cast("string"))
            .select([f.name for f in fr.FRONTIER_SCHEMA.fields])
        )
        delta_rows = finished_batch if new_rows is None else finished_batch.unionByName(new_rows)
        meta_out = self._commit_epoch(epoch, meta, delta_rows, n_batch, n_new, stats)

        # --- threshold-presample maintenance: refresh the dequeue's
        # order-key sample every presample_epochs from the just-merged
        # frontier (one narrow sampled scan, amortized N×); between
        # refreshes the dequeue runs ZERO sampling jobs. Age it out so
        # a long crawl can't drift unboundedly. At or below the
        # dequeue's exact-path cutoff the next dequeue never reads the
        # sample, so none is taken.
        self._presample_age += 1
        if self.cfg.presample_epochs and (
            self._presample is None or self._presample_age >= self.cfg.presample_epochs
        ):
            nq = meta_out.get("n_queued")
            # without a tracked queue size the inline sample is safer
            if nq and int(nq) > fr.exact_dequeue_cutoff(self.cfg.batch_size):
                new_frontier = self.store.read_table(self.spark, "frontier")
                queued = new_frontier.where(F.col("status") == fr.STATUS_QUEUED).select(
                    "priority", "run_at", "seq"
                )
                frac = min(1.0, 20_000 / max(int(nq), 1))
                self._presample = queued.sample(False, frac, seed=42).collect()
                self._presample_age = 0

        for h in epoch_caches:
            h.unpersist()
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

    def _fetched_images(self) -> DataFrame:
        """(image_id, epoch, crawl_rank) of every image the crawl
        fetched: the crawl_log's image rows."""
        log = self.store.read_table(self.spark, "crawl_log")
        return log.where(F.col("kind") == "image").select(
            # shared kernel: last path segment, trailing slashes stripped
            image_id_col(F.col("url_canon")).alias("image_id"),
            "epoch",
            "crawl_rank",
        )

    def verify_fetched_payloads(self, min_psnr_db: float = 40.0) -> DataFrame:
        """Per-row payload invariant over everything this crawl fetched
        (BASELINE.json input_hint): decoded-pixel PSNR ≥ 40 dB (lossy)
        + caption equality vs the recomputed reference row. The image
        ``bytes`` column is touched only here (column pruning keeps it
        out of the crawl itself); nothing is collected to the driver."""
        from podcast_plow_spark.sources.images import check_invariants

        assert self.image_table_path, "engine was constructed without an image table"
        images = self.spark.read.parquet(self.image_table_path)
        fetched = self._fetched_images().select("image_id").distinct()
        return check_invariants(images.join(fetched, "image_id", "left_semi"), min_psnr_db)

    def fetched_image_ids(self) -> list[str]:
        rows = self._fetched_images().orderBy("epoch", "crawl_rank").collect()
        return [r["image_id"] for r in rows]
