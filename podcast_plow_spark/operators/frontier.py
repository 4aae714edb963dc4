"""The frontier priority queue — the distributed analog of the
reference's ``job_queue`` table + worker (reference
``infra/initdb/002_jobs_and_chunks.sql:4-23``,
``server/services/jobs.py``).

Semantics reproduced (SURVEY.md §2.4):
- Q1 enqueue: rows with (priority, run_at, attempts=0, max_attempts,
  status='queued', deterministic ``seq``).
- Q2 dequeue ordering — THE crawl ordering:
  ``status='queued' AND run_at <= now ORDER BY priority DESC, run_at,
  seq LIMIT k`` (reference ``server/services/jobs.py:259``). Spark
  physical strategy: ``filter → orderBy(...).limit(k)`` compiles to
  ``TakeOrderedAndProject`` — a distributed top-K (per-partition heap
  + driver merge of K), NOT a global sort. At 10^10 frontier rows this
  is the only scalable way to rank; no shuffle of the full frontier.
- Q3/Q4 done/failed: status merge; backoff ``clamp(attempts*60, 30,
  3600) × U(0.8, 1.2)`` re-clamped (reference
  ``server/services/jobs.py:121-134``) — jitter here is a *seeded
  deterministic* function of (fingerprint, attempt) so retries are
  cluster-size invariant (SURVEY.md §7 "jitter reproducibility").
- Q5 fingerprint dedup: newest active job per fingerprint wins
  (reference ``server/services/jobs.py:166-182``,
  ``server/api/jobs.py:352-423``).
- Q10 stats: counts per status.

Scale design: the frontier is stored partitioned by ``host_hash %
num_partitions`` (politeness state co-location) and the runnable
filter (`status`, `run_at`) is parquet-pushdown-friendly. Statuses are
low-cardinality dictionary-encoded strings.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from podcast_plow_spark.functions.urls import host_hash_col

__all__ = [
    "FRONTIER_SCHEMA",
    "STATUS_QUEUED",
    "STATUS_RUNNING",
    "STATUS_FINISHED",
    "STATUS_FAILED",
    "enqueue",
    "cluster_by_host",
    "runnable",
    "dequeue_batch_polite",
    "mark_done",
    "mark_failed",
    "backoff_delay_col",
    "dedupe_by_fingerprint",
    "queue_stats",
]

STATUS_QUEUED = "queued"
STATUS_RUNNING = "running"
STATUS_FINISHED = "finished"
STATUS_FAILED = "failed"
ACTIVE_STATUSES = (STATUS_QUEUED, STATUS_RUNNING)

FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("url_canon", StringType()),
        StructField("host", StringType()),
        StructField("host_hash", IntegerType()),
        StructField("fingerprint", StringType()),
        StructField("priority", IntegerType()),
        StructField("run_at", TimestampType()),
        StructField("attempts", IntegerType()),
        StructField("max_attempts", IntegerType()),
        StructField("status", StringType()),
        StructField("discovered_epoch", LongType()),
        StructField("seq", LongType()),
        StructField("error", StringType()),
        StructField("payload", MapType(StringType(), StringType())),
    ]
)

#: canonical dequeue sort key — reference server/services/jobs.py:259
DEQUEUE_ORDER = lambda: [F.col("priority").desc(), F.col("run_at").asc(), F.col("seq").asc()]  # noqa: E731


def enqueue(
    candidates: DataFrame,
    *,
    epoch: int,
    default_priority: int = 0,
    max_attempts: int = 3,
    num_partitions: int = 32,
    seq_base: int = 0,
    run_at: dt.datetime | None = None,
    seq_mode: str = "dense",
) -> DataFrame:
    """Turn candidate rows (url, url_canon, host, fingerprint,
    [priority], [run_at], [seq_key...]) into frontier rows.

    ``seq`` is assigned deterministically — never
    ``monotonically_increasing_id`` (partition-layout dependent;
    SURVEY.md §4.3). Two modes:

    - ``dense``: ``row_number`` over the insertion-order key
      (``seq_key`` if present, else ``url_canon``). Exactly mirrors the
      reference's SERIAL ids, but the global window is a single-reducer
      sort — only for parity-critical, bounded batches.
    - ``keyed``: ``seq = seq_base + seq_key`` — order-isomorphic to
      dense (seq only ever participates in ORDER BY, so any strictly
      monotone mapping of the insertion key preserves the crawl
      ordering) with **zero shuffle**. This is the 10^10-rows path; the
      caller advances ``seq_base`` past the epoch's max key.
    """
    cols = candidates.columns
    if seq_mode == "keyed":
        assert "seq_key" in cols, "keyed seq mode requires a unique seq_key column"
        df = candidates.withColumn("seq", F.col("seq_key").cast("long") + F.lit(seq_base))
    else:
        order = [F.col("seq_key").asc()] if "seq_key" in cols else [F.col("url_canon").asc()]
        w = Window.orderBy(*order)
        df = candidates.withColumn("seq", F.row_number().over(w).cast("long") + F.lit(seq_base))
    if "priority" not in cols:
        df = df.withColumn("priority", F.lit(default_priority))
    if "run_at" not in cols:
        df = df.withColumn("run_at", F.lit(run_at or dt.datetime(1970, 1, 1)).cast("timestamp"))
    if "payload" not in cols:
        df = df.withColumn("payload", F.lit(None).cast(MapType(StringType(), StringType())))
    df = (
        df.withColumn("host_hash", host_hash_col(F.col("host"), num_partitions))
        .withColumn("priority", F.col("priority").cast("int"))
        .withColumn("attempts", F.lit(0))
        .withColumn("max_attempts", F.lit(max_attempts))
        .withColumn("status", F.lit(STATUS_QUEUED))
        .withColumn("discovered_epoch", F.lit(epoch).cast("long"))
        .withColumn("error", F.lit(None).cast("string"))
    )
    return df.select([f.name for f in FRONTIER_SCHEMA.fields])


def cluster_by_host(frontier: DataFrame, num_partitions: int) -> DataFrame:
    """Physical layout for the stored frontier: hash-partitioned by
    host, sorted within partitions by (host, dequeue key).

    This is the parquet-fallback analog of an Iceberg table with
    ``PARTITIONED BY (bucket(N, host))`` + ``WRITE ORDERED BY
    (priority DESC, run_at, seq)`` (SURVEY.md §4 "queue composite
    index"). With this layout the per-host politeness window needs
    neither an exchange nor a sort — Catalyst sees the child's
    hashpartitioning(host) and ordering already satisfy the window's
    requirements, so dequeue degenerates to a streaming scan.
    """
    return frontier.repartition(num_partitions, F.col("host")).sortWithinPartitions(
        F.col("host").asc(), F.col("priority").desc(), F.col("run_at").asc(), F.col("seq").asc()
    )


def runnable(frontier: DataFrame, now: dt.datetime) -> DataFrame:
    """Runnable predicate — pushed down to the parquet scan."""
    return frontier.where(
        (F.col("status") == STATUS_QUEUED) & (F.col("run_at") <= F.lit(now))
    )


def dequeue_batch_polite(
    frontier: DataFrame,
    k: int,
    now: dt.datetime,
    per_host_cap: int,
    sample_rows: int = 20_000,
    safety: float = 1.5,
    small_n_cutoff: int | None = None,
    max_widen: int = 3,
    with_rank: bool = True,
    n_hint: int | None = None,
    cache_registry: "list[DataFrame] | None" = None,
    presample: "list | None" = None,
) -> DataFrame:
    """Politeness-capped top-K dequeue — the epoch-loop primitive, and
    the one dequeue: a cap ≥ ``k`` is the plain Q2 top-K (no host can
    hold more than k rows of a k-row batch).

    Semantics (== the sequential oracle's greedy loop): walk the
    runnable rows in canonical order, take a row unless its host
    already has ``per_host_cap`` rows in the batch, stop at ``k``.
    Because the within-host order is a restriction of the global
    order, greedy is equivalent to: *eligible* = rows whose
    within-host rank ≤ cap; batch = top-k eligible in global order
    (the rows greedy skips are exactly those with host-rank > cap).

    Scale shape: the naive formulation is a window over the FULL
    runnable frontier — an Exchange+Sort of 10^10 rows every epoch.
    Instead, for large frontiers this samples the runnable rows' order
    keys and takes the key at quantile k/N (inflated by ``safety``) as
    a threshold that cuts a global-order *prefix* first (pushed to the
    scan), then ranks hosts only inside the prefix:

    - prefix-closure: all same-host rows ordered before a prefix row
      are themselves in the prefix, so host-rank computed on the
      prefix equals true host-rank — eligibility is exact;
    - sufficiency: if the prefix holds ≥ k eligible rows, the global
      top-k eligible all lie in it (the k-th eligible key ≤ threshold).

    If the prefix undershoots (hot host eats the top of the order),
    the threshold widens geometrically up to ``max_widen`` times, then
    falls back to the exact path. Result is EXACTLY equal to the
    greedy oracle (tested in tests/test_frontier_queue.py).

    ``n_hint``: the caller's estimate of the runnable count (the
    engine tracks queue size exactly across epochs), replacing the
    sizing ``count()`` — one less full-frontier scan per epoch.
    Correctness never depends on the hint: it only picks the sampling
    fraction and code path; an undershot prefix still widens/falls
    back exactly. Per epoch this function then runs exactly TWO
    frontier-scanning jobs in the common case: the threshold sample,
    and ONE job that materializes the eligible-prefix cache AND
    returns (k-th order key, rows seen by the k-limited probe) — the
    count doubling as the sufficiency check, fused into the same
    aggregate.

    ``cache_registry``: when given (and the sampled path engages), the
    eligible-prefix cache handle is appended for the CALLER to
    unpersist after it has materialized whatever it derives from the
    batch; the returned batch is then a lazy threshold cut over that
    cache (no second cache, no extra count job). Without it the
    function is self-contained exactly as before: the returned batch
    carries its own materialized cache and the prefix cache is
    released before returning.

    ``presample``: order-key rows (mappings with priority/run_at/seq)
    collected EARLIER — e.g. as a byproduct of the previous epoch's
    frontier merge — replacing this call's threshold-sampling job
    (one less frontier-scanning job per epoch; in steady state the
    sample rides the write path for free). Correctness never depends
    on sample freshness: the threshold only picks the candidate
    prefix, an undershot prefix widens geometrically and ultimately
    falls back to the exact path, and sufficiency is verified against
    the LIVE frontier by the fused k-th-key probe.
    """
    df = runnable(frontier, now)
    w_host = Window.partitionBy("host").orderBy(*DEQUEUE_ORDER())

    def eligible_of(src: DataFrame) -> DataFrame:
        return (
            src.withColumn("__hr", F.row_number().over(w_host))
            .where(F.col("__hr") <= per_host_cap)
            .drop("__hr")
        )

    def take_k(elig: DataFrame) -> "tuple[DataFrame, int | None]":
        """Top-k of the eligible rows in canonical order; also returns
        how many rows the k-limited probe saw (== k ⟺ |elig| ≥ k —
        the sufficiency check fused into the probe's aggregate, no
        separate count job), or None on the ``with_rank`` path (which
        runs no probe).

        ``with_rank`` needs a totally-ordered batch anyway, so the
        plain TakeOrdered is right. Without it, only the top-k SET is
        needed, and ``orderBy().limit(k)`` would be a driver-side
        merge of partitions×k FULL rows feeding a single-partition
        output into the next stage. Instead: find the k-th order key
        with a NARROW (3-column) TakeOrdered + one-row agg, then cut
        the batch as a distributed threshold filter — the driver
        handles 3-field keys only and the batch stays partitioned.
        Exact because (priority, run_at, seq) is a total order (seq
        unique); returns all |elig| rows when |elig| < k, exactly as
        the TakeOrdered form does."""
        if with_rank:
            return elig.orderBy(*DEQUEUE_ORDER()).limit(k), None
        nkey = [(-F.col("priority")).alias("__p"), F.col("run_at").alias("__r"), F.col("seq").alias("__s")]
        row = (
            elig.select(*nkey)
            .orderBy("__p", "__r", "__s")
            .limit(k)
            .agg(
                F.max(F.struct("__p", "__r", "__s")).alias("m"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()[0]
        )
        kth, took = row["m"], int(row["c"])
        if kth is None:
            return elig.where(F.lit(False)), took
        thresh = F.struct(
            F.lit(kth["__p"]).alias("__p"),
            F.lit(kth["__r"]).cast("timestamp").alias("__r"),
            F.lit(kth["__s"]).alias("__s"),
        )
        return elig.where(F.struct(*nkey) <= thresh), took

    def finish(batch: DataFrame) -> DataFrame:
        if with_rank:
            w = Window.orderBy(*DEQUEUE_ORDER())
            batch = batch.withColumn("crawl_rank", F.row_number().over(w).cast("long"))
        return batch

    n = n_hint if n_hint is not None else df.count()
    # Sampled-prefix path engages once the frontier is ≥2× the batch:
    # the prefix it windows is ~k·safety rows vs the exact path's n,
    # and the extra sample+materialize jobs amortize from there. (The
    # old k*4 cutoff silently forced the exact full-window path for
    # any batch ≥ n/4 — including the throughput bench's n/4 batch.)
    cutoff = small_n_cutoff if small_n_cutoff is not None else max(k * 2, 100_000)
    if n <= cutoff:
        return finish(take_k(eligible_of(df))[0])

    if presample is not None:
        sample = list(presample)
    else:
        sample = (
            df.select("priority", "run_at", "seq")
            .sample(False, min(1.0, sample_rows / max(n, 1)), seed=42)
            .collect()
        )
    if not sample:
        return finish(take_k(eligible_of(df))[0])
    sample.sort(key=lambda r: (-r["priority"], r["run_at"], r["seq"]))

    frac = (k / n) * safety
    for _ in range(max_widen):
        cut_idx = min(len(sample) - 1, int(len(sample) * frac))
        t = sample[cut_idx]
        tp, tr, ts = t["priority"], t["run_at"], t["seq"]
        # global-order prefix: key ≤ threshold (pushdown-friendly)
        prefix = df.where(
            (F.col("priority") > tp)
            | ((F.col("priority") == tp) & (F.col("run_at") < F.lit(tr)))
            | ((F.col("priority") == tp) & (F.col("run_at") == F.lit(tr)) & (F.col("seq") <= ts))
        )
        # ONE frontier scan per attempt: the prefix's eligible rows
        # are cached, so the k-th-key probe (whose collect also
        # materializes that cache and carries the fused sufficiency
        # count) and the threshold cut touch the ~k·safety-row cache
        # instead of rescanning + re-windowing the full frontier
        # (was: two full scans + two per-host windows per epoch).
        # probe-took == k ⟺ |eligible ∩ prefix| ≥ k ⟺ the take is
        # exact.
        elig = eligible_of(prefix).cache()
        cut, took = take_k(elig)
        sufficient = (took >= k) if took is not None else None
        if sufficient is False:
            elig.unpersist()
            if cut_idx >= len(sample) - 1:
                break
            frac *= 4.0
            continue
        if sufficient and cache_registry is not None:
            # caller owns the prefix cache; batch is a lazy cut over it
            cache_registry.append(elig)
            return finish(cut)
        # self-contained (or with_rank, where sufficiency needs the
        # count anyway): materialize the batch's own cache, then drop
        # the prefix cache — the caller's handle on the RETURNED batch
        # frees everything (ADVICE r2: the success path used to leak
        # one cached DF per epoch).
        batch = finish(cut).cache()
        ok = True if sufficient else batch.count() >= k
        if ok and sufficient:
            batch.count()  # materialize before the prefix cache drops
        elig.unpersist()
        if ok:
            # The caller's handle on the RETURNED batch owns this cache
            # (engine unpersists it directly); the registry is only for
            # caches the caller can't otherwise reach (the eligible-
            # prefix cache above) — appending here would make engine
            # unpersist the same cache twice (ADVICE r3).
            return batch
        batch.unpersist()
        if cut_idx >= len(sample) - 1:
            break
        frac *= 4.0
    return finish(take_k(eligible_of(df))[0])


def _status_merge(frontier: DataFrame, updates: DataFrame, new_status: str, **set_cols: Column) -> DataFrame:
    """MERGE-style status update: rows whose ``seq`` appears in
    ``updates`` get ``new_status`` (+ extra column assignments).

    With an Iceberg catalog this is ``MERGE INTO``; the parquet
    fallback expresses it as a broadcast left join (updates ≤ batch
    size, always broadcastable)."""
    upd = updates.select(F.col("seq").alias("__useq"), *[c.alias(f"__u_{n}") for n, c in set_cols.items()])
    joined = frontier.join(F.broadcast(upd), frontier["seq"] == upd["__useq"], "left")
    matched = F.col("__useq").isNotNull()
    out = joined.withColumn("status", F.when(matched, F.lit(new_status)).otherwise(F.col("status")))
    for name in set_cols:
        out = out.withColumn(name, F.when(matched, F.col(f"__u_{name}")).otherwise(F.col(name)))
    return out.drop("__useq", *[f"__u_{n}" for n in set_cols])


def mark_done(frontier: DataFrame, done: DataFrame) -> DataFrame:
    """Q3: status='finished', error cleared (reference
    server/services/jobs.py:279-285)."""
    return _status_merge(frontier, done, STATUS_FINISHED, error=F.lit(None).cast("string"))


def backoff_delay_col(attempts: Column, fingerprint: Column) -> Column:
    """Deterministic jittered backoff (reference
    server/services/jobs.py:121-134): base = clamp(attempts*60, 30,
    3600); delay = base × U(0.8, 1.2); re-clamp to [30, 3600].

    The uniform draw is a pure function of (fingerprint, attempts):
    crc32 of the pair mapped into [0,1). Cluster-size invariant, unlike
    ``F.rand`` whose stream depends on partition layout.
    """
    base = F.greatest(F.lit(30), F.least(attempts.cast("long") * 60, F.lit(3600)))
    u = (
        F.crc32(F.encode(F.concat_ws("#", fingerprint, attempts.cast("string")), "utf-8"))
        % F.lit(1_000_000)
    ) / F.lit(1_000_000.0)
    delay = F.round(base * (F.lit(0.8) + F.lit(0.4) * u)).cast("long")
    return F.greatest(F.lit(30), F.least(delay, F.lit(3600)))


def mark_failed(frontier: DataFrame, failed: DataFrame, now: dt.datetime, error: str = "fetch error") -> DataFrame:
    """Q4: attempts+1; if exhausted → failed, else requeue at
    now+backoff (reference server/services/jobs.py:288-341)."""
    upd = failed.select(
        F.col("seq").alias("__useq"),
        (F.col("attempts") + 1).alias("__new_attempts"),
        F.col("max_attempts").alias("__ma"),
        backoff_delay_col(F.col("attempts"), F.col("fingerprint")).alias("__delay"),
    )
    joined = frontier.join(F.broadcast(upd), frontier["seq"] == upd["__useq"], "left")
    matched = F.col("__useq").isNotNull()
    exhausted = matched & (F.col("__new_attempts") >= F.col("__ma"))
    requeued = matched & ~(F.col("__new_attempts") >= F.col("__ma"))
    out = (
        joined.withColumn(
            "status",
            F.when(exhausted, F.lit(STATUS_FAILED))
            .when(requeued, F.lit(STATUS_QUEUED))
            .otherwise(F.col("status")),
        )
        .withColumn("attempts", F.when(matched, F.col("__new_attempts")).otherwise(F.col("attempts")))
        .withColumn(
            "run_at",
            F.when(requeued, F.lit(now).cast("timestamp") + F.col("__delay") * F.expr("INTERVAL 1 SECOND")).otherwise(
                F.col("run_at")
            ),
        )
        .withColumn("error", F.when(matched, F.lit(error)).otherwise(F.col("error")))
    )
    return out.drop("__useq", "__new_attempts", "__ma", "__delay")


def dedupe_by_fingerprint(candidates: DataFrame, frontier: DataFrame | None) -> DataFrame:
    """Q5: drop candidates whose fingerprint already has an *active*
    (queued/running) frontier row; also first-wins within the batch
    (reference server/api/jobs.py:352-423, ACTIVE_STATUSES :36)."""
    w = Window.partitionBy("fingerprint").orderBy(F.col("seq_key").asc() if "seq_key" in candidates.columns else F.col("url_canon").asc())
    fresh = candidates.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
    if frontier is None:
        return fresh
    active = frontier.where(F.col("status").isin(*ACTIVE_STATUSES)).select("fingerprint").distinct()
    return fresh.join(active, "fingerprint", "left_anti")


def update_progress(
    frontier: DataFrame,
    updates: DataFrame,
    total_key: str = "total_chunks",
    done_key: str = "completed_chunks",
) -> DataFrame:
    """Q7 — progress merge into the payload map (reference
    ``server/services/jobs.py:343-390``: ``payload || {"progress":
    {..., percent_complete: round(done/total*100, 4)}}``).

    ``updates``: (seq, total_chunks, completed_chunks). The map merge
    is ``map_concat`` with the new keys winning — the jsonb ``||``
    analog. Clamping matches the reference exactly
    (``update_job_progress``): ``total = max(total, 0)``;
    ``completed`` clamped into ``[0, total]`` when total > 0 (else
    floored at 0); ``percent_complete = round(min(1.0,
    completed/total), 4)`` — a 0–1 *fraction*, not a percentage —
    stringified at 4 dp.
    """
    upd = updates.select(
        F.col("seq").alias("__useq"),
        F.greatest(F.col(total_key).cast("long"), F.lit(0)).alias("__u_total"),
        F.col(done_key).cast("long").alias("__u_done_raw"),
    ).withColumn(
        "__u_done",
        F.when(
            F.col("__u_total") > 0,
            F.greatest(F.lit(0), F.least(F.col("__u_done_raw"), F.col("__u_total"))),
        ).otherwise(F.greatest(F.lit(0), F.col("__u_done_raw"))),
    ).drop("__u_done_raw")
    pct = F.when(
        F.col("__u_total") > 0,
        F.round(F.least(F.lit(1.0), F.col("__u_done") / F.col("__u_total")), 4),
    ).otherwise(F.lit(0.0))
    joined = frontier.join(F.broadcast(upd), frontier["seq"] == upd["__useq"], "left")
    progress_map = F.create_map(
        F.lit("progress.total_chunks"), F.col("__u_total").cast("string"),
        F.lit("progress.completed_chunks"), F.col("__u_done").cast("string"),
        F.lit("progress.percent_complete"), pct.cast("string"),
    )
    # jsonb `||` is last-wins; Spark's map_concat THROWS on duplicate
    # keys (mapKeyDedupPolicy=EXCEPTION) — drop the old progress.* keys
    # before concatenating so re-applying progress is idempotent
    progress_keys = ("progress.total_chunks", "progress.completed_chunks", "progress.percent_complete")
    old_without_progress = F.map_filter(
        F.coalesce(F.col("payload"), F.expr("map()")),
        lambda k, _v: ~k.isin(*progress_keys),
    )
    merged = F.map_concat(old_without_progress, progress_map)
    out = joined.withColumn(
        "payload", F.when(F.col("__useq").isNotNull(), merged).otherwise(F.col("payload"))
    )
    return out.drop("__useq", "__u_total", "__u_done")


def queue_stats(frontier: DataFrame) -> DataFrame:
    """Q10: ``GROUP BY status`` counts (reference server/manage.py:362-364)."""
    return frontier.groupBy("status").agg(F.count(F.lit(1)).alias("n")).orderBy("status")
