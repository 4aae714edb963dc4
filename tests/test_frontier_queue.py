"""Frontier priority-queue parity with the reference queue semantics
(scenarios modeled on reference tests/test_jobs_service_queue.py:
priority ordering, backoff envelope, fingerprint dedup, stats)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from podcast_plow_spark.operators import frontier as fr

NOW = dt.datetime(2024, 1, 1, 12, 0, 0)


def _candidates(spark, rows):
    return spark.createDataFrame(
        rows, "url string, url_canon string, host string, fingerprint string, priority int, seq_key long"
    )


@pytest.fixture()
def frontier(spark):
    cand = _candidates(
        spark,
        [
            ("u1", "u1", "a.com", "f1", 0, 1),
            ("u2", "u2", "b.com", "f2", 5, 2),
            ("u3", "u3", "a.com", "f3", 5, 3),
            ("u4", "u4", "c.com", "f4", 1, 4),
        ],
    )
    return fr.enqueue(cand, epoch=0, run_at=NOW - dt.timedelta(hours=1)).cache()


def test_dequeue_order_priority_desc_then_seq(spark, frontier):
    batch = fr.dequeue_batch_polite(frontier, k=10, now=NOW, per_host_cap=10)
    order = [r["url_canon"] for r in batch.orderBy("crawl_rank").collect()]
    # priority 5 first (seq ties broken ascending), then 1, then 0
    assert order == ["u2", "u3", "u4", "u1"]


def test_dequeue_respects_run_at_gate(spark, frontier):
    future = frontier.withColumn(
        "run_at", F.when(F.col("url_canon") == "u2", F.lit(NOW + dt.timedelta(hours=1))).otherwise(F.col("run_at"))
    )
    batch = fr.dequeue_batch_polite(future, k=10, now=NOW, per_host_cap=10)
    assert "u2" not in {r["url_canon"] for r in batch.collect()}


def test_dequeue_limit(spark, frontier):
    assert fr.dequeue_batch_polite(frontier, k=2, now=NOW, per_host_cap=2).count() == 2


def test_mark_done_clears_error(spark, frontier):
    batch = fr.dequeue_batch_polite(frontier, k=1, now=NOW, per_host_cap=1)
    updated = fr.mark_done(frontier, batch.select("seq"))
    done = updated.where(F.col("status") == fr.STATUS_FINISHED).collect()
    assert len(done) == 1 and done[0]["url_canon"] == "u2" and done[0]["error"] is None


def test_backoff_envelope_attempt0(spark, frontier):
    """Reference envelope for attempt 0: base 30 clamped, jitter ×[0.8,1.2],
    re-clamped → delay ∈ [30, 36] (reference tests pin 30 ≤ d ≤ 60)."""
    failed = frontier.limit(4)
    updated = fr.mark_failed(frontier, failed, now=NOW)
    requeued = updated.where(F.col("status") == fr.STATUS_QUEUED).collect()
    assert len(requeued) == 4
    for r in requeued:
        delay = (r["run_at"] - NOW).total_seconds()
        assert 24 <= delay <= 36, delay  # 30×[0.8,1.2]
        assert r["attempts"] == 1


def test_backoff_is_deterministic(spark, frontier):
    failed = frontier.limit(4)
    a = {r["url_canon"]: r["run_at"] for r in fr.mark_failed(frontier, failed, now=NOW).where(
        F.col("status") == fr.STATUS_QUEUED).collect()}
    b = {r["url_canon"]: r["run_at"] for r in fr.mark_failed(frontier.repartition(7), failed, now=NOW).where(
        F.col("status") == fr.STATUS_QUEUED).collect()}
    assert a == b  # cluster-layout invariant (seeded jitter)


def test_exhausted_attempts_fail(spark, frontier):
    tired = frontier.withColumn("attempts", F.lit(2))  # max_attempts=3
    updated = fr.mark_failed(tired, tired.limit(4), now=NOW)
    assert updated.where(F.col("status") == fr.STATUS_FAILED).count() == 4


def test_fingerprint_dedup_first_wins_and_active_skipped(spark, frontier):
    cand = _candidates(
        spark,
        [
            ("x1", "x1", "a.com", "f1", 0, 10),  # f1 active in frontier → dropped
            ("x2", "x2", "a.com", "fx", 0, 11),  # new
            ("x3", "x3", "a.com", "fx", 0, 12),  # same fp in batch → first wins
        ],
    )
    out = fr.dedupe_by_fingerprint(cand, frontier).collect()
    assert {r["url_canon"] for r in out} == {"x2"}


def test_queue_stats(spark, frontier):
    batch = fr.dequeue_batch_polite(frontier, k=1, now=NOW, per_host_cap=1)
    updated = fr.mark_done(frontier, batch.select("seq"))
    stats = {r["status"]: r["n"] for r in fr.queue_stats(updated).collect()}
    assert stats == {"finished": 1, "queued": 3}


def test_update_progress_merges_payload(spark, frontier):
    updates = spark.createDataFrame([(1, 10, 4)], "seq long, total_chunks int, completed_chunks int")
    # seq 1 corresponds to one of the enqueued rows (dense seq mode)
    out = fr.update_progress(frontier, updates)
    row = out.where(F.col("seq") == 1).collect()[0]
    p = row["payload"]
    assert p["progress.total_chunks"] == "10"
    assert p["progress.completed_chunks"] == "4"
    # reference stores round(min(1.0, done/total), 4) — a 0-1 FRACTION
    assert p["progress.percent_complete"] == "0.4"
    untouched = out.where(F.col("seq") == 2).collect()[0]
    assert untouched["payload"] is None


def test_update_progress_clamps_like_reference(spark, frontier):
    # done > total → completed clamped to total, percent capped at 1.0;
    # negative done → floored at 0 (reference update_job_progress)
    updates = spark.createDataFrame(
        [(1, 10, 25), (2, 10, -3)], "seq long, total_chunks int, completed_chunks int"
    )
    rows = {r["seq"]: r["payload"] for r in fr.update_progress(frontier, updates).where(F.col("seq").isin(1, 2)).collect()}
    assert rows[1]["progress.completed_chunks"] == "10"
    assert rows[1]["progress.percent_complete"] == "1.0"
    assert rows[2]["progress.completed_chunks"] == "0"
    assert rows[2]["progress.percent_complete"] == "0.0"


def test_update_progress_zero_total(spark, frontier):
    updates = spark.createDataFrame([(1, 0, 0)], "seq long, total_chunks int, completed_chunks int")
    row = fr.update_progress(frontier, updates).where(F.col("seq") == 1).collect()[0]
    assert row["payload"]["progress.percent_complete"] == "0.0"


def _greedy_oracle(rows, k, cap):
    """The sequential greedy politeness dequeue: walk global order,
    take a row unless its host already holds `cap` batch slots."""
    rows = sorted(rows, key=lambda r: (-r["priority"], r["run_at"], r["seq"]))
    batch, host_counts = [], {}
    for r in rows:
        if len(batch) >= k:
            break
        if host_counts.get(r["host"], 0) >= cap:
            continue
        host_counts[r["host"]] = host_counts.get(r["host"], 0) + 1
        batch.append(r["seq"])
    return batch


class TestDequeueBatchPolite:
    def _frontier(self, spark, n=3000, hot_every=3):
        # hot host takes every `hot_every`-th row incl. the whole top of
        # the priority order — the adversarial case for threshold cuts
        cand = _candidates(
            spark,
            [
                (
                    f"u{i}",
                    f"u{i}",
                    "hot.com" if i % hot_every == 0 else f"h{i % 37}.com",
                    f"f{i}",
                    9 if i % hot_every == 0 else i % 5,  # hot host dominates top
                    i,
                )
                for i in range(n)
            ],
        )
        return fr.enqueue(cand, epoch=0, run_at=NOW - dt.timedelta(hours=1))

    def test_exact_path_matches_greedy(self, spark):
        frontier = self._frontier(spark, n=400)
        rows = frontier.select("host", "priority", "run_at", "seq").collect()
        for k, cap in [(10, 1), (25, 2), (400, 3)]:
            batch = fr.dequeue_batch_polite(frontier, k, NOW, cap)  # small n → exact path
            got = [r["seq"] for r in batch.orderBy("crawl_rank").collect()]
            assert got == _greedy_oracle(rows, k, cap), (k, cap)

    def test_sampled_path_matches_greedy_under_hot_host(self, spark):
        frontier = self._frontier(spark, n=3000).cache()
        rows = frontier.select("host", "priority", "run_at", "seq").collect()
        try:
            for k, cap in [(50, 1), (120, 2)]:
                batch = fr.dequeue_batch_polite(
                    frontier, k, NOW, cap, sample_rows=500, small_n_cutoff=100
                )
                got = [r["seq"] for r in batch.orderBy("crawl_rank").collect()]
                assert got == _greedy_oracle(rows, k, cap), (k, cap)
        finally:
            frontier.unpersist()

    def test_sampled_path_widens_until_exact(self, spark):
        # cap=1 and a hot host owning the entire top: the first
        # threshold cut is mostly cap-skipped rows → must widen/fall
        # back, still exact
        frontier = self._frontier(spark, n=3000, hot_every=2).cache()
        rows = frontier.select("host", "priority", "run_at", "seq").collect()
        try:
            batch = fr.dequeue_batch_polite(
                frontier, 200, NOW, 1, sample_rows=300, small_n_cutoff=50, safety=1.05
            )
            got = [r["seq"] for r in batch.orderBy("crawl_rank").collect()]
            assert got == _greedy_oracle(rows, 200, 1)
        finally:
            frontier.unpersist()

    def test_presample_matches_inline_sampling_even_stale(self, spark):
        # a presample (the carried-across-epochs threshold sample) must
        # never change the batch — even a wildly unrepresentative one
        # (the prefix widens / falls back; sufficiency is probed live)
        frontier = self._frontier(spark, n=3000).cache()
        rows = frontier.select("host", "priority", "run_at", "seq").collect()
        try:
            expected = _greedy_oracle(rows, 120, 2)
            fresh = (
                frontier.select("priority", "run_at", "seq")
                .sample(False, 500 / 3000, seed=7)
                .collect()
            )
            stale = fresh[: len(fresh) // 10]  # 10% of the sample
            skewed = [r for r in fresh if r["seq"] % 2 == 0]  # biased subset
            for ps in (fresh, stale, skewed):
                batch = fr.dequeue_batch_polite(
                    frontier, 120, NOW, 2, sample_rows=500, small_n_cutoff=100,
                    n_hint=3000, presample=ps,
                )
                got = [r["seq"] for r in batch.orderBy("crawl_rank").collect()]
                assert got == expected, len(ps)
        finally:
            frontier.unpersist()

    def test_registry_owns_every_cache_left_alive(self, spark):
        """With a registry, the registry holds every cache the dequeue
        leaves alive: none on the exact path, the ranked batch's own
        cache on the sampled path. A caller that derives a new plan
        from the batch and releases only the registry leaks nothing."""
        frontier = self._frontier(spark, n=3000).cache()
        jsc = spark.sparkContext._jsc
        try:
            frontier.count()
            before = set(jsc.getPersistentRDDs().keys())
            for cutoff, sampled in ((100, True), (None, False)):
                registry: list = []
                batch = fr.dequeue_batch_polite(
                    frontier, 50, NOW, 2, sample_rows=500, small_n_cutoff=cutoff, cache_registry=registry
                )
                derived = batch.withColumn("x", F.lit(1)).cache()
                assert derived.count() == 50
                derived.unpersist()
                assert bool(registry) == sampled, cutoff
                for h in registry:
                    h.unpersist()
                assert set(jsc.getPersistentRDDs().keys()) == before, cutoff
        finally:
            frontier.unpersist()

    def test_respects_run_at(self, spark):
        cand = _candidates(spark, [("u1", "u1", "a.com", "f1", 0, 1), ("u2", "u2", "b.com", "f2", 0, 2)])
        frontier = fr.enqueue(cand, epoch=0, run_at=NOW + dt.timedelta(hours=1))
        assert fr.dequeue_batch_polite(frontier, 10, NOW, 2).count() == 0


    def test_wrong_n_hint_still_exact(self, spark):
        # the hint only picks sampling fraction / code path — a wildly
        # wrong estimate must never change the dequeued batch
        frontier = self._frontier(spark, n=3000).cache()
        rows = frontier.select("host", "priority", "run_at", "seq").collect()
        try:
            expected = _greedy_oracle(rows, 80, 2)
            for hint in (50, 3000, 10_000_000):
                batch = fr.dequeue_batch_polite(
                    frontier, 80, NOW, 2, sample_rows=500, small_n_cutoff=100, n_hint=hint
                )
                got = [r["seq"] for r in batch.orderBy("crawl_rank").collect()]
                assert got == expected, hint
        finally:
            frontier.unpersist()
