"""The fetch stage: one ``crawl.bench.frontier_throughput`` call on the
package's synthetic frontier (a 10% hot host), made in traced runs
only, after the host workload's own measurement.

Each epoch of the call runs two job trees at once. The main thread
dequeues, schedules and decodes the batch (decode, PSNR and phash over
the ``sources.images`` kernels); a maintenance thread seen-filters a
candidate stream and enqueues the survivors. The package times three
fresh-candidate epochs and two overlap epochs (candidates ~100%
already seen) after one warm-up epoch, and reports the best of each.
"""

from __future__ import annotations

import threading
import traceback

N_URLS = {"full": 4000, "tiny": 400}
PARTITIONS = 4
LAYERS = ("fetch", "frontier_epoch")


def install_tracing(tracer) -> None:
    from podcast_plow_spark.crawl import bench
    from podcast_plow_spark.operators import frontier, seen

    main = threading.main_thread()

    def decode_planned(args, kwargs, out):
        # the decode plan is lazy; the main thread's next job is the
        # count() that runs it
        tracer.mark("fetch.decode")

    def enqueued(args, kwargs, out):
        # in the maintenance thread the next job is the count() that
        # runs the seen filter and the enqueue
        if threading.current_thread() is not main:
            tracer.mark("fetch.maint_action")

    tracer.wrap_function(bench, "_decode_psnr_stage", "frontier_epoch.decode_plan", on_return=decode_planned)
    tracer.wrap_function(frontier, "dequeue_batch_polite", "frontier_epoch.dequeue")
    tracer.wrap_function(frontier, "enqueue", "frontier_epoch.enqueue", on_return=enqueued)
    tracer.wrap_function(seen, "build_bloom", "frontier_epoch.bloom_build")
    tracer.wrap_function(seen, "seen_filter_exact", "frontier_epoch.seen_filter")


def measure(spark, tracer, size: str) -> dict:
    """Traced call; returns its per-layer metrics and whether it failed
    (an exception, including the package's ``n_batch == k`` invariant)."""
    from podcast_plow_spark.crawl.bench import frontier_throughput

    from spans import sum_jobs

    install_tracing(tracer)
    failed = 0
    out = {"urls_per_sec": 0.0, "urls_per_sec_overlap": 0.0}
    with tracer.span("frontier_epoch") as root:
        tracer.root = root  # parent of the maintenance thread's spans
        try:
            out = frontier_throughput(spark, n_urls=N_URLS[size], partitions=PARTITIONS)
        except Exception:  # noqa: BLE001 — a failing call is a failed operation
            traceback.print_exc()
            failed = 1
    tracer.root = None
    tracer.uninstall()
    jm = tracer.collect()
    decode = sum_jobs(jm, tracer.jobs_named("fetch.decode"))
    m = {
        "frontier_epoch.fresh_urls_per_s": out["urls_per_sec"],
        "frontier_epoch.overlap_urls_per_s": out["urls_per_sec_overlap"],
        "frontier_epoch.dequeue_s": tracer.wall("frontier_epoch.dequeue"),
        "frontier_epoch.bloom_build_s": tracer.wall("frontier_epoch.bloom_build"),
        "frontier_epoch.seen_filter_s": tracer.wall("frontier_epoch.seen_filter"),
        "frontier_epoch.enqueue_s": tracer.wall("frontier_epoch.enqueue"),
        "fetch.decode_s": decode["wall_s"],
        "fetch.decode_exec_s": decode["exec_s"],
        "fetch.maint_action_s": sum_jobs(jm, tracer.jobs_named("fetch.maint_action"))["wall_s"],
    }
    return {"failed": failed, "layers": m, "detail": {"frontier_throughput": out, "n_urls": N_URLS[size]}}
