"""Streaming frontier ingestion — the Structured Streaming analog of
the reference's poll loop (reference ``server/manage.py:498-529``:
sleep-poll-dequeue becomes a micro-batch trigger).

Two entry points:

- :func:`candidate_stream_transform` — the stateless per-batch
  transformation (canonicalize → host → fingerprint → dedup-in-batch)
  of the file-source stream. The batch engine does not call it: its
  candidates go through ``politeness.robots_filter``, one Python pass
  that also applies the robots gate. Both canonicalize with the same
  ``functions/urls.py`` kernel.
- :func:`run_ingest_stream` — wires a file source (a directory new
  seed files land in) through the transform into a ``foreachBatch``
  sink that MERGEs into the frontier snapshot store, with
  ``availableNow`` drain semantics (≙ the reference worker's
  ``--once`` mode, reference ``server/manage.py:440-497``).

Watermarking note: the frontier's event-time is ``discovered_at``;
late discoveries only ever *add* URLs (the seen-filter makes merges
idempotent), so the pipeline needs no watermark for correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from podcast_plow_spark.functions.urls import canonicalize_url_udf, extract_host_udf

__all__ = ["candidate_stream_transform", "run_ingest_stream"]


def candidate_stream_transform(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Stateless candidate projection, streaming-safe (no global
    windows: in-batch dedup uses dropDuplicates, which in streaming
    mode is per-batch state-backed)."""
    out = (
        df.withColumn("url_canon", canonicalize_url_udf(F.col(url_col)))
        .where(F.col("url_canon").isNotNull())
        .withColumn("host", extract_host_udf(F.col("url_canon")))
        .withColumn("fingerprint", F.sha2(F.col("url_canon"), 256))
    )
    return out.dropDuplicates(["url_canon"])


def run_ingest_stream(
    spark: SparkSession,
    seeds_dir: str,
    checkpoint_dir: str,
    sink_dir: str,
    available_now: bool = True,
):
    """File-source seed ingestion: each text file dropped in
    ``seeds_dir`` streams through the candidate transform and appends
    parquet (idempotent on url_canon via per-batch anti-join against
    the sink)."""
    raw = spark.readStream.format("text").load(seeds_dir).select(F.trim(F.col("value")).alias("url"))
    seeds = raw.where((F.col("url") != "") & ~F.col("url").startswith("#"))
    cand = candidate_stream_transform(seeds)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        existing = None
        try:
            existing = batch_df.sparkSession.read.parquet(sink_dir)
        except Exception:  # noqa: BLE001 — first batch, sink not yet created
            pass
        fresh = batch_df
        if existing is not None:
            fresh = batch_df.join(existing.select("url_canon"), "url_canon", "left_anti")
        fresh.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink_dir)

    writer = cand.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

