"""Streaming frontier ingestion — the Structured Streaming analog of
the reference's poll loop (reference ``server/manage.py:498-529``:
sleep-poll-dequeue becomes a micro-batch trigger).

One entry point, :func:`run_ingest_stream`: a file source (a
directory new seed files land in) read one file per micro-batch, and
a ``foreachBatch`` sink that numbers the file's seed lines
(``sources/feeds.seeds_from_lines``) and hands them to
``CrawlEngine.ingest``. So streamed seeds take the crawl's one
candidate path — robots gate, first row by ``seq_key`` per canonical
URL, seen filter, enqueue — into the engine's snapshot store, and a
stream-built frontier equals a batch-bootstrapped one
(tests/test_streaming.py). ``availableNow`` gives drain semantics
(≙ the reference worker's ``--once`` mode, reference
``server/manage.py:440-497``).

No watermark: a late seed file only adds URLs, and the seen filter
makes a replayed micro-batch admit nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from podcast_plow_spark.crawl.engine import CrawlEngine
from podcast_plow_spark.sources.feeds import seeds_from_lines

__all__ = ["run_ingest_stream"]


def run_ingest_stream(
    engine: CrawlEngine,
    seeds_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Ingest each text file dropped in ``seeds_dir`` into
    ``engine``'s frontier, one file per micro-batch in arrival order
    (so seed order across files is the file order); returns the
    started query."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        engine.ingest(seeds_from_lines(batch_df))

    lines = engine.spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(seeds_dir)
    writer = lines.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
