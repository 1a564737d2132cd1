"""Structured Streaming front-end: WAT shards as a file stream → waves.

The reference's job loop is pull-based (tracker hands out WAT URLs,
crawlingathome.py:216-217). The streaming-native equivalent watches a directory
of WAT text files with `readStream` and runs one frontier wave per micro-batch
via `foreachBatch` — inside the batch function the DataFrame is a normal batch
frame, so the exact same run_wave plan (and its snapshot commit) executes, giving
end-to-end exactly-once: Spark's streaming checkpoint dedups input files, the
warehouse manifest dedups output/state commits.

There is no event time in the FRONTIER workload (SURVEY.md §2.6: waves are
processing-time tumbling batches), so no watermark is configured here; the
event-time + watermark streaming form lives where event time exists — the
events rollup in streaming/windowed.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from ..sources.wat import wat_lines_to_links
from ..state.snapshots import Warehouse
from ..plans.wave import run_wave


def stream_waves(
    spark: SparkSession,
    wh: Warehouse,
    cfg: EngineConfig,
    watch_dir: str,
    checkpoint_dir: str,
    pairs: DataFrame,
    robots: DataFrame,
    available_now: bool = True,
):
    """Start (or drain, with available_now) a streaming query that runs one
    frontier wave per discovered WAT file batch."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        links = wat_lines_to_links(batch_df)
        if links.limit(1).count() == 0:
            return
        run_wave(spark, wh, cfg, pairs, robots, links, collect_lineage=False)

    stream = spark.readStream.format("text").load(watch_dir)
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
