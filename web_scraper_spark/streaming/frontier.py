"""Streaming frontier ingest: the continuous twin of the crawl's seed
stage (SURVEY.md A5 in streaming form) — a file-source stream of raw
seed URLs flows through prepare -> streaming URL-seen dedup ->
politeness round assignment and lands in a frontier SnapshotTable, one
atomic snapshot commit per micro-batch.

Shape notes:
- dedup is the stateful ``streaming/dedup.dedup_stream`` twin (same
  pmod(xxhash64) partitioning as the batch seen set), so a URL that
  appeared in ANY earlier micro-batch never re-enters the frontier;
- politeness rounds are assigned WITHIN each micro-batch via the same
  ``operators/politeness.assign_rounds`` used by the batch crawl (the
  skew-safe range form) — a micro-batch is the streaming analogue of a
  depth: per-host budget slots restart per batch, exactly like the batch
  crawl restarts them per staged depth;
- the sink is ``foreachBatch`` -> ``SnapshotTable.append`` — the same
  manifest-rename commit the batch crawl uses, so a consumer (or the
  batch crawl itself, resuming) reads only fully-committed batches.

The cross-check (tests/test_streaming_frontier.py) replays identical
seed files through the BATCH path — _seed_frontier-style prepare+dedup
then assign_rounds — and pins set equality of (url, host, round_offset)
modulo batch boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_scraper_spark.functions.urls import host_of, prepare_url, strip_ws
from web_scraper_spark.operators.politeness import assign_rounds
from web_scraper_spark.sources.tables import SnapshotTable
from web_scraper_spark.streaming.dedup import dedup_stream


def ingest_seed_stream(
    spark: SparkSession,
    seed_dir: str,
    workdir: str,
    politeness_budget: int | None = None,
    num_partitions: int = 8,
):
    """Start the ingest: text files of raw seed URLs under ``seed_dir``
    -> frontier table at ``workdir``/frontier_stream. Returns the
    StreamingQuery (caller owns awaitTermination/stop)."""
    table = SnapshotTable(spark, f"{workdir}/frontier_stream")

    raw = spark.readStream.format("text").load(seed_dir)
    prepared = (
        raw.where(strip_ws(F.coalesce(F.col("value"), F.lit(""))) != "")
        .select(prepare_url(F.col("value")).alias("url"))
    )
    novel = dedup_stream(prepared, num_partitions=num_partitions)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        frontier = batch_df.select(
            "url",
            host_of(F.col("url")).alias("host"),
            F.lit(0).cast("int").alias("depth"),
            F.lit(batch_id).cast("long").alias("seed_idx"),
            F.col("url").alias("seed_url"),
            F.lit(None).cast("string").alias("caption"),
        ).withColumn("priority", F.col("seed_idx").cast("double"))
        assigned, release = assign_rounds(frontier, politeness_budget)
        try:
            table.append(assigned, tag=f"batch-{batch_id}")
        finally:
            # in finally: a failed/retried micro-batch re-runs land() with
            # a fresh checkpoint — without this the first attempt's blocks
            # leak once per retry
            release()

    return (
        novel.writeStream.foreachBatch(land)
        .option("checkpointLocation", f"{workdir}/ingest_chk")
        .outputMode("append")
        .start()
    )
