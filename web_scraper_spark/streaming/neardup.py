"""Streaming near-dup detection: the continuous-ingest twin of the
batch ``dedup_incremental`` contract query (plans/contract_training.py)
— documents arrive in micro-batches, each batch's MinHash bands are
joined against the accumulated band table of every earlier arrival, and
a per-document verdict (how many earlier near-dups, which was first)
lands in a results SnapshotTable, one atomic commit per batch.

Semantics are **batch-boundary invariant**: a document's matches are all
documents with a strictly earlier arrival order — earlier batch, or the
same batch with a smaller doc_id — that share at least one
(band, minhash) bucket. Re-slicing the same corpus into different
micro-batches yields the identical results table, which is exactly what
the parity test pins (tests/test_streaming_neardup.py replays one corpus
at two batchings plus a whole-corpus batch oracle).

Shape notes:
- the MinHash front half is the SHARED ``operators/minhash.minhash_bands``
  (same shingles, same hash60, same affine permutations as the batch
  dedup family) — the flat-column/partial-agg formulation that stays in
  whole-stage codegen;
- state is the band table only — (batch_id, doc_id, band, minhash),
  never document text — appended per batch, so state grows with the
  corpus's band count, not its bytes. At the 100 TB design point the
  stored side is laid out bucketed by (band, minhash) so the per-batch
  join shuffles only the (small) incoming batch side against co-located
  history buckets; here it is a plain SnapshotTable and the join
  shuffles both sides (identical results, local-scale layout);
- commits are exactly-once per table via tag idempotence: ``land``
  skips a table whose ``batch-{id}`` tag is already committed, so a
  crashed/retried micro-batch (foreachBatch is at-least-once) never
  double-appends results or bands, and a doc can never self-match on
  replay because the old side is read BEFORE the batch's bands commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_scraper_spark.operators.minhash import minhash_bands
from web_scraper_spark.sources.tables import SnapshotTable

DOC_SCHEMA = "doc_id long, text string"


def neardup_report(
    new_bands: DataFrame, old_bands: DataFrame | None
) -> DataFrame:
    """Per-new-doc verdict vs the earlier-arrival band set.

    ``new_bands``: (batch_id, doc_id, band, minhash) for the incoming
    batch; ``old_bands``: same schema for every earlier batch (None on
    the first). Matches = earlier arrival (older batch, or same batch
    with smaller doc_id) sharing >=1 bucket. Returns one row per
    incoming doc: (doc_id, n_matches, first_match, is_neardup) — novel
    docs kept with n_matches = 0 (the left join), matching
    ``dedup_incremental``'s aggregate shape but total over the batch."""
    # the history side joins SEPARATELY from the batch's internal
    # self-join: a union(old, new) before the join would destroy the
    # stored side's output partitioning, so a (band, minhash)-bucketed
    # history would still re-shuffle. Values are identical: matches from
    # strictly earlier batches and same-batch smaller ids are disjoint
    # row sets whose distinct union this aggregates, and novel docs come
    # back via the left join with n_matches = 0.
    n = new_bands.alias("n")
    keys = (F.col("n.band") == F.col("o.band")) & (
        F.col("n.minhash") == F.col("o.minhash")
    )
    earlier = (F.col("o.batch_id") < F.col("n.batch_id")) | (
        (F.col("o.batch_id") == F.col("n.batch_id"))
        & (F.col("o.doc_id") < F.col("n.doc_id"))
    )

    def _pairs(other: DataFrame) -> DataFrame:
        return n.join(other.alias("o"), keys & earlier, "inner").select(
            F.col("n.doc_id").alias("doc_id"),
            F.col("o.doc_id").alias("match_id"),
        )

    pairs = _pairs(new_bands)
    if old_bands is not None:
        pairs = pairs.unionByName(_pairs(old_bands))
    per_doc = (
        pairs.groupBy("doc_id", "match_id")
        .agg(F.lit(1).alias("_one"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.min("match_id").alias("first_match"),
        )
    )
    docs = new_bands.select("doc_id").dropDuplicates(["doc_id"])
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_matches"), F.lit(0)).alias("n_matches"),
        "first_match",
        (F.coalesce(F.col("n_matches"), F.lit(0)) > 0).alias("is_neardup"),
    )


def land_batch(
    batch_df: DataFrame,
    batch_id: int,
    results: SnapshotTable,
    band_table: SnapshotTable,
) -> None:
    """One micro-batch: band, report vs history, commit both tables.

    Idempotent per table on the ``batch-{id}`` tag — safe under
    foreachBatch's at-least-once replay in any crash position (results
    committed, bands not: replay recomputes the same report against the
    same pre-batch history, skips the results append, commits bands)."""
    tag = f"batch-{batch_id}"
    if tag in band_table.tags():
        return  # both commits landed; a pure replay
    mh, release = minhash_bands(batch_df)
    bands = mh.select(
        F.lit(batch_id).cast("long").alias("batch_id"), "doc_id", "band", "minhash"
    )
    try:
        if tag not in results.tags():
            report = neardup_report(bands, band_table.read())
            results.append(report, tag=tag)
        band_table.append(bands, tag=tag)
    finally:
        release()


def ingest_document_stream(
    spark: SparkSession,
    doc_dir: str,
    workdir: str,
    max_files_per_trigger: int = 1,
):
    """Start the ingest: JSONL files of (doc_id, text) under ``doc_dir``
    -> results table at ``workdir``/neardup_results + band state at
    ``workdir``/neardup_bands. Returns the StreamingQuery (caller owns
    awaitTermination/stop)."""
    results = SnapshotTable(spark, f"{workdir}/neardup_results")
    band_table = SnapshotTable(spark, f"{workdir}/neardup_bands")

    raw = (
        spark.readStream.format("json")
        .schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(doc_dir)
    )
    docs = raw.where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())

    return (
        docs.writeStream.foreachBatch(
            lambda df, bid: land_batch(df, bid, results, band_table)
        )
        .option("checkpointLocation", f"{workdir}/neardup_chk")
        .outputMode("append")
        .start()
    )
