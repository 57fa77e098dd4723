"""Streaming near-dup ingest vs its batch twin: identical corpora
replayed at different micro-batch slicings must produce the identical
results table, equal to a whole-corpus batch oracle (arrival order =
doc_id), and micro-batch replay must be exactly-once per table."""

import json
import os
import time

from pyspark.sql import functions as F

from web_scraper_spark.operators.minhash import minhash_bands
from web_scraper_spark.sources.tables import SnapshotTable
from web_scraper_spark.streaming.neardup import (
    ingest_document_stream,
    land_batch,
    neardup_report,
)

# arrival order == doc_id (monotone across batches, as an ingest
# pipeline's ids are); 1/4/9 are exact dups of 0, 5 is a near-edit of 2,
# 3/6/7/8 are novel.
CORPUS = [
    (0, "alpha beta gamma delta epsilon zeta eta theta"),
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "one two three four five six seven eight nine ten"),
    (3, "completely different text with nothing shared here at all"),
    (4, "alpha beta gamma delta epsilon zeta eta theta"),
    (5, "one two three four five six seven eight nine eleven"),
    (6, "the quick brown fox jumps over the lazy dog today"),
    (7, "pack my box with five dozen liquor jugs right now"),
    (8, "sphinx of black quartz judge my vow said the king"),
    (9, "alpha beta gamma delta epsilon zeta eta theta"),
]


def _oracle_rows(spark):
    """Whole-corpus batch twin: one band pass, matches = smaller doc_id
    sharing a bucket (the stream's (batch, doc_id) order collapses to
    doc_id when ids are monotone across batches)."""
    d = spark.createDataFrame(CORPUS, "doc_id long, text string")
    mh, release = minhash_bands(d)
    bands = mh.select(
        F.lit(0).cast("long").alias("batch_id"), "doc_id", "band", "minhash"
    )
    rows = {
        r.doc_id: (r.n_matches, r.first_match, r.is_neardup)
        for r in neardup_report(bands, None).collect()
    }
    release()
    return rows


def _write_jsonl(doc_dir, name, docs):
    with open(os.path.join(doc_dir, name), "w") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _run_stream(spark, tmp_path, slices):
    doc_dir = tmp_path / "docs"
    doc_dir.mkdir(parents=True)
    _write_jsonl(doc_dir, "b0.jsonl", slices[0])
    q = ingest_document_stream(spark, str(doc_dir), str(tmp_path))
    try:
        q.processAllAvailable()
        for i, batch in enumerate(slices[1:], 1):
            _write_jsonl(doc_dir, f"b{i}.jsonl", batch)
            time.sleep(0.5)
            q.processAllAvailable()
    finally:
        q.stop()
    table = SnapshotTable(spark, str(tmp_path / "neardup_results"))
    return {
        r.doc_id: (r.n_matches, r.first_match, r.is_neardup)
        for r in table.read().collect()
    }


def test_stream_matches_batch_twin_two_slicings(spark, tmp_path):
    oracle = _oracle_rows(spark)
    # non-vacuous: dups matched, novels not, first-seen copy is novel
    assert oracle[0] == (0, None, False)
    assert oracle[1][2] and oracle[4][2] and oracle[9][2]
    assert oracle[1] == (1, 0, True)
    assert not oracle[3][2] and not oracle[6][2]

    got_a = _run_stream(spark, tmp_path / "a", [CORPUS[:4], CORPUS[4:]])
    got_b = _run_stream(
        spark, tmp_path / "b", [CORPUS[:2], CORPUS[2:7], CORPUS[7:]]
    )
    assert got_a == oracle
    assert got_b == oracle


def test_land_batch_replay_is_exactly_once(spark, tmp_path):
    results = SnapshotTable(spark, str(tmp_path / "res"))
    band_table = SnapshotTable(spark, str(tmp_path / "bands"))
    b0 = spark.createDataFrame(CORPUS[:4], "doc_id long, text string")
    b1 = spark.createDataFrame(CORPUS[4:], "doc_id long, text string")

    land_batch(b0, 0, results, band_table)
    land_batch(b1, 1, results, band_table)
    n_res, n_bands = results.read().count(), band_table.read().count()

    # at-least-once replay of both batches: no double-appends
    land_batch(b0, 0, results, band_table)
    land_batch(b1, 1, results, band_table)
    assert results.read().count() == n_res
    assert band_table.read().count() == n_bands
    assert results.tags() == ["batch-0", "batch-1"]
