"""Streaming frontier ingest vs the batch twin: identical seed files
replayed through prepare+dedup+assign_rounds must produce the same
(url, round_offset) sets per micro-batch."""

import os
import time

from pyspark.sql import functions as F

from web_scraper_spark.functions.urls import host_of
from web_scraper_spark.operators.politeness import assign_rounds
from web_scraper_spark.oracle.simulator import prepare_url
from web_scraper_spark.sources.tables import SnapshotTable
from web_scraper_spark.streaming.frontier import ingest_seed_stream

BATCH1 = [
    "hot.test/a", "hot.test/b", "hot.test/c", "cool.test/x",
    "", "  ", "hot.test/a",          # blanks + in-batch dup
]
BATCH2 = [
    "hot.test/b",                     # cross-batch dup -> dropped
    "hot.test/d", "warm.test/y",
]


def _write(seed_dir, name, lines):
    with open(os.path.join(seed_dir, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_stream_matches_batch_twin(spark, tmp_path):
    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    _write(seed_dir, "b1.txt", BATCH1)

    q = ingest_seed_stream(
        spark, str(seed_dir), str(tmp_path), politeness_budget=2
    )
    try:
        q.processAllAvailable()
        _write(seed_dir, "b2.txt", BATCH2)
        # the file source lists on trigger; processAllAvailable after the
        # write drains the new file as its own micro-batch
        time.sleep(0.5)
        q.processAllAvailable()
    finally:
        q.stop()

    table = SnapshotTable(spark, str(tmp_path / "frontier_stream"))
    got = [
        (r.seed_idx, r.url, r.round_offset)
        for r in table.read().collect()
    ]

    # batch twin: same files, same dedup-across-batches, same scheduler
    seen: set[str] = set()
    expected = []
    for b, lines in enumerate([BATCH1, BATCH2]):
        urls, in_batch = [], set()
        for line in lines:
            if not line.strip():
                continue
            u = prepare_url(line)
            if u in seen or u in in_batch:
                continue
            in_batch.add(u)
            urls.append(u)
        seen |= in_batch
        df = spark.createDataFrame(
            [(u,) for u in urls], "url string"
        ).select(
            "url", host_of(F.col("url")).alias("host"),
            F.lit(0).cast("int").alias("depth"),
            F.lit(b).cast("long").alias("seed_idx"),
            F.col("url").alias("seed_url"),
            F.lit(None).cast("string").alias("caption"),
            F.lit(float(b)).alias("priority"),
        )
        assigned, release = assign_rounds(df, 2)
        expected += [(b, r.url, r.round_offset) for r in assigned.collect()]
        release()
    assert sorted(got) == sorted(expected)
    # the hot host actually split into politeness rounds in batch 0
    assert {ro for (b, u, ro) in got if b == 0 and "hot.test" in u} == {0, 1}


def test_stream_ingested_frontier_feeds_batch_crawl(spark, tmp_path):
    """The full handoff (VERDICT r3 item 6): seeds land via the streaming
    ingest, then a BATCH crawl starts from the landed SnapshotTable
    (run_crawl(seed_table=...)) and must equal the same seeds fed
    directly — exact crawl_log tuples and company records. Seed files are
    written in lexicographic order because that is the handoff's
    determinism contract: within a micro-batch the file stream has no row
    order, so acceptance order is re-derived as (batch, url)."""
    from web_scraper_spark.plans.crawl import run_crawl
    from web_scraper_spark.sources.synthetic_web import build_web, web_host_df

    n = 12
    raw_seeds, _ = build_web(n)
    seeds = sorted({s for s in raw_seeds if s.strip()})
    web = web_host_df(spark, n)

    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    _write(seed_dir, "all.txt", seeds)
    q = ingest_seed_stream(spark, str(seed_dir), str(tmp_path / "ingest"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from_table = run_crawl(
        spark,
        None,
        web,
        workdir=str(tmp_path / "crawl_t"),
        politeness_budget=2,
        seed_table=str(tmp_path / "ingest" / "frontier_stream"),
    )
    direct = run_crawl(
        spark,
        seeds,
        web,
        workdir=str(tmp_path / "crawl_d"),
        politeness_budget=2,
    )

    key = lambda r: (r["round"], r.depth, r.seed_idx, r.url)  # noqa: E731
    assert sorted(map(key, from_table.crawl_log.collect())) == sorted(
        map(key, direct.crawl_log.collect())
    )
    gt = {
        r["domain"]: (sorted(r["phone_numbers"] or []), sorted(r["addresses"] or []))
        for r in from_table.company_records.collect()
    }
    gd = {
        r["domain"]: (sorted(r["phone_numbers"] or []), sorted(r["addresses"] or []))
        for r in direct.company_records.collect()
    }
    assert gt == gd


def test_seed_table_cross_batch_duplicate_is_deterministic(spark, tmp_path):
    """A URL present in MULTIPLE ingest batches (e.g. a second ingest run
    into the same table — streaming dedup state does not span queries)
    must resolve to its MIN batch deterministically; an arbitrary
    dropDuplicates pick would shift every later seed_idx between runs
    (code-review r4 finding)."""
    from web_scraper_spark.plans.crawl import _seed_frontier_from_table

    table = SnapshotTable(spark, str(tmp_path / "fs"))
    rows = [
        # (url, host, depth, seed_idx=batch, seed_url, caption, priority, round_offset)
        ("http://a.test", "a.test", 0, 0, "http://a.test", None, 0.0, 0),
        ("http://b.test", "b.test", 0, 0, "http://b.test", None, 0.0, 0),
        # same URL re-ingested in batch 3
        ("http://a.test", "a.test", 0, 3, "http://a.test", None, 3.0, 0),
        ("http://c.test", "c.test", 0, 3, "http://c.test", None, 3.0, 0),
    ]
    schema = (
        "url string, host string, depth int, seed_idx long, seed_url string, "
        "caption string, priority double, round_offset long"
    )
    table.append(spark.createDataFrame(rows, schema), tag="batch-3")

    outs = [
        sorted(
            (r.url, r.seed_idx)
            for r in _seed_frontier_from_table(spark, str(tmp_path / "fs")).collect()
        )
        for _ in range(2)
    ]
    assert outs[0] == outs[1]
    m = dict(outs[0])
    # a.test resolved to batch 0 -> ordered before b (batch 0) then c (batch 3)
    assert m == {"http://a.test": 0, "http://b.test": 1, "http://c.test": 2}
