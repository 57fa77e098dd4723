"""Scaling-efficiency evidence (BASELINE.json north rule: >=0.8 from N to
4N executors; sandbox substitute per driver instruction: the same job at
two parallelism levels on identical input).

Jobs (identical input and partitioning at every level — only the core
count changes):

- ``extract``: the Arrow-batched extraction UDF over 48k synthetic HTML
  pages, 256 partitions (CPU-bound, embarrassingly parallel — the
  crawl's dominant cost at 100 TB).
- ``bloom``: frontier Bloom dedup over 3M URLs, fixed 32 bitset
  partitions (shuffle + per-partition bitset work).

Measurement notes (recorded in BENCH/BASELINE.md): this sandbox is a
Firecracker VM with ~12% hypervisor steal and residual idle under full
32-way load (measured via /proc/stat during a saturating burn), so
wall-clock scaling tops out below the hardware ideal regardless of the
engine. We report min-of-3 wall times per level at two N->4N pairs
(2->8 and 8->32); fine-grained tasks (>=8 per core) let Spark's
scheduler rebalance around steal stragglers exactly as it would around
slow executors on a real cluster.

Usage: ``python BENCH/scaling.py`` -> JSON summary.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

TRIALS = 3

WORKER = r"""
import json, sys, time, tempfile, shutil
cpus = int(sys.argv[1]); job = sys.argv[2]; trials = int(sys.argv[3])
local_dir = sys.argv[4] if len(sys.argv) > 4 else ""
extra = {"spark.local.dir": local_dir} if local_dir else None
from web_scraper_spark.session import get_spark
from pyspark.sql import functions as F
spark = get_spark("scale", master=f"local[{cpus}]", shuffle_partitions=32,
                  extra_conf=extra)
spark.sparkContext.setLogLevel("ERROR")

def measure(fn):
    best = None
    for _ in range(trials):
        t0 = time.monotonic(); fn(); dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    return best

if job == "extract":
    n_pages = 48_000
    pages = spark.range(n_pages).select(
        F.concat(F.lit("http://host-"), (F.col("id") % 3000).cast("string"), F.lit(".test")).alias("url"),
        F.concat(
            F.lit("<html><head><style>x{}</style></head><body><h1>Corp "),
            F.col("id").cast("string"),
            F.lit("</h1><a href='tel:+1 (212) 555-0123'>call</a>"
                  "<p>Or dial 646-555-0199 today or 415.555.0111 x</p>"
                  "<a href='https://www.facebook.com/corp"),
            F.col("id").cast("string"),
            F.lit("'>fb</a><a href='https://twitter.com/corp"),
            (F.col("id") % 1000).cast("string"),
            F.lit("'>tw</a><address>123 Main Street, Springfield, IL 62704</address>"
                  "<p>Our office: 45 Elm Road, floor 3</p>"
                  "<a href='/contact'>Contact us</a><a href='/about'>Get in touch</a>"
                  "<img src='/img/1.png' alt='hero'><p>tail "),
            F.col("id").cast("string"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    ).repartition(256).cache()
    pages.count()
    from web_scraper_spark.operators.extract import extract_all
    def run():
        out = pages.select(extract_all(F.col("url"), F.col("html"), F.lit("")).alias("ex"))
        out.select(F.sum(F.size(F.col("ex.phone_numbers")))).collect()
    best = measure(run)
    print(json.dumps({"job": job, "cpus": cpus, "items": n_pages, "sec": best,
                      "per_sec": n_pages / best}))
elif job == "politeness":
    # the r3 single-shuffle range scheduler: 3M-row frontier, hot-host
    # skew (20% on one host), budget 16 — range shuffle + Arrow cumcount
    # + broadcast offsets
    n_rows = 3_000_000
    from web_scraper_spark.operators.politeness import assign_rounds
    frontier = spark.range(n_rows).select(
        F.when(F.col("id") % 5 == 0, F.lit("hot.test")).otherwise(
            F.concat(F.lit("h"), (F.col("id") % 20000).cast("string"), F.lit(".test"))
        ).alias("host"),
        (F.col("id") % 7).cast("double").alias("priority"),
        (F.col("id") % 97).cast("long").alias("seed_idx"),
        F.concat(F.lit("http://x/p/"), F.col("id").cast("string")).alias("url"),
    ).repartition(64).cache()
    frontier.count()
    def run():
        # each trial pays the full fresh-state cost (checkpoint + rank +
        # release), matching what one crawl depth pays — the r3 cache()
        # form let trials 2-3 hit trial 1's cache via the CacheManager's
        # canonical-plan lookup, flattering min-of-3 by ~2.5x
        out, release = assign_rounds(frontier, 16)
        assert out.count() == n_rows
        release()
    best = measure(run)
    print(json.dumps({"job": job, "cpus": cpus, "items": n_rows, "sec": best,
                      "per_sec": n_rows / best}))
elif job == "minhash":
    # the training-data dedup front half: shingle md5 hashing on flat
    # post-explode columns + the 8-permutation minima as ONE
    # partial-aggregatable groupBy (operators/minhash.py — shared by
    # dedup_minhash_lsh, dedup_incremental, and the streaming ingest
    # twin). CPU-heavy map (one md5 per shingle) + one slim shuffle:
    # the corpus-pipeline analog of the extract ladder.
    n_docs = 200_000
    from web_scraper_spark.operators.minhash import minhash_bands
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.array(*[
                F.concat(F.lit("w"), ((F.col("id") * 31 + i * 7) % 5000).cast("string"))
                for i in range(40)
            ]),
        ).alias("text"),
    ).repartition(256).cache()
    docs.count()
    def run():
        bands, release = minhash_bands(docs)
        assert bands.count() == 8 * n_docs
        release()  # free the checkpoint between trials (fresh-state pricing)
    best = measure(run)
    print(json.dumps({"job": job, "cpus": cpus, "items": n_docs, "sec": best,
                      "per_sec": n_docs / best}))
else:
    m_urls = 3_000_000
    from web_scraper_spark.operators.seen import BloomURLSeenSet
    urls = spark.range(m_urls).select(
        F.concat(F.lit("http://h"), (F.col("id") % 20000).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string")).alias("url")
    ).repartition(64).cache()
    urls.count()
    def run():
        wd = tempfile.mkdtemp()
        seen = BloomURLSeenSet(spark, wd, num_partitions=32, bits_per_partition=1 << 25)
        assert seen.filter_and_add(urls).count() == m_urls
        shutil.rmtree(wd, ignore_errors=True)
    best = measure(run)
    print(json.dumps({"job": job, "cpus": cpus, "items": m_urls, "sec": best,
                      "per_sec": m_urls / best}))
spark.stop()
"""


def run(cpus: int, job: str, local_dir: str = "") -> dict:
    args = [sys.executable, "-c", WORKER, str(cpus), job, str(TRIALS)]
    if local_dir:
        args.append(local_dir)
    out = subprocess.run(
        args,
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    for line in out.stdout.splitlines():
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"worker failed: {out.stderr[-2000:]}")


def main() -> None:
    results: dict = {}
    # (job key, worker job name, spark.local.dir override). The _tmpfs
    # politeness rep isolates single-disk shuffle bandwidth from scheduler
    # cost (VERDICT r3 item 7): if RAM-backed shuffle recovers the 8->32
    # efficiency, the flat step was disk-bound — on a real cluster shuffle
    # I/O scales with node count, so the cluster claim holds.
    tmpfs = "/dev/shm/spark-scale" if os.path.isdir("/dev/shm") else ""
    ladders = [
        ("extract", "extract", (1, 2, 4, 8, 32), ""),
        ("bloom", "bloom", (2, 8, 32), ""),
        ("politeness", "politeness", (2, 8, 32), ""),
        ("minhash", "minhash", (1, 2, 4, 8, 32), ""),
    ]
    if tmpfs:
        ladders.append(("politeness_tmpfs", "politeness", (2, 8, 32), tmpfs))
    for job, worker_job, ladder, local_dir in ladders:
        levels = {c: run(c, worker_job, local_dir) for c in ladder}
        entry = {
            "per_sec": {str(c): round(levels[c]["per_sec"], 1) for c in levels},
            "sec": {str(c): round(levels[c]["sec"], 2) for c in levels},
        }
        pairs = [(lo, lo * 4) for lo in ladder if lo * 4 in levels]
        for lo, hi in pairs:
            entry[f"eff_{lo}_to_{hi}"] = round(
                (levels[lo]["sec"] / levels[hi]["sec"]) / 4.0, 3
            )
        results[job] = entry
    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    main()
