"""spark-submit entry point for the training-data EXPORT pipeline: raw
document corpus -> exact dedup -> near-dup (MinHash-LSH + connected
components, keep-longest) -> Gopher quality gate -> hash-sharded
training corpus + funnel manifest.

Cluster usage:

    spark-submit --master yarn --deploy-mode cluster \\
        --py-files dist/web_scraper_spark.zip \\
        jobs/export_job.py \\
        --data-dir s3://bucket/corpus --outdir s3://bucket/train1 \\
        --shards 1024

Hermetic usage (this sandbox):

    spark-submit --master 'local[32]' jobs/export_job.py \\
        --data-dir /root/testdata/sf0.001 --outdir /tmp/train1

Scale shape (the 100 TB story, stage by stage):
- exact dedup: ONE shuffle on the content hash (exact_prededup);
- near-dup: the LSH band table is (id, band, minhash) only, candidate
  pairs come from a bucketed band join (never all-pairs — and the exact
  pass already collapsed identical content, so no degenerate buckets);
  connected components shuffles labels/edges only with per-iteration
  localCheckpoint;
- quality: two partial-aggregatable groupBys, no global state;
- sharding: deterministic splitmix64(doc_id) pmod — no rand(), so the
  export is bit-reproducible run-over-run, and shard sizes concentrate
  tightly (hash balance) without a global sort or a driver loop.
Every stage's survivors are counted for the manifest; counting forces
the stage and is the natural barrier the next stage needs anyway.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def export_corpus(spark, data_dir: str, outdir: str, shards: int = 8) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from web_scraper_spark.operators.components import connected_components
    from web_scraper_spark.operators.dedup_guard import exact_prededup
    from web_scraper_spark.operators.minhash import band_pairs, minhash_bands
    from web_scraper_spark.operators.quality import gopher_report

    docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
    n_raw = docs.count()

    # 1) exact content dedup (min-doc_id representative per distinct text)
    reps, _links = exact_prededup(docs, ["text"], "doc_id")
    reps = reps.localCheckpoint(eager=True)  # CC iterates over this subtree
    n_exact = reps.count()

    # 2) near-dup clusters over the survivors; keep the longest member
    bands, release = minhash_bands(reps)
    pairs = band_pairs(bands)
    cc = connected_components(
        reps.select(F.col("doc_id").alias("id")),
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    keepers = (
        cc.withColumnRenamed("id", "doc_id")
        .join(reps.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    survivors = reps.join(keepers, "doc_id")
    release()
    n_neardup = survivors.count()

    # 3) Gopher quality gate
    passed = survivors.join(
        gopher_report(survivors).where(F.col("passes_all")).select("doc_id"),
        "doc_id",
    )
    n_quality = passed.count()

    # 4) deterministic hash sharding + write. splitmix64-mix before pmod
    # (raw hashes must never feed pmod directly — pinned-low-bit hazard).
    mixed = F.xxhash64(F.col("doc_id").cast("string"), F.lit("export-shard"))
    out = passed.select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias(
            "n_tokens"
        ),
        F.pmod(mixed, F.lit(shards)).cast("int").alias("shard"),
    )
    corpus_path = os.path.join(outdir, "corpus")
    (
        out.repartition(shards, "shard")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(corpus_path)
    )
    shard_stats = [
        {
            "shard": r.shard,
            "docs": r.docs,
            "tokens": r.tokens,
        }
        for r in (
            spark.read.parquet(corpus_path)
            .groupBy("shard")
            .agg(
                F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens")
            )
            .orderBy("shard")
            .collect()
        )
    ]
    manifest = {
        "documents": n_raw,
        "after_exact_dedup": n_exact,
        "after_neardup": n_neardup,
        "after_quality": n_quality,
        "shards": shard_stats,
        "outdir": outdir,
    }
    with open(os.path.join(outdir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="training-data export")
    p.add_argument("--data-dir", required=True)
    p.add_argument("--outdir", required=True)
    p.add_argument("--shards", type=int, default=8)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from web_scraper_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("export_job", master=args.master)
    os.makedirs(args.outdir, exist_ok=True)
    manifest = export_corpus(spark, args.data_dir, args.outdir, args.shards)
    print(json.dumps(manifest, sort_keys=True))
    if not preexisting:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
