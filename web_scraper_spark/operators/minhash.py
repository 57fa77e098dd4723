"""MinHash-LSH banding over word-shingled documents — the shared front
half of the near-dedup family (batch ``dedup_minhash_lsh`` /
``dedup_incremental`` contract queries and the streaming ingest twin in
``streaming/neardup.py``).

Hashing is the portable cross-engine convention from
``plans/contract_training``: ``hash60(s) = int(md5(s)[:15], 16)`` (a
60-bit hash both Spark and DuckDB can compute identically), folded into
the prime field M = 2^31 - 1 and permuted by ``N_MINHASH`` affine maps
whose products stay < 2^36 (no overflow on either engine).

Perf shape (r5 HOF-codegen discipline, measured at a 160k-doc corpus):
shingle hashes are computed on FLAT columns after exploding window-start
positions, and the permuted minima are ONE partial-aggregatable groupBy
(``N_MINHASH`` min() aggregates) — the transform()/array_min lambda
formulation evaluates interpreted (higher-order functions sit outside
whole-stage codegen) and ran ~4x slower end-to-end. Values are
bit-identical: same shingle positions (1..max(size-2,1)), same
hash60 % M, same affine permutations; min over a group equals array_min
over the per-doc array.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from web_scraper_spark.session import materialize

N_MINHASH = 8

# h -> (a*h + b) mod M over the prime field M = 2^31 - 1 — products stay
# < 2^36 so neither engine overflows, and the constants below are shared
# literals in the Spark expression and the contract oracle SQL.
MERSENNE = 2147483647
BAND_COEF = [
    (1103515245, 12345), (1103541119, 2531011), (214013, 2531012),
    (69069, 1234567), (1664525, 1013904223), (22695477, 1),
    (134775813, 1), (1103515245 * 2 % MERSENNE, 777),
]


def hash60(col: Column) -> Column:
    """60-bit md5-prefix hash, identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def words_of(col: Column) -> Column:
    return F.split(F.trim(col), " ")


def minhash_bands(
    d: DataFrame, doc_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, Callable[[], None]]:
    """(doc_col, band, minhash) rows for the corpus, materialized once;
    returns the ``session.materialize`` pair ``(bands, release)``.

    The eager localCheckpoint matters because consumers join the band
    table against itself (or a filtered view): without it the
    broadcast-side plan re-runs the shingle+md5 subtree (measured
    4.2 -> 2.5 s at sf0.1). The table is (id, band, minhash) only —
    never document text — so the checkpoint stays small at any corpus
    size. ``DataFrame.unpersist()`` cannot free it; call ``release()``
    once the bands are durably consumed."""
    src = d.select(doc_col, text_col)
    # r6 scan-parallelism floor (optimization guide §6): the per-shingle
    # md5 below is far heavier than the scan's byte cost, and a small
    # compressed corpus file splits into 1-2 partitions, single-threading
    # the whole shingle stage. No-op when the scan already meets the
    # session parallelism (always true at cluster scale). Values exact —
    # shingle hashes are per-row and the min() aggregates are integer.
    from web_scraper_spark.plans.contract import _floor_parallelism

    src = _floor_parallelism(src)
    words = src.select(doc_col, words_of(F.col(text_col)).alias("words"))
    flat = words.select(
        doc_col,
        "words",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("words") - 2, F.lit(1)))
        ).alias("i"),
    ).select(
        doc_col,
        (
            hash60(F.concat_ws(" ", F.slice(F.col("words"), F.col("i"), 3)))
            % MERSENNE
        ).alias("h"),
    )
    mins = flat.groupBy(doc_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE).alias(f"m{i}")
            for i, (a, b) in enumerate(BAND_COEF)
        ]
    )
    return materialize(
        mins.select(
            doc_col,
            F.posexplode(
                F.array(*[F.col(f"m{i}") for i in range(N_MINHASH)])
            ).alias("band", "minhash"),
        )
    )


def band_pairs(bands: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing >= 1
    (band, minhash) bucket — the LSH back half. Bucketed join on the
    band key, never all-pairs; run ``exact_prededup`` first so identical
    content can't form degenerate buckets."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.minhash") == F.col("b.minhash"))
            & (F.col(f"a.{doc_col}") < F.col(f"b.{doc_col}")),
        )
        .select(
            F.col(f"a.{doc_col}").alias("doc_a"),
            F.col(f"b.{doc_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
