"""Driver-contract queries, part 2: large-scale training-data pipeline
operators over the ``documents`` and ``embeddings`` tables (plus TPC-H
flagship aggregations) — deduplication, similarity search, text analysis.

Portable hashing: both engines compute
``hash60(s) = int(md5(s)[:15], 16)`` — Spark
``conv(substring(md5(s),1,15),16,10)::long``, DuckDB
``CAST('0x'||substr(md5(s),1,15) AS BIGINT)`` — a 60-bit deterministic
hash identical across engines, used for minhash/simhash/fingerprints.

Scale notes: every dedup here is shuffle-minimal by construction —
exact dedup shuffles once on the content hash; MinHash-LSH shuffles on
(band, value) buckets (never all-pairs); SimHash groups by fingerprint;
embedding near-dup buckets by sign-LSH before any pairwise work. The
pairwise step always runs inside buckets only.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from web_scraper_spark.operators.minhash import (
    BAND_COEF as _BAND_COEF,
    MERSENNE as _MERSENNE,
    N_MINHASH,
    hash60,
    minhash_bands as _minhash_bands,
    words_of as _words,
)
from web_scraper_spark.operators.similarity import cosine, neardup_pairs
from web_scraper_spark.plans.contract import (
    ORACLES, QUERIES, register, _t, _dec, _disc_rev, _money,
    _floor_parallelism,
)


def _shingles(words: Column) -> Column:
    """Word 3-gram shingles (positions 1..max(size-2,1), 1-based — the
    floor avoids Spark's descending sequence(1,0) on tiny docs)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
    )


_SQL_SHINGLES = (
    "[array_to_string(words[i:i+2], ' ') "
    "for i in range(1, greatest(len(words) - 1, 2))]"
)
_SQL_H60 = "CAST('0x' || substr(md5({}),1,15) AS BIGINT)"


# ---------------------------------------------------------------------------
# Dedup 1 — exact content dedup (hash-groupBy; one shuffle on md5)
@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS group_size
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("group_size"))
    )


# Dedup 1b — the exact pre-dedup GUARD for every LSH dedup
# (operators/dedup_guard.py; VERDICT r2 item 8): collapse identical
# content to min-id representatives + (keep, dup) links BEFORE banding,
# so a degenerate corpus (g identical docs -> g^2/2 candidate pairs in
# one bucket) costs O(g) instead. The sf corpus is duplicate-free, so
# the query synthesizes exact dupes (every 7th doc re-appended under
# doc_id + 1e6) to keep the check non-vacuous.
@register(
    "dedup_exact_guard",
    """
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    ),
    k AS (SELECT doc_id, md5(text) AS ck FROM base),
    keeps AS (SELECT ck, min(doc_id) AS keep FROM k GROUP BY ck)
    SELECT keep AS id_keep, doc_id AS id_dup
    FROM k JOIN keeps USING (ck) WHERE doc_id <> keep
    """,
)
def dedup_exact_guard(spark, sf_dir):
    from web_scraper_spark.operators.dedup_guard import exact_prededup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = d.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    _, links = exact_prededup(d.unionByName(dupes), ["text"], "doc_id")
    return links


# Dedup 2 — MinHash + LSH candidate pairs (shingle -> 8 minhashes ->
# band buckets -> within-bucket pair join; never all-pairs).
#
# The Spark front half (shingle hashing, affine permutations, band
# explode) lives in operators/minhash.py — shared with the streaming
# ingest twin — and its BAND_COEF/MERSENNE constants are the shared
# literals in the oracle SQL below.
_SQL_MINHASHES = ", ".join(
    f"list_min(list_transform(hs, h -> ({a}::BIGINT * h + {b}) % {_MERSENNE})) AS m{i}"
    for i, (a, b) in enumerate(_BAND_COEF)
)
_SQL_MH_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {i} AS band, m{i} AS minhash FROM mh" for i in range(N_MINHASH)
)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_transform({_SQL_SHINGLES},
                            s -> {_SQL_H60.format("s")} % {_MERSENNE}) AS hs
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents)
    ),
    mh AS (SELECT doc_id, {_SQL_MINHASHES} FROM sh),
    bands AS ({_SQL_MH_UNION})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands
    FROM bands a JOIN bands b ON a.band = b.band AND a.minhash = b.minhash
                              AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    mh, _ = _minhash_bands(d)  # lazy result: the ContextCleaner frees the blocks
    a = mh.alias("a")
    b = mh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.minhash") == F.col("b.minhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_bands"))
    )


# Dedup 2b — near-dup CLUSTERS: connected components over the minhash
# candidate-pair graph (operators/components.py — min-label propagation
# with pointer jumping, O(log chain) iterations, labels-only shuffles).
# The iterative driver loop converges to a fixpoint, so the one-shot
# recursive-CTE oracle (min reachable doc_id) checks it exactly.
@register("dedup_cluster_labels")
def dedup_cluster_labels(spark, sf_dir):
    from web_scraper_spark.operators.components import connected_components

    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(d, pairs)
    return labels.select(F.col("id").alias("doc_id"), "component")


ORACLES["dedup_cluster_labels"] = f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_transform({_SQL_SHINGLES},
                            s -> {_SQL_H60.format("s")} % {_MERSENNE}) AS hs
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents)
    ),
    mh AS (SELECT doc_id, {_SQL_MINHASHES} FROM sh),
    bands AS ({_SQL_MH_UNION}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b ON a.band = b.band AND a.minhash = b.minhash
                                AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id
"""

# keep-best oracle: the cluster oracle's recursive CTEs, its final
# SELECT folded into one more CTE, then per-component argmax by
# (n_chars desc, doc_id asc) + member counts
_CLUSTER_FINAL = "SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id"
assert _CLUSTER_FINAL in ORACLES["dedup_cluster_labels"]
ORACLES["dedup_keep_best"] = ORACLES["dedup_cluster_labels"].replace(
    _CLUSTER_FINAL,
    f""", comp AS ({_CLUSTER_FINAL})
    SELECT component, keeper, n_members FROM (
      SELECT c.component, c.doc_id AS keeper,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN documents d USING (doc_id))
    WHERE rn = 1""",
)


# Dedup 2c — keep-one policy over the clusters: per component keep the
# LONGEST document (ties to smaller doc_id) — the full dedup pipeline
# composed end-to-end (pairs -> components -> keeper), all under one
# oracle. Per-component argmax is a window over the (tiny) labels table,
# partitioned by component — never the corpus.
@register("dedup_keep_best")
def dedup_keep_best(spark, sf_dir):
    labels = dedup_cluster_labels(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = labels.join(d, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    best = (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("component", F.col("doc_id").alias("keeper"))
    )
    sizes = labels.groupBy("component").agg(F.count("*").alias("n_members"))
    return best.join(sizes, "component")


# Dedup 3 — SimHash (16-bit) document fingerprint
@register(
    "dedup_simhash",
    f"""
    SELECT doc_id,
           list_sum([CASE WHEN bitsum > 0 THEN 1 << b ELSE 0 END
                     for b, bitsum in zip_lists(range(16), sums)])::BIGINT AS simhash16
    FROM (
      SELECT doc_id,
             [sum_pm(h, b) for b in range(16)] AS sums
      FROM ...
    )
    """,
)
def dedup_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("w")
    ).withColumn("h", hash60(F.col("w")))
    aggs = [
        F.sum(
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{b}")
        for b in range(16)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    simhash = None
    for b in range(16):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return sums.select("doc_id", simhash.cast("long").alias("simhash16"))


# real oracle for simhash (the decorator above used a placeholder)
ORACLES["dedup_simhash"] = f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_H60.format("w")} AS h
      FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents)
    ),
    sums AS (
      SELECT doc_id,
             {", ".join(f"sum(((h >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(16))}
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))} AS BIGINT) AS simhash16
    FROM sums
"""


# Dedup 4 — n-gram Jaccard with LSH blocking. Candidate pairs must share
# (length bucket, min gram-hash): the min-hash block is the standard
# scalable blocker — P(min equal) == the pair's Jaccard, so high-overlap
# pairs are very likely blocked together while the quadratic all-pairs
# blow-up disappears (block sizes stay tiny). Both engines compute the
# identical blocking, so the oracle checks the same definition.
@register(
    "dedup_ngram_jaccard",
    f"""
    WITH g AS (
      SELECT doc_id, n_chars // 50 AS bucket,
             list_distinct([substr(head, i, 4) for i in range(1, greatest(len(head) - 2, 2))]) AS grams
      FROM (SELECT doc_id, n_chars, substr(text, 1, 64) AS head FROM documents)
    ),
    gb AS (
      SELECT doc_id, bucket, grams,
             list_min(list_transform(grams, s -> {_SQL_H60.format("s")} % {_MERSENNE})) AS block
      FROM g
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                 (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 4)::DOUBLE AS jaccard
    FROM gb a JOIN gb b ON a.bucket = b.bucket AND a.block = b.block
                        AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
          (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.35
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # substring with a dynamic start needs the expr form
    g = d.select(
        "doc_id",
        (F.col("n_chars") / 50).cast("long").alias("bucket"),
        F.array_distinct(
            F.expr(
                "transform(sequence(1, greatest(length(substring(text,1,64)) - 3, 1)),"
                " i -> substring(substring(text,1,64), i, 4))"
            )
        ).alias("grams"),
    )
    g = g.withColumn(
        "block",
        F.array_min(F.transform(F.col("grams"), lambda s: hash60(s) % _MERSENNE)),
    )
    a, b = g.alias("a"), g.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(jac >= 0.35)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity 1 — brute-force cosine top-k vs query vector (vec_id = 0)
_SQL_DOT = (
    "list_sum(list_transform(zip_lists(a.embedding, q.embedding), "
    "p -> p[1]::DOUBLE * p[2]::DOUBLE))"
)


@register("ann_cosine_topk")
def ann_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    j = e.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    cos = F.round(cosine(F.col("embedding"), F.col("q_embedding")), 6)
    # orderBy+limit compiles to distributed TakeOrderedAndProject (each
    # partition keeps its local top-10, the driver merges k*P rows) —
    # never a single-partition window over the whole scored corpus. The
    # rank window then runs over the 10 survivors only.
    top = (
        j.select("vec_id", "label", cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w))


ORACLES["ann_cosine_topk"] = """
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label, cos, rank FROM (
      SELECT a.vec_id, a.label,
             round(
               list_sum(list_transform(range(1, 65),
                        i -> a.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)) /
               (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
                sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cos,
             row_number() OVER (ORDER BY round(
               list_sum(list_transform(range(1, 65),
                        i -> a.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)) /
               (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
                sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) DESC,
               a.vec_id ASC) AS rank
      FROM embeddings a, q WHERE a.vec_id <> 0)
    WHERE rank <= 10
"""


# Similarity 2 — sign-LSH bucketed near-dup pairs (the scale path:
# pairwise only inside buckets; operators/similarity.py). The contract
# pins bits=6 because the oracle SQL is fixed at 6 sign bits; production
# callers omit ``bits`` and the operator sizes it as log2(N/target) so
# bucket width scales with the corpus (VERDICT r1 — fixed 64 buckets are
# quadratic at 10^10 vectors; tests/test_similarity.py pins the bound).
@register("neardup_embedding_cosine")
def neardup_embedding_cosine(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return neardup_pairs(e, threshold=0.5, bits=6)


ORACLES["neardup_embedding_cosine"] = """
    WITH g AS (
      SELECT vec_id, embedding,
             ((embedding[1] > 0)::INT * 32 + (embedding[2] > 0)::INT * 16 +
              (embedding[3] > 0)::INT * 8 + (embedding[4] > 0)::INT * 4 +
              (embedding[5] > 0)::INT * 2 + (embedding[6] > 0)::INT) AS bucket
      FROM embeddings
    )
    SELECT vec_a, vec_b, round(cos, 6)::DOUBLE AS cos FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_sum(list_transform(range(1, 65),
                      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
             (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
              sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
      FROM g a JOIN g b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    WHERE cos >= 0.5
"""


# ---------------------------------------------------------------------------
# Text 1 — language-ID by marker-token voting (n-gram heuristic shape)
@register(
    "text_langid_heuristic",
    """
    SELECT doc_id, lang,
           CASE WHEN en_hits >= 2 THEN 'en_like' ELSE 'other' END AS predicted
    FROM (SELECT doc_id, lang,
                 len(list_filter(string_split(trim(text), ' '),
                     w -> w IN ('the','a','of','and','to'))) AS en_hits
          FROM documents)
    """,
)
def text_langid_heuristic(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    en_hits = F.size(
        F.filter(
            _words(F.col("text")),
            lambda w: w.isin("the", "a", "of", "and", "to"),
        )
    )
    return d.select(
        "doc_id", "lang",
        F.when(en_hits >= 2, "en_like").otherwise("other").alias("predicted"),
    )


# Text 1b — language-ID by character-trigram PROFILES (the real n-gram
# method, vs the marker-word heuristic above): per-language profiles =
# top-30 trigrams by frequency (in production a broadcast dimension
# trained offline; here trained from the corpus itself in the same
# query), classify each doc by largest distinct-trigram overlap with any
# profile (ties to lang asc). Pure Catalyst end to end: explode ->
# count -> windowed top-30 -> semi-structured join -> argmax window over
# (doc, lang) overlap counts — #docs x #langs rows, never all-trigrams.
# (Classifier ACCURACY on the synthetic word-soup fixture is low by
# construction — the langs share vocabulary; the contract pins the
# operator's mechanics, which is what transfers to real corpora.)
@register(
    "text_langid_ngram",
    """
    WITH tri AS (
      SELECT doc_id, lang, unnest(list_distinct(
               [substr(t, i, 3) for i in range(1, greatest(len(t) - 1, 2))])) AS g
      FROM (SELECT doc_id, lang, lower(substr(text, 1, 200)) AS t FROM documents)
    ),
    profile AS (
      SELECT lang AS plang, g FROM (
        SELECT lang, g, row_number() OVER (PARTITION BY lang
                                           ORDER BY count(*) DESC, g ASC) AS rn
        FROM tri GROUP BY lang, g)
      WHERE rn <= 30
    ),
    overlap AS (
      SELECT t.doc_id, p.plang, count(*) AS hits
      FROM (SELECT DISTINCT doc_id, g FROM tri) t
      JOIN profile p ON t.g = p.g
      GROUP BY t.doc_id, p.plang
    )
    SELECT o.doc_id, d.lang, o.plang AS predicted,
           CASE WHEN o.plang = d.lang THEN 1 ELSE 0 END AS correct
    FROM (SELECT doc_id, plang,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY hits DESC, plang ASC) AS rn
          FROM overlap) o
    JOIN documents d USING (doc_id)
    WHERE o.rn = 1
    """,
)
def text_langid_ngram(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    grams = F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(lower(substring(text,1,200))) - 2, 1)),"
            " i -> substring(lower(substring(text,1,200)), i, 3))"
        )
    )
    tri = d.select("doc_id", "lang", F.explode(grams).alias("g"))
    w_prof = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("g"))
    profile = (
        tri.groupBy("lang", "g")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w_prof))
        .where(F.col("rn") <= 30)
        .select(F.col("lang").alias("plang"), "g")
    )
    overlap = (
        tri.select("doc_id", "g").dropDuplicates(["doc_id", "g"])
        .join(F.broadcast(profile), "g")
        .groupBy("doc_id", "plang")
        .agg(F.count("*").alias("hits"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("plang"))
    best = (
        overlap.withColumn("rn", F.row_number().over(w_doc))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("plang").alias("predicted"))
    )
    return best.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "predicted",
        F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0).alias("correct"),
    )


# Text 2 — quality scoring (length / punct / stopword ratios)
@register(
    "text_quality_score",
    """
    SELECT doc_id,
           n_tokens,
           round(avg_word_len, 4)::DOUBLE AS avg_word_len,
           round(stopword_ratio, 4)::DOUBLE AS stopword_ratio,
           CASE WHEN n_tokens >= 20 AND avg_word_len BETWEEN 3 AND 10
                     AND stopword_ratio BETWEEN 0.01 AND 0.5
                THEN 1 ELSE 0 END AS passes_quality
    FROM (SELECT doc_id,
                 len(words) AS n_tokens,
                 (length(trim(text)) - len(words) + 1)::DOUBLE / greatest(len(words), 1) AS avg_word_len,
                 len(list_filter(words, w -> w IN ('the','a','of','and','to','in')))::DOUBLE
                   / greatest(len(words), 1) AS stopword_ratio
          FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS words FROM documents))
    """,
)
def text_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n = F.size(words)
    awl = (F.length(F.trim(F.col("text"))) - n + 1).cast("double") / F.greatest(n, F.lit(1))
    swr = F.size(
        F.filter(words, lambda w: w.isin("the", "a", "of", "and", "to", "in"))
    ).cast("double") / F.greatest(n, F.lit(1))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(awl, 4).alias("avg_word_len"),
        F.round(swr, 4).alias("stopword_ratio"),
        F.when(
            (n >= 20) & awl.between(3, 10) & swr.between(0.01, 0.5), 1
        ).otherwise(0).alias("passes_quality"),
    )


# Text 3 — token counting: whitespace + BPE-ish regex sub-tokens
@register(
    "text_token_count",
    """
    SELECT source,
           sum(len(string_split(trim(text), ' ')))::BIGINT AS ws_tokens,
           sum(len(regexp_split_to_array(lower(text), '[^a-z0-9]+')))::BIGINT AS re_tokens
    FROM documents GROUP BY source
    """,
)
def text_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(_words(F.col("text")))).alias("ws_tokens"),
        F.sum(F.size(F.split(F.lower(F.col("text")), "[^a-z0-9]+"))).alias("re_tokens"),
    )


# Text 4 — document fingerprint (min of rolling char 8-gram hashes)
@register(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           list_min([{_SQL_H60.format("substr(head, i, 8)")}
                     for i in range(1, greatest(len(head) - 6, 2))]) AS fingerprint
    FROM (SELECT doc_id, substr(text, 1, 96) AS head FROM documents)
    """,
)
def doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_min(
            F.expr(
                "transform(sequence(1, greatest(length(substring(text,1,96)) - 7, 1)),"
                " i -> conv(substring(md5(substring(substring(text,1,96), i, 8)),1,15),16,10))"
            ).cast("array<long>")
        ).alias("fingerprint"),
    )


# Embeddings — per-label norm stats
@register(
    "embed_norm_stats",
    """
    SELECT label, count(*) AS n,
           round(avg(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))), 3)::DOUBLE AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def embed_norm_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return e.groupBy("label").agg(
        F.count("*").alias("n"), F.round(F.avg(norm), 3).alias("avg_norm")
    )


# Text 5 — deterministic normalization pass (lowercase, strip ASCII
# control chars, collapse whitespace) — the canonicalization step ahead
# of exact dedup; emitted as a hash so rows stay narrow
@register(
    "text_normalize",
    """
    SELECT doc_id,
           md5(norm) AS norm_hash,
           length(norm) AS n_chars_norm
    FROM (SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text),
                      '[\\x00-\\x1f]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
          FROM documents)
    """,
)
def text_normalize(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[\x00-\x1f]", " "),
            r"\s+", " ",
        )
    )
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(norm).alias("n_chars_norm"),
    )


# Sampling — deterministic hash-based stratified sample: per-source keep
# rates via a portable 60-bit hash of the doc id (no rand(); re-runs and
# both engines agree row-for-row). At 10^10 rows this is a stateless
# filter — no shuffle at all until the per-stratum report.
_SAMPLE_RATES = {"src0": 10, "src1": 25, "src2": 50}  # percent; others 75
_SQL_RATE = (
    "CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 25 "
    "WHEN 'src2' THEN 50 ELSE 75 END"
)


@register(
    "sample_stratified",
    f"""
    SELECT source, count(*) AS n_total,
           count(*) FILTER (keep) AS n_sampled,
           round(100.0 * count(*) FILTER (keep) / count(*), 2)::DOUBLE AS observed_pct
    FROM (SELECT source,
                 {_SQL_H60.format("CAST(doc_id AS VARCHAR)")} % 100 < {_SQL_RATE} AS keep
          FROM documents)
    GROUP BY source
    """,
)
def sample_stratified(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    rate = F.lit(75)
    for src, pct in _SAMPLE_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(pct)).otherwise(rate)
    keep = (hash60(F.col("doc_id").cast("string")) % 100) < rate
    return (
        d.select("source", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.count_if(F.col("keep")).alias("n_sampled"),
            F.round(
                F.lit(100.0) * F.count_if(F.col("keep")) / F.count("*"), 2
            ).alias("observed_pct"),
        )
    )


# Token stats — global top-20 tokens: the distributed top-k shape again
# (partial counts -> one shuffle -> TakeOrderedAndProject), deterministic
# tiebreak on the token itself
@register(
    "tokens_topk",
    """
    SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
    FROM (SELECT token, count(*) AS n
          FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
          GROUP BY token
          ORDER BY n DESC, token ASC LIMIT 20)
    """,
)
def tokens_topk(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(_words(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(20)
    w = Window.orderBy(F.desc("n"), F.asc("token"))  # over 20 rows only
    return top.withColumn("rank", F.row_number().over(w))


# The training-corpus FUNNEL: the stages a 100 TB corpus actually runs —
# exact dedup -> quality gate -> langid gate -> stratified sample — as
# one query reporting rows surviving each stage. Every stage is a
# stateless filter or one hash-groupBy; the funnel counts come from a
# single pass (conditional aggregation over stage flags, not 4 scans).
@register(
    "corpus_funnel",
    f"""
    WITH staged AS (
      SELECT doc_id,
             (row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1) AS keep_dedup,
             (len(words) >= 20 AND
              len(list_filter(words, w -> w IN ('the','a','of','and','to','in')))::DOUBLE
                / greatest(len(words), 1) BETWEEN 0.01 AND 0.5) AS pass_quality,
             (len(list_filter(words, w -> w IN ('the','a','of','and','to'))) >= 2) AS pass_lang,
             ({_SQL_H60.format("CAST(doc_id AS VARCHAR)")} % 100 < 40) AS pass_sample
      FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS words FROM documents)
    )
    SELECT count(*) AS n_input,
           count(*) FILTER (keep_dedup) AS n_dedup,
           count(*) FILTER (keep_dedup AND pass_quality) AS n_quality,
           count(*) FILTER (keep_dedup AND pass_quality AND pass_lang) AS n_lang,
           count(*) FILTER (keep_dedup AND pass_quality AND pass_lang AND pass_sample) AS n_sampled
    FROM staged
    """,
)
def corpus_funnel(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n = F.size(words)
    swr = F.size(
        F.filter(words, lambda w: w.isin("the", "a", "of", "and", "to", "in"))
    ).cast("double") / F.greatest(n, F.lit(1))
    en_hits = F.size(
        F.filter(words, lambda w: w.isin("the", "a", "of", "and", "to"))
    )
    w_dedup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    staged = d.select(
        "doc_id",
        (F.row_number().over(w_dedup) == 1).alias("keep_dedup"),
        ((n >= 20) & swr.between(0.01, 0.5)).alias("pass_quality"),
        (en_hits >= 2).alias("pass_lang"),
        ((hash60(F.col("doc_id").cast("string")) % 100) < 40).alias("pass_sample"),
    )
    k = F.col("keep_dedup")
    q = k & F.col("pass_quality")
    lg = q & F.col("pass_lang")
    sm = lg & F.col("pass_sample")
    return staged.agg(
        F.count("*").alias("n_input"),
        F.count_if(k).alias("n_dedup"),
        F.count_if(q).alias("n_quality"),
        F.count_if(lg).alias("n_lang"),
        F.count_if(sm).alias("n_sampled"),
    )


# Image near-dup — perceptual-hash Hamming pairs via band bucketing
# (operators/imagedup.py; the landed images table carries real phashes —
# here the contract derives a deterministic phash fixture from the
# documents table: same-source docs differ in <=5 low bits, cross-source
# hashes are ~random, so max_hamming=3 keeps most same-source pairs and
# nothing else). The oracle is brute-force all-pairs (the SPEC); the
# engine must reproduce it with the banded plan (the SCALE shape).
@register(
    "image_phash_neardup",
    f"""
    WITH ph AS (
      SELECT doc_id, xor({_SQL_H60.format("source")}, doc_id % 32) AS phash
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.phash, b.phash)) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """,
)
def image_phash_neardup(spark, sf_dir):
    from web_scraper_spark.operators.imagedup import phash_neardup_pairs

    d = _t(spark, sf_dir, "documents")
    ph = hash60(F.col("source")).bitwiseXOR(F.col("doc_id") % 32)
    imgs = d.select(F.col("doc_id").alias("image_id"), ph.alias("phash"))
    return phash_neardup_pairs(imgs, max_hamming=3).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


# ---------------------------------------------------------------------------
# Streaming-shape — sessionization (gap > 30 min) in batch form
@register(
    "stream_sessionize",
    """
    SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
    FROM (SELECT user_id,
                 sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
          FROM (SELECT user_id, ts, event_id,
                       epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
                FROM events))
    GROUP BY user_id
    """,
)
def stream_sessionize(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).over(w)
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


# Session windows via the CATALYST-NATIVE operator (F.session_window) —
# the JVM-side sibling of stream_sessionize's stateful Arrow twin: one
# shuffle on user_id, session assignment inside whole-stage codegen, no
# Python anywhere. window.end = last event + gap (Spark semantics); the
# oracle is an independent gaps-and-islands rewrite. Timestamps carry
# microseconds, so an exact-30:00 boundary tie is measure-zero.
@register(
    "session_windows_batch",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def session_windows_batch(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            _money(F.sum(_dec("value"))).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# Corpus length distribution — EXACT percentiles (Spark `percentile`
# and DuckDB `quantile_cont` share linear-interpolation semantics; the
# approx sketches can never hash-match an oracle). The real
# training-data use: per-source length profiles drive truncation/packing
# decisions. One shuffle (groupBy source); percentile is a single-pass
# typed aggregate, no Python.
@register(
    "corpus_length_percentiles",
    """
    SELECT source,
           count(*) AS n_docs,
           round(avg(len(text)), 2) AS avg_len,
           round(quantile_cont(len(text), 0.5), 4) AS p50,
           round(quantile_cont(len(text), 0.9), 4) AS p90,
           round(quantile_cont(len(text), 0.99), 4) AS p99
    FROM documents GROUP BY source
    """,
)
def corpus_length_percentiles(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ln = F.length("text")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(ln), 2).alias("avg_len"),
        F.round(F.percentile(ln, F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile(ln, F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile(ln, F.lit(0.99)), 4).alias("p99"),
    )


# J catalog addendum — JSON scalar functions (the string/date catalogs
# are covered by j_string_functions/j_date_functions; events.props is
# the JSON column): path extraction + typed cast inside a grouped
# aggregate, all JVM-side.
@register(
    "j_json_functions",
    """
    SELECT event_type,
           count(*) AS n,
           sum(json_extract(props, '$.k')::BIGINT) AS sum_k,
           max(json_extract(props, '$.k')::BIGINT) AS max_k,
           round(avg(CASE WHEN json_extract(props, '$.k')::BIGINT % 2 = 0
                          THEN value END), 2) AS avg_value_even_k
    FROM events GROUP BY event_type
    """,
)
def j_json_functions(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.round(F.avg(F.when(k % 2 == 0, F.col("value"))), 2).alias(
            "avg_value_even_k"
        ),
    )


# Grouped top-N — the per-key ranking shape (top-1 is e5_top1_window;
# this is the general N): 3 longest documents per source via a window
# rank. The window partitions on source, so the shuffle is the groupBy's
# own; no global sort.
@register(
    "docs_topn_per_source",
    """
    SELECT source, doc_id, doc_len, rnk FROM (
      SELECT source, doc_id, len(text) AS doc_len,
             row_number() OVER (PARTITION BY source
                                ORDER BY len(text) DESC, doc_id ASC) AS rnk
      FROM documents)
    WHERE rnk <= 3
    """,
)
def docs_topn_per_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc(F.length("text")), F.asc("doc_id")
    )
    return (
        d.select(
            "source", "doc_id", F.length("text").alias("doc_len"),
            F.row_number().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
    )


# Event-to-dimension enrichment — the behavioral-analytics join shape:
# the event stream joins a broadcast customer dimension (user_id keys a
# customer row), aggregating value by market segment x event type. At
# 10^10 events the dim broadcast keeps the plan shuffle-free until the
# final rollup.
@register(
    "events_by_segment",
    """
    SELECT c.c_mktsegment AS segment, e.event_type,
           count(*) AS n,
           CAST(round(sum(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def events_by_segment(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e["user_id"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count("*").alias("n"),
            _money(F.sum(_dec("value"))).alias("total_value"),
        )
    )


# Value histogram — fixed-width bucketing with EXPLICIT arithmetic
# (DuckDB has no width_bucket; the identical floor(value/step) double
# expression on both sides gives parity by construction, boundary FP
# included). The distribution-profiling primitive for quality gates.
@register(
    "events_value_histogram",
    """
    SELECT CAST(floor(value / 2.0) AS INT) AS bucket,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events GROUP BY bucket
    """,
)
def events_value_histogram(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.select(F.floor(F.col("value") / 2.0).cast("int").alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


# Pivot — the cross-tab reshape (DataFrame .pivot with EXPLICIT value
# list, so the plan skips the distinct-values discovery job; the oracle
# is the equivalent conditional aggregation). Counts of each event type
# per customer segment.
_PIVOT_TYPES = ("click", "view", "error")


@register(
    "events_pivot_by_type",
    f"""
    SELECT c.c_mktsegment AS segment,
           {", ".join(
               f"count(CASE WHEN e.event_type = '{t}' THEN 1 END) AS n_{t}"
               for t in _PIVOT_TYPES)}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def events_pivot_by_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    pivoted = (
        e.join(F.broadcast(c), e["user_id"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("event_type", list(_PIVOT_TYPES))
        .count()
    )
    out = pivoted.select(
        "segment",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _PIVOT_TYPES],
    )
    return out


# Tumbling time windows — the fixed-bucket sibling of
# session_windows_batch (F.window == Catalyst TimeWindow; oracle =
# date_trunc). Daily event rollup.
@register(
    "events_daily_windows",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY window_start
    """,
)
def events_daily_windows(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n"),
            _money(F.sum(_dec("value"))).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n", "total_value"
        )
    )


# ---------------------------------------------------------------------------
# TPC-H flagships — prove classic OLAP parity + plan quality
@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)::DOUBLE AS sum_qty,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS sum_base_price,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS sum_disc_price,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4)::DOUBLE AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2001-06-01").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _money(F.sum(_dec("l_quantity"))).alias("sum_qty"),
        _money(F.sum(_dec("l_extendedprice"))).alias("sum_base_price"),
        _money(F.sum(_disc_rev())).alias("sum_disc_price"),
        F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 4).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@register(
    "q3_top_orders",
    """
    SELECT o_orderkey, round(revenue, 2)::DOUBLE AS revenue, o_orderpriority
    FROM (SELECT o.o_orderkey, o.o_orderpriority,
                 sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS revenue,
                 row_number() OVER (ORDER BY round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) DESC,
                                    o.o_orderkey ASC) AS rn
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_mktsegment = 'BUILDING'
          GROUP BY o.o_orderkey, o.o_orderpriority)
    WHERE rn <= 10
    """,
)
def q3_top_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    rev = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(o["o_orderkey"], "o_orderpriority")
        .agg(F.sum(_disc_rev()).alias("revenue"))
    )
    w = Window.orderBy(F.desc(F.round(F.col("revenue"), 2)), F.asc("o_orderkey"))
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("o_orderkey", _money(F.col("revenue")).alias("revenue"), "o_orderpriority")
    )


@register(
    "q5_region_revenue",
    """
    SELECT n.n_name AS nation, round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = (SELECT min(r_name) FROM region)
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # scalar-subquery shape kept collect-free: the 1-row min(r_name) agg
    # broadcasts into the region filter instead of a driver round-trip
    # (VERDICT r3 nit)
    min_r = r.agg(F.min("r_name").alias("_target"))
    r_target = (
        r.join(F.broadcast(min_r), r["r_name"] == min_r["_target"]).drop("_target")
    )
    dims = (
        n.join(
            F.broadcast(r_target),
            n["n_regionkey"] == r_target["r_regionkey"],
        ).select("n_nationkey", "n_name")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(dims), c["c_nationkey"] == dims["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            _money(F.sum(_disc_rev())).alias("revenue")
        )
    )


# TPC-H Q6 — pure filter+agg: the pushdown/pruning showcase (the scan
# must read 4 columns and push all three range predicates)
@register(
    "q6_revenue_delta",
    """
    SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_delta(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_money(F.sum(_dec("l_extendedprice") * _dec("l_discount"))).alias("revenue"))
    )


# TPC-H Q4 shape — priority checking via a conditional EXISTS semi-join
# (no l_commitdate in this testdata; "late" = shipped >30 days after the
# order date)
@register(
    "q4_priority_check",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_check(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# TPC-H Q14 shape — promo revenue share: join + conditional aggregation
# into one ratio
@register(
    "q14_promo_share",
    """
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                       THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
                                       ELSE 0 END) AS DOUBLE) /
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 4)::DOUBLE AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = _disc_rev()
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                        .otherwise(_dec(F.lit(0)))).cast("double")
                / F.sum(rev).cast("double"),
                4,
            ).alias("promo_pct")
        )
    )


# TPC-H Q18 shape — large-volume orders: HAVING + join + distributed
# top-10 (quantity sums are small integers in doubles -> FP-exact)
@register(
    "q18_large_volume",
    """
    SELECT c_name, o_orderkey, round(o_totalprice, 2)::DOUBLE AS total, sum_qty,
           row_number() OVER (ORDER BY sum_qty DESC, o_orderkey ASC) AS rank
    FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) t
    JOIN orders o ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY sum_qty DESC, o_orderkey ASC LIMIT 10
    """,
)
def q18_large_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    joined = (
        big.join(o, o["o_orderkey"] == big["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .select(
            "c_name", "o_orderkey",
            F.round("o_totalprice", 2).alias("total"), "sum_qty",
        )
    )
    top = joined.orderBy(F.desc("sum_qty"), F.asc("o_orderkey")).limit(10)
    w = Window.orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))  # 10 rows
    return top.withColumn("rank", F.row_number().over(w))


# TPC-H Q19 shape — disjunctive brand/size/quantity predicate groups
# across the join (the OR-pushdown showcase)
@register(
    "q19_disjunctive",
    """
    SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")

    def grp(brand, smax, qlo, qhi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, smax)
            & F.col("l_quantity").between(qlo, qhi)
        )

    cond = grp("Brand#1", 15, 1, 11) | grp("Brand#2", 25, 10, 20) | grp("Brand#3", 35, 20, 30)
    return (
        li.join(p, p["p_partkey"] == li["l_partkey"])
        .where(cond)
        .agg(
            _money(F.sum(_disc_rev())).alias("revenue")
        )
    )


# As-of join — temporal enrichment (operators/asof.py union-merge form;
# the oracle is DuckDB's NATIVE ASOF JOIN, a genuinely independent
# implementation). Right side pre-deduped to one order per (cust, date)
# — both engines apply the identical max-orderkey policy, the shared
# precondition for unambiguous as-of semantics.
@register(
    "asof_join_orders",
    """
    WITH o1 AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
             max_by(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id,
           o1.o_orderkey AS last_orderkey,
           round(o1.o_totalprice, 2)::DOUBLE AS last_total
    FROM events e ASOF LEFT JOIN o1
      ON e.user_id = o1.o_custkey AND e.ts >= o1.o_orderdate
    """,
)
def asof_join_orders(spark, sf_dir):
    from web_scraper_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o1 = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
        .withColumnRenamed("o_custkey", "user_id")
    )
    out = asof_join(
        e, o1, key="user_id", left_time="ts", right_time="o_orderdate",
        payload=["o_orderkey", "o_totalprice"],
    )
    return out.select(
        "event_id", "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.round("o_totalprice", 2).alias("last_total"),
    )


# ROLLUP — hierarchical totals with subtotal + grand-total rows
@register(
    "q_rollup_revenue",
    """
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(CAST(y AS VARCHAR), 'ALL') AS yr,
           round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS total,
           count(*) AS n
    FROM (SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS y,
                 o_totalprice FROM orders)
    GROUP BY ROLLUP (o_orderpriority, y)
    """,
)
def q_rollup_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("y"),
        "o_totalprice",
    )
    return (
        o.rollup("o_orderpriority", "y")
        .agg(
            _money(F.sum(_dec("o_totalprice"))).alias("total"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("y").cast("string"), F.lit("ALL")).alias("yr"),
            "total",
            "n",
        )
    )


# CUBE — all four grouping combinations in one pass (vs ROLLUP's
# prefix-only subtotals); the coalesce('ALL') trick disambiguates null
# grouping keys identically on both engines.
@register(
    "q_cube_revenue",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS total,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            _money(F.sum(_dec("l_extendedprice"))).alias("total"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "total",
            "n",
        )
    )


# Window frames — per-customer trailing-3 moving SUM + running total.
# (Sums, not averages: the inputs are 2-decimal-quantized, so sums never
# sit on a round-2 half-cent boundary, while avg's /3 landed one row of
# 30k exactly on .005 and flipped between engines — the CLAUDE.md
# "no unrounded doubles from division" rule, learned again.)
@register(
    "q_window_frames",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w3, 2)::DOUBLE AS sum3,
           round(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER wall, 2)::DOUBLE AS running_total
    FROM orders
    WINDOW w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
           wall AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_window_frames(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = base.rowsBetween(-2, 0)
    wall = base.rowsBetween(Window.unboundedPreceding, 0)
    return o.select(
        "o_custkey", "o_orderkey",
        _money(F.sum(_dec("o_totalprice")).over(w3)).alias("sum3"),
        _money(F.sum(_dec("o_totalprice")).over(wall)).alias("running_total"),
    )


# §J string-function catalog showcase (trim/lower/split/concat_ws/
# substring/instr/startswith/lpad — the reference's string surface)
@register(
    "j_string_functions",
    """
    SELECT p_partkey,
           lower(p_name) AS lname,
           upper(p_brand) AS ubrand,
           substring(p_name, 1, 5) AS head5,
           strpos(p_name, 'widget') AS widget_pos,
           CASE WHEN p_name LIKE 'small%' THEN 1 ELSE 0 END AS is_small,
           concat_ws('::', p_brand, p_type) AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
           length(p_name) AS name_len,
           reverse(p_brand) AS rbrand
    FROM part
    """,
)
def j_string_functions(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.substring("p_name", 1, 5).alias("head5"),
        F.instr(F.col("p_name"), "widget").alias("widget_pos"),
        F.col("p_name").startswith("small").cast("int").alias("is_small"),
        F.concat_ws("::", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.length("p_name").alias("name_len"),
        F.reverse("p_brand").alias("rbrand"),
    )


# §J date/time catalog showcase
@register(
    "j_date_functions",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS d,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(dayofweek(o_orderdate) AS INT) AS dow,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def j_date_functions(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        F.year("o_orderdate").cast("int").alias("y"),
        F.month("o_orderdate").cast("int").alias("m"),
        # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1
        (F.dayofweek("o_orderdate") - F.lit(1)).cast("int").alias("dow"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_epoch_start"),
    )


# IVF-style ANN (scale path; DuckDB oracle at ORACLES["ann_ivf_topk"]
# below): coarse centroids = per-label elementwise means, query routed
# to its nearest centroid(s), brute-force only inside those lists. At
# 10^10 vectors: centroids are a broadcast dim; the probe scans nprobe
# partition-pruned buckets instead of the corpus. nprobe is the standard
# recall lever: a query near a Voronoi boundary finds its true
# neighbors in the SECOND-closest list — tests/test_ivf_recall.py
# measures recall@k against the brute-force oracle at nprobe=1 vs 2.
def _ivf_topk(spark, sf_dir, nprobe: int):
    return _ivf_topk_df(_t(spark, sf_dir, "embeddings"), nprobe)


def _ivf_topk_df(e, nprobe: int):
    """IVF probe over any (vec_id, label, embedding) DataFrame; the query
    is vec_id 0, label = the inverted-list assignment."""
    # elementwise centroid per label
    cent = (
        e.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("cs"))
        .select("label", F.transform(F.col("cs"), lambda s: s["c"]).alias("centroid"))
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))

    target = (
        cent.crossJoin(F.broadcast(q))
        .select("label", cosine(F.col("centroid"), F.col("qe")).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("label"))
        .limit(nprobe)
        .select("label")
    )
    probe = e.join(F.broadcast(target), "label", "left_semi").where(F.col("vec_id") != 0)
    scored = probe.crossJoin(F.broadcast(q)).select(
        "vec_id", "label", F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("cos")
    )
    # orderBy+limit compiles to a distributed TakeOrderedAndProject —
    # never a single-partition window over the probe bucket
    top = scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(5)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))  # over 5 rows only
    return top.withColumn("rank", F.row_number().over(w))


@register("ann_ivf_topk")
def ann_ivf_topk(spark, sf_dir):
    return _ivf_topk(spark, sf_dir, nprobe=1)


@register("ann_ivf_multiprobe")
def ann_ivf_multiprobe(spark, sf_dir):
    return _ivf_topk(spark, sf_dir, nprobe=2)


_EMB_DIM = 64  # contract-wide embedding width (the oracles hardcode range(1,65))


def _l2sq_embedding_centroid(cast_to_double: bool) -> Column:
    """Unrolled squared-L2 distance between the ``embedding`` and
    ``centroid`` array columns. Bit-identical to the
    aggregate(zip_with(...)) fold it replaces — same left-associative
    accumulation from 0.0 in element order — but fully inside
    whole-stage codegen: higher-order-function lambdas evaluate
    interpreted, which dominated the k-means assign at a 256k-vector
    corpus (~2M candidate rows x 64 dims x 3 passes)."""
    acc = F.lit(0.0)
    for i in range(_EMB_DIM):
        x = F.col("embedding")[i]
        if cast_to_double:
            x = x.cast("double")
        d = x - F.col("centroid")[i]
        acc = acc + d * d
    return acc


# Iterative algorithm — k-means (Lloyd's) in pure DataFrame ops, used as
# a REAL trained coarse quantizer for IVF ANN. The oracle (_sql_kmeans,
# below) unrolls the fixed 3 Lloyd iterations as chained DuckDB CTEs.
# Output is deterministic: k-means++-free seeding from fixed vec_ids,
# 3 Lloyd iterations, ties broken by label.
# Scale shape: each iteration is one groupBy (assignments never leave the
# executors except as k centroids), the k centroids broadcast back.
@register("ann_ivf_kmeans")
def ann_ivf_kmeans(spark, sf_dir):
    from pyspark.sql import Window

    K = 8
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def assign(df, cents):
        """Nearest-centroid assignment via one broadcast join + min_by
        argmin (tie to low cid, same order as the oracle). min_by is
        partial-aggregatable, so the K per-vector candidate rows collapse
        map-side and ONE copy of each embedding crosses the shuffle — the
        previous per-vec_id row_number window shuffled all K array copies
        and sorted them (measured ~4x slower at a 256k-vector corpus)."""
        j = df.crossJoin(F.broadcast(cents))
        d2 = _l2sq_embedding_centroid(cast_to_double=True)
        return (
            j.withColumn("d2", d2)
            .groupBy("vec_id")
            .agg(
                F.min_by("cid", F.struct(F.col("d2"), F.col("cid"))).alias("cid"),
                F.first("embedding").alias("embedding"),
            )
            .select("vec_id", "embedding", "cid")
        )

    # deterministic seeding: the first K vec_ids are the initial centroids
    cents = (
        e.where(F.col("vec_id") < K)
        .select(
            F.col("vec_id").cast("int").alias("cid"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("centroid"),
        )
    )
    for _ in range(3):  # Lloyd iterations
        assigned = assign(e, cents)
        cents = (
            # per-dim avg as 64 flat aggregates: the posexplode form
            # shuffled corpus x dim rows twice; this shuffles K x 64
            # partial sums and stays in codegen (same values, fp-order
            # differences ~1e-15 — far below the round-6 comparison)
            assigned.groupBy("cid")
            .agg(*[F.avg(F.col("embedding")[i]).alias(f"c{i}")
                   for i in range(_EMB_DIM)])
            .select("cid", F.array(*[F.col(f"c{i}")
                                     for i in range(_EMB_DIM)]).alias("centroid"))
        )
        # truncate the LOGICAL plan per iteration, not just execution —
        # the repo invariant for iterative DataFrame ops (CLAUDE.md;
        # operators/components.py does the same)
        cents = cents.localCheckpoint(eager=True)

    # IVF probe: route the query to its centroid, brute-force inside
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    qcid = (
        cents.crossJoin(F.broadcast(q))
        .select("cid", cosine(F.col("centroid"),
                              F.transform(F.col("qe"), lambda x: x.cast("double"))).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("cid"))
        .limit(1)
        .select("cid")
    )
    members = assign(e, cents).join(F.broadcast(qcid), "cid", "left_semi")
    scored = (
        members.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("cos"))
    )
    top = scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(5)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w))


# IVF at scale (VERDICT r3 item 5): the raw embeddings table is only 500
# rows at sf0.01, so k-means quantized a corpus barely bigger than K. This
# query expands the corpus 16x IN-QUERY with exact binary-fraction
# perturbations (multiples of 0.25 — no cross-engine float drift), then
# runs the full trained-quantizer pipeline on ~8,000 vectors: K=8 seeds
# from 8 DISTINCT base vectors, 2 Lloyd iterations, nprobe=2 multiprobe,
# top-5. Scale shape is unchanged: assignments shuffle only as K centroids,
# centroids broadcast back, probe scans 2 partition-pruned buckets.
@register("ann_ivf_scaled")
def ann_ivf_scaled(spark, sf_dir):
    from pyspark.sql import Window

    K = 8
    base = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    reps = spark.range(16).select(F.col("id").cast("int").alias("r"))
    e = base.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") * 16 + F.col("r")).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x as double)"
            " + ((r * i) % 8) * 0.25d)"
        ).alias("embedding"),
    )
    # materialize the expanded corpus ONCE: e feeds five downstream scans
    # (2 Lloyd assigns, centroid rollups, the final assign, the probe) and
    # the transform() expansion evaluates interpreted (no codegen for
    # higher-order functions) — lazily it re-ran per scan, dominating the
    # wall at a 256k-vector corpus. At real scale the corpus is a stored
    # table, which is exactly what the checkpoint emulates.
    # r6: parallelism floor BEFORE the checkpoint — the embeddings file
    # splits into a single byte-sized scan partition, so the interpreted
    # expansion AND every downstream assign's 64-dim distance map ran on
    # one core (measured 13.2 -> 9.1 s at 256k vectors; values exact —
    # only partitioning moves). Two literal-centroid map-side assignment
    # rewrites (plain and 8-term-staged partial sums) were measured at
    # 24-29 s with janino 64KB codegen fallbacks and REVERTED — the
    # broadcast-crossJoin + min_by groupBy form stays the winner.
    e = _floor_parallelism(e).localCheckpoint(eager=True)

    def assign(df, cents):
        # min_by argmin, ties to low cid — see ann_ivf_kmeans.assign:
        # partial aggregation collapses the K candidate rows map-side,
        # one embedding copy per vector crosses the shuffle; d2 unrolled
        # into codegen (embeddings here are already double)
        j = df.crossJoin(F.broadcast(cents))
        d2 = _l2sq_embedding_centroid(cast_to_double=False)
        return (
            j.withColumn("d2", d2)
            .groupBy("vec_id")
            .agg(
                F.min_by("cid", F.struct(F.col("d2"), F.col("cid"))).alias("cid"),
                F.first("embedding").alias("embedding"),
            )
            .select("vec_id", "embedding", "cid")
        )

    # seeds: replica 0 of the first K ORIGINAL vectors (distinct bases,
    # not K perturbations of one vector)
    cents = e.where((F.col("vec_id") % 16 == 0) & (F.col("vec_id") < 16 * K)).select(
        (F.col("vec_id") / 16).cast("int").alias("cid"),
        F.col("embedding").alias("centroid"),
    )
    for _ in range(2):  # Lloyd iterations (oracle unrolls the same 2)
        assigned = assign(e, cents)
        cents = (
            # per-dim avg as 64 flat aggregates: the posexplode form
            # shuffled corpus x dim rows twice; this shuffles K x 64
            # partial sums and stays in codegen (same values, fp-order
            # differences ~1e-15 — far below the round-6 comparison)
            assigned.groupBy("cid")
            .agg(*[F.avg(F.col("embedding")[i]).alias(f"c{i}")
                   for i in range(_EMB_DIM)])
            .select("cid", F.array(*[F.col(f"c{i}")
                                     for i in range(_EMB_DIM)]).alias("centroid"))
            .localCheckpoint(eager=True)
        )

    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    qcids = (
        cents.crossJoin(F.broadcast(q))
        .select("cid", cosine(F.col("centroid"), F.col("qe")).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("cid"))
        .limit(2)  # multiprobe
        .select("cid")
    )
    members = assign(e, cents).join(F.broadcast(qcids), "cid", "left_semi")
    scored = (
        members.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("cos"))
    )
    top = scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(5)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w))


# DuckDB oracles for the two IVF queries. Elementwise centroid means are
# computed by zipping parallel unnests (value, 1-based position) and
# re-assembling with an ordered list() aggregate; FP-order differences
# between engines are ~1e-13 relative, far below the round-6 comparison.
_SQL_COS = (
    "list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i])) / "
    "(sqrt(list_sum(list_transform({a}, x -> x * x))) * "
    "sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


def _sql_centroids(src: str, key: str) -> str:
    return f"""
      SELECT {key}, list(c ORDER BY i) AS centroid
      FROM (SELECT {key}, i, avg(x) AS c
            FROM (SELECT {key}, unnest(emb) AS x,
                         unnest(range(1, len(emb) + 1)) AS i FROM {src})
            GROUP BY {key}, i)
      GROUP BY {key}"""


def _sql_ivf(nprobe: int) -> str:
    return f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
    cent AS ({_sql_centroids("e", "label")}),
    target AS (
      SELECT label FROM (
        SELECT c.label, {_SQL_COS.format(a="c.centroid", b="q.qe")} AS sim
        FROM cent c, q)
      ORDER BY sim DESC, label ASC LIMIT {nprobe}),
    scored AS (
      SELECT a.vec_id, a.label,
             round({_SQL_COS.format(a="a.emb", b="q.qe")}, 6) AS cos
      FROM e a JOIN target t ON a.label = t.label, q
      WHERE a.vec_id <> 0)
    SELECT vec_id, label, cos,
           row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
    FROM (SELECT * FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 5)
"""


ORACLES["ann_ivf_topk"] = _sql_ivf(1)
ORACLES["ann_ivf_multiprobe"] = _sql_ivf(2)


def _sql_kmeans() -> str:
    """ann_ivf_kmeans has fixed K=8 and exactly 3 Lloyd iterations, so the
    oracle unrolls them as chained CTEs (assignment a{i} from centroids
    c{i-1}, new centroids c{i} from a{i})."""
    d2 = (
        "list_sum(list_transform(range(1, 65), "
        "i -> (e.emb[i] - c.centroid[i]) * (e.emb[i] - c.centroid[i])))"
    )
    assign = """
      SELECT vec_id, emb, cid FROM (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d2} ASC, c.cid ASC) AS rn
        FROM e, {cents} c)
      WHERE rn = 1"""
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings)",
        "c0 AS (SELECT vec_id::INT AS cid, emb AS centroid FROM e WHERE vec_id < 8)",
    ]
    for it in range(1, 4):
        ctes.append(f"a{it} AS ({assign.format(d2=d2, cents=f'c{it - 1}')})")
        ctes.append(f"c{it} AS ({_sql_centroids(f'a{it}', 'cid')})")
    ctes.append("q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)")
    ctes.append(f"""qcid AS (
      SELECT cid FROM (
        SELECT c.cid, {_SQL_COS.format(a="c.centroid", b="q.qe")} AS sim
        FROM c3 c, q)
      ORDER BY sim DESC, cid ASC LIMIT 1)""")
    ctes.append(f"a4 AS ({assign.format(d2=d2, cents='c3')})")
    ctes.append(f"""scored AS (
      SELECT m.vec_id, round({_SQL_COS.format(a="m.emb", b="q.qe")}, 6) AS cos
      FROM a4 m JOIN qcid ON m.cid = qcid.cid, q
      WHERE m.vec_id <> 0)""")
    return (
        "WITH " + ",\n".join(ctes) + """
    SELECT vec_id, cos,
           row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
    FROM (SELECT * FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 5)
    """
    )


ORACLES["ann_ivf_kmeans"] = _sql_kmeans()


def _sql_ivf_scaled() -> str:
    """ann_ivf_scaled: 16x in-query corpus expansion (exact 0.25-step
    perturbations), K=8 seeded from replica 0 of the first 8 base vectors,
    2 unrolled Lloyd iterations, nprobe=2 probe, top-5."""
    d2 = (
        "list_sum(list_transform(range(1, 65), "
        "i -> (e.emb[i] - c.centroid[i]) * (e.emb[i] - c.centroid[i])))"
    )
    assign = """
      SELECT vec_id, emb, cid FROM (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d2} ASC, c.cid ASC) AS rn
        FROM e, {cents} c)
      WHERE rn = 1"""
    ctes = [
        """e AS (
          SELECT b.vec_id * 16 + r.r AS vec_id,
                 list_transform(range(1, len(b.embedding) + 1),
                                i -> b.embedding[i]::DOUBLE
                                     + ((r.r * (i - 1)) % 8) * 0.25) AS emb
          FROM embeddings b, (SELECT unnest(range(0, 16)) AS r) r)""",
        "c0 AS (SELECT (vec_id // 16)::INT AS cid, emb AS centroid "
        "FROM e WHERE vec_id % 16 = 0 AND vec_id < 128)",
    ]
    for it in range(1, 3):
        ctes.append(f"a{it} AS ({assign.format(d2=d2, cents=f'c{it - 1}')})")
        ctes.append(f"c{it} AS ({_sql_centroids(f'a{it}', 'cid')})")
    ctes.append("q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)")
    ctes.append(f"""qcid AS (
      SELECT cid FROM (
        SELECT c.cid, {_SQL_COS.format(a="c.centroid", b="q.qe")} AS sim
        FROM c2 c, q)
      ORDER BY sim DESC, cid ASC LIMIT 2)""")
    ctes.append(f"a3 AS ({assign.format(d2=d2, cents='c2')})")
    ctes.append(f"""scored AS (
      SELECT m.vec_id, round({_SQL_COS.format(a="m.emb", b="q.qe")}, 6) AS cos
      FROM a3 m JOIN qcid ON m.cid = qcid.cid, q
      WHERE m.vec_id <> 0)""")
    return (
        "WITH " + ",\n".join(ctes) + """
    SELECT vec_id, cos,
           row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
    FROM (SELECT * FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 5)
    """
    )


ORACLES["ann_ivf_scaled"] = _sql_ivf_scaled()


# ---------------------------------------------------------------------------
# TPC-H Q7 shape — cross-nation shipping volume (the multi-join + derived
# grouping showcase: 4 fact/dim joins, nation pair + ship year rollup)
@register(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, y,
           round(sum(volume), 2)::DOUBLE AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS INT) AS y,
             CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS volume
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE n1.n_name <> n2.n_name)
    GROUP BY supp_nation, cust_nation, y
    """,
)
def q7_nation_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(s, s["s_suppkey"] == li["l_suppkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n1), F.col("n1_key") == s["s_nationkey"])
        .join(F.broadcast(n2), F.col("n2_key") == c["c_nationkey"])
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("y"),
        )
        .agg(
            _money(F.sum(_disc_rev())).alias("revenue")
        )
    )


# TPC-H Q10 shape — returned-item revenue per customer, top 20
@register(
    "q10_returned_revenue",
    """
    SELECT c_custkey, c_name, n_name, revenue,
           row_number() OVER (ORDER BY revenue DESC, c_custkey ASC) AS rank
    FROM (
      SELECT c.c_custkey, c.c_name, n.n_name,
             round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS revenue
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE l.l_returnflag = 'R'
      GROUP BY c.c_custkey, c.c_name, n.n_name)
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q10_returned_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    agg = (
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _money(F.sum(_disc_rev())).alias("revenue")
        )
    )
    top = agg.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))  # 20 rows only
    return top.select("c_custkey", "c_name", "n_name", "revenue").withColumn(
        "rank", F.row_number().over(w)
    )


# TPC-H Q13 shape — customer order-count distribution (the OUTER-join
# aggregate: customers with zero orders must appear in the histogram)
@register(
    "q13_order_distribution",
    """
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def q13_order_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# TPC-H Q22 shape (adapted: no phone column in the -ish schema, so the
# country-code gate becomes the nation key) — above-average-balance
# customers with NO orders: scalar subquery + ANTI join per nation
@register(
    "q22_idle_customers",
    """
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0)
    SELECT c_nationkey, count(*)::BIGINT AS numcust,
           round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2)::DOUBLE AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
    """,
)
def q22_idle_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, o["o_custkey"] == c["c_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            _money(F.sum(_dec("c_acctbal"))).alias("totacctbal"),
        )
    )


# TPC-H Q8 shape — national market share: PROMO-part revenue sold to ASIA
# customers, share attributable to NATION_5 suppliers, per order year.
# Scale shape: dims (part filter, customer->nation->region, supplier
# nation) all broadcast; one shuffle for the year rollup; the share is a
# conditional-sum ratio in ONE aggregation pass.
@register(
    "q8_market_share",
    """
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS volume,
             n2.n_name AS nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO')
    GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    cust_asia = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r.where(F.col("r_name") == "ASIA")),
              n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey")
    )
    supp_n = (
        s.join(F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"),
                                    F.col("n_name").alias("nation"))),
               s["s_nationkey"] == F.col("sn_key"))
        .select("s_suppkey", "nation")
    )
    vol = _disc_rev()
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust_asia, o["o_custkey"] == cust_asia["c_custkey"], "left_semi")
        .join(F.broadcast(p.where(F.col("p_type") == "PROMO").select("p_partkey")),
              li["l_partkey"] == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(supp_n), li["l_suppkey"] == supp_n["s_suppkey"])
        .select(F.year("o_orderdate").alias("o_year"),
                vol.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_5", F.col("volume"))
                      .otherwise(_dec(F.lit(0)))).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


# TPC-H Q15 shape — top supplier(s) by shipped revenue in 1996Q1: the
# revenue view + max selection, collect-free (1-row max broadcast back).
@register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS total_rev_d
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev_d AS DOUBLE) AS total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev_d = (SELECT max(total_rev_d) FROM rev)
    """,
)
def q15_top_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(_disc_rev()), 2).alias("total_rev_d"))
    )
    mx = rev.agg(F.max("total_rev_d").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev_d") == F.col("_mx"))
        .join(F.broadcast(s), s["s_suppkey"] == F.col("supplier_no"))
        .select("s_suppkey", "s_name",
                F.col("total_rev_d").cast("double").alias("total_revenue"))
    )


# TPC-H Q17 shape — small-quantity-order revenue: per-part average
# quantity (EXACT across engines: integer sums < 2^53) joined back, the
# 0.2x gate, one global sum. The per-part avg broadcasts (part-count
# rows); no correlated-subquery re-scan.
@register(
    "q17_small_qty_revenue",
    """
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_gate
          FROM lineitem GROUP BY l_partkey) g
      ON l.l_partkey = g.l_partkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < g.qty_gate
    """,
)
def q17_small_qty_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    gate = (
        li.groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_gate"))
        .withColumnRenamed("l_partkey", "g_partkey")
    )
    return (
        li.join(F.broadcast(p.where(F.col("p_brand") == "Brand#1")
                            .select("p_partkey")),
                li["l_partkey"] == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(gate), li["l_partkey"] == F.col("g_partkey"))
        .where(F.col("l_quantity") < F.col("qty_gate"))
        .agg(F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 2)
             .alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# PageRank — the canonical frontier-priority signal (operators/pagerank.py:
# iterative power method, dangling mass redistributed, localCheckpoint per
# iteration). Like ann_ivf_kmeans, the fixed 3 iterations unroll into
# chained DuckDB CTEs. The link graph derives deterministically from
# doc_ids (two affine out-edges per doc into the 0..499 core, self-loops
# dropped) so both engines build the identical graph at every sf.
def _sql_pagerank() -> str:
    edges = """SELECT src, dst FROM (
        SELECT doc_id AS src, (doc_id*31+7) % 500 AS dst FROM documents
        UNION
        SELECT doc_id, (doc_id*17+3) % 500 FROM documents) WHERE src <> dst"""
    ctes = [
        "v AS (SELECT doc_id AS id FROM documents)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM v)",
        f"e AS ({edges})",
        "deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src)",
        "r0 AS (SELECT id, 1.0/nn.n AS rank FROM v, nn)",
    ]
    for i in range(1, 4):
        p = f"r{i - 1}"
        ctes.append(
            f"""d{i} AS (SELECT coalesce(sum(rank), 0) AS dm
            FROM {p} WHERE id NOT IN (SELECT src FROM deg))"""
        )
        ctes.append(
            f"""inc{i} AS (SELECT e.dst AS id, sum(r.rank / deg.deg) AS inc
            FROM e JOIN {p} r ON r.id = e.src JOIN deg ON deg.src = e.src
            GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{i} AS (SELECT v.id,
            0.15/nn.n + 0.85*(coalesce(inc{i}.inc, 0) + d{i}.dm/nn.n) AS rank
            FROM v CROSS JOIN nn CROSS JOIN d{i}
            LEFT JOIN inc{i} ON inc{i}.id = v.id)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT id AS doc_id, round(rank, 8) AS rank FROM r3"
    )


@register("doc_pagerank", _sql_pagerank())
def doc_pagerank(spark, sf_dir):
    from web_scraper_spark.operators.pagerank import pagerank

    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    e1 = d.select(
        F.col("id").alias("src"), ((F.col("id") * 31 + 7) % 500).alias("dst")
    )
    e2 = d.select(
        F.col("id").alias("src"), ((F.col("id") * 17 + 3) % 500).alias("dst")
    )
    edges = (
        e1.unionByName(e2)
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    r = pagerank(d, edges, iterations=3)
    return r.select(F.col("id").alias("doc_id"), F.round("rank", 8).alias("rank"))


# ---------------------------------------------------------------------------
# Benchmark decontamination — flag training docs sharing any word n-gram
# with a benchmark/eval set (the standard leakage gate in LLM data
# pipelines; real deployments use n in 8..13 — this synthetic word-soup
# corpus only collides at n=3, so the contract pins the machinery at
# n=3 and n stays a parameter). Scale shape: benchmark grams hash to a
# small distinct set (broadcast); the corpus explodes to (doc_id,
# gram-hash) and semi-joins it — one shuffle for the per-doc counts,
# never doc-by-benchmark pairs.
@register(
    "decontaminate_ngrams",
    f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               [array_to_string(words[i:i+2], ' ')
                for i in range(1, greatest(len(words) - 1, 2))],
               s -> {_SQL_H60.format("s")} % {_MERSENNE})) AS gh
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents)
    ),
    bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0)
    SELECT doc_id, count(DISTINCT gh) AS shared_grams
    FROM g JOIN bench USING (gh)
    WHERE doc_id % 97 <> 0
    GROUP BY doc_id
    """,
)
def decontaminate_ngrams(spark, sf_dir):
    # r6 scan-parallelism floor (guide §6): per-row compute here
    # dwarfs the scan's byte cost and the compressed corpus file
    # splits into 1-2 partitions; no-op on well-split inputs
    d = _floor_parallelism(_t(spark, sf_dir, "documents"))
    grams = F.transform(_shingles(_words(F.col("text"))), lambda s: hash60(s) % _MERSENNE)
    g = d.select("doc_id", F.explode(grams).alias("gh"))
    bench = (
        g.where(F.col("doc_id") % 97 == 0).select("gh").dropDuplicates(["gh"])
    )
    return (
        g.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(F.countDistinct("gh").alias("shared_grams"))
    )


# ---------------------------------------------------------------------------
# Duplicate-PASSAGE detection (Lee et al. 2022-style span dedup, the
# intra-corpus sibling of decontaminate_ngrams): a token 8-gram window is
# a duplicate passage if its hash occurs in >= 2 DISTINCT documents; each
# doc reports how much of it is duplicated material. Scale shape: corpus
# explodes to (doc, gram-hash) positions, ONE shuffle groups by hash for
# the distinct-doc count, one more keyed join back — never doc x doc
# pairs, skew-free (gram hashes are uniform). The 0.2 floor keeps the
# output at flagged-docs scale, not corpus scale.
_PASSAGE_W = 8  # tokens per window


def _passage_grams(words):
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (_PASSAGE_W - 1), F.lit(1))),
        lambda i: hash60(F.concat_ws(" ", F.slice(words, i, _PASSAGE_W))),
    )


@register(
    "dedup_passages",
    f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               [array_to_string(words[i:i+{_PASSAGE_W - 1}], ' ')
                for i in range(1, greatest(len(words) - {_PASSAGE_W - 2}, 2))],
               s -> {_SQL_H60.format("s")})) AS gh
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents)
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
    per_doc AS (
      SELECT g.doc_id, count(*) AS dup_grams
      FROM g JOIN dup USING (gh) GROUP BY g.doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS total_grams FROM g GROUP BY doc_id)
    SELECT t.doc_id, t.total_grams, p.dup_grams,
           round(p.dup_grams / t.total_grams, 6) AS dup_frac
    FROM totals t JOIN per_doc p ON t.doc_id = p.doc_id
    WHERE p.dup_grams / t.total_grams >= 0.2
    """,
)
def dedup_passages(spark, sf_dir):
    # Perf shape (r5, measured at a 160k-doc corpus): (a) hash on FLAT
    # columns after exploding window-start positions — the transform()-
    # lambda formulation evaluates interpreted (higher-order functions
    # are outside whole-stage codegen) and ran ~50x slower; (b) ONE gram
    # scan + two slim shuffles (gh window for the distinct-doc count,
    # doc_id rollup) instead of three independent scans of the gram
    # subtree (dup / per_doc / totals each re-exploded + re-hashed).
    # Values are identical to the original 3-scan plan (integer counts).
    d = _t(spark, sf_dir, "documents")
    # r6: scan-parallelism floor — the per-gram md5 below is ~50x the
    # scan's byte cost, and the compressed corpus file splits into only
    # 1-2 partitions, single-threading the whole gram stage (measured
    # 12.0 -> 3.1 s at the 160k-doc bench corpus; no-op on well-split
    # inputs). Values identical: grams/hashes are per-row.
    words = _floor_parallelism(d.select("doc_id", "text")).select(
        "doc_id", _words(F.col("text")).alias("words")
    )
    g = (
        words.select(
            "doc_id",
            "words",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("words") - (_PASSAGE_W - 1), F.lit(1)),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            hash60(
                F.concat_ws(" ", F.slice(F.col("words"), F.col("i"), _PASSAGE_W))
            ).alias("gh"),
        )
    )
    w = Window.partitionBy("gh")
    flagged = g.withColumn("nd", F.size(F.collect_set("doc_id").over(w)))
    per = flagged.groupBy("doc_id").agg(
        F.count("*").alias("total_grams"),
        F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("dup_grams"),
    )
    return (
        per.where(F.col("dup_grams") / F.col("total_grams") >= 0.2)
        .select(
            "doc_id",
            "total_grams",
            "dup_grams",
            F.round(F.col("dup_grams") / F.col("total_grams"), 6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 top-k document ranking — the retrieval primitive a training-data
# pipeline uses for targeted corpus slicing (and the lexical half of
# hybrid search next to ann_*). Okapi BM25, k1=1.2 b=0.75, fixed query
# terms (shared literal with the oracle). Scale shape: tokens explode and
# filter to the broadcastable query vocabulary FIRST (the explode output
# is |query|-bounded per doc, not vocab-bounded), tf/df are one groupBy
# each, the scalar (N, avgdl) aggregate broadcasts via a 1-row cross
# join (collect-free), and the final ranking is a distributed
# TakeOrderedAndProject.
_BM25_TERMS = ("hash", "join", "vector")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_ranked(spark, sf_dir):
    """(doc_id, score, rank) — BM25 top-10, shared by text_bm25_topk and
    the hybrid RRF query."""
    d = _t(spark, sf_dir, "documents")
    docs = d.select("doc_id", _words(F.col("text")).alias("words"))
    stats = docs.agg(
        F.count("*").cast("double").alias("n"),
        F.avg(F.size("words")).alias("avgdl"),
    )
    # r6: superset substring pre-filter before the tokenize+explode — a
    # doc can only contribute a query token if that token appears as a
    # substring of its raw text, so contains() drops non-candidates
    # before the expensive split/explode and the exact isin() keeps the
    # values identical (measured 3.1 -> 2.0 s at the 160k-doc corpus
    # even at 96% match rate; the win grows as the query vocabulary gets
    # rarer, which is the production case).
    anyterm = None
    for _term in _BM25_TERMS:
        _c = F.col("text").contains(_term)
        anyterm = _c if anyterm is None else (anyterm | _c)
    tf = (
        d.select("doc_id", "text")
        .where(anyterm)
        .select("doc_id", F.explode(_words(F.col("text"))).alias("token"))
        .where(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df_t = tf.groupBy("token").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    dl = docs.select("doc_id", F.size("words").cast("double").alias("dl"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
            * F.col("tf") * F.lit(_BM25_K1 + 1)
            / (F.col("tf") + F.lit(_BM25_K1)
               * (F.lit(1 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))  # over 10 rows only
    return top.withColumn("rank", F.row_number().over(w))


_SQL_BM25_RANKED = f"""
    WITH docs AS (
      SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
    ),
    stats AS (
      SELECT count(*)::DOUBLE AS n, avg(len(words))::DOUBLE AS avgdl FROM docs
    ),
    tf AS (
      SELECT doc_id, token, count(*)::DOUBLE AS tf
      FROM (SELECT doc_id, unnest(words) AS token FROM docs)
      WHERE token IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1)
                 * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                    + {_BM25_B} * len(d.words) / s.avgdl))) AS score
      FROM tf JOIN df USING (token) JOIN docs d ON tf.doc_id = d.doc_id, stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 6) AS score,
           row_number() OVER (ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
    FROM (SELECT * FROM scored ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10)
    """


@register("text_bm25_topk", _SQL_BM25_RANKED)
def text_bm25_topk(spark, sf_dir):
    return _bm25_ranked(spark, sf_dir)


# ---------------------------------------------------------------------------
# Hybrid search — reciprocal-rank fusion (RRF, k=60) of the lexical BM25
# top-10 and the dense cosine top-10 (embeddings vec_id == documents
# doc_id in the testdata). fused = Σ 1/(60 + rank) over the lists that
# contain the doc — the standard score-free fusion that needs no
# cross-modal calibration. Both inputs are k-row lists by construction,
# so the fusion join is trivially broadcastable; all the heavy lifting
# stays inside the two already-distributed retrieval plans.
_RRF_K = 60


@register(
    "hybrid_search_rrf",
    f"""
    WITH lex AS ({_SQL_BM25_RANKED}),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT vec_id AS doc_id, rank FROM (
        SELECT a.vec_id,
               row_number() OVER (ORDER BY round(
                 list_sum(list_transform(range(1, 65),
                          i -> a.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)) /
                 (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
                  sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) DESC,
                 a.vec_id ASC) AS rank
        FROM embeddings a, q WHERE a.vec_id <> 0)
      WHERE rank <= 10
    ),
    fused AS (
      SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
             round(coalesce(1.0 / ({_RRF_K} + l.rank), 0)
                   + coalesce(1.0 / ({_RRF_K} + d.rank), 0), 6) AS fused_score
      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, fused_score,
           row_number() OVER (ORDER BY fused_score DESC, doc_id ASC) AS rank
    FROM (SELECT * FROM fused ORDER BY fused_score DESC, doc_id ASC LIMIT 10)
    """,
)
def hybrid_search_rrf(spark, sf_dir):
    lex = _bm25_ranked(spark, sf_dir).select("doc_id", F.col("rank").alias("lr"))
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    dense_top = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(10)
    )
    wd = Window.orderBy(F.desc("cos"), F.asc("doc_id"))  # over 10 rows only
    dense = dense_top.withColumn("dr", F.row_number().over(wd)).select("doc_id", "dr")
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("lr")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("dr")), F.lit(0.0)),
                6,
            ).alias("fused_score"),
        )
    )
    top = fused.orderBy(F.desc("fused_score"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("fused_score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Intra-document repetition score (Gopher/C4-style quality gate: a doc
# whose word 3-grams repeat heavily is boilerplate/spam). rep_frac =
# (total - distinct) / total 3-grams PER DOC — the within-doc sibling of
# dedup_passages' cross-doc span detection. Scale shape: explode window
# positions (codegen — r5 discipline, no transform() lambda on the hot
# path), hash on flat columns, ONE groupBy(doc_id) carrying
# count + approx-free countDistinct. New in r5: registered OUTSIDE the
# driver window (position 88+), rotates in at r6.
@register(
    "text_repetition_score",
    f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               [array_to_string(words[i:i+2], ' ')
                for i in range(1, greatest(len(words) - 1, 2))],
               s -> {_SQL_H60.format("s")})) AS gh
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents)
    )
    SELECT doc_id,
           count(*) AS total_grams,
           count(DISTINCT gh) AS distinct_grams,
           round((count(*) - count(DISTINCT gh)) * 1.0 / count(*), 6) AS rep_frac
    FROM g GROUP BY doc_id
    """,
)
def text_repetition_score(spark, sf_dir):
    # r6 scan-parallelism floor (guide §6): per-row compute here
    # dwarfs the scan's byte cost and the compressed corpus file
    # splits into 1-2 partitions; no-op on well-split inputs
    d = _floor_parallelism(_t(spark, sf_dir, "documents"))
    words = d.select("doc_id", _words(F.col("text")).alias("words"))
    g = (
        words.select(
            "doc_id",
            "words",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("words") - 2, F.lit(1)))
            ).alias("i"),
        )
        .select(
            "doc_id",
            hash60(F.concat_ws(" ", F.slice(F.col("words"), F.col("i"), 3))).alias("gh"),
        )
    )
    return g.groupBy("doc_id").agg(
        F.count("*").alias("total_grams"),
        F.countDistinct("gh").alias("distinct_grams"),
        F.round(
            (F.count("*") - F.countDistinct("gh")) * F.lit(1.0) / F.count("*"), 6
        ).alias("rep_frac"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing — redact emails / NANP phone shapes before training (the
# standard pre-training privacy pass). The word-soup corpus has no PII,
# so the query injects synthetic markers deterministically by doc_id
# (shared literal with the oracle), then scrubs with RE2-and-Java-safe
# patterns (no lookaround, ASCII classes). Scale shape: pure per-row
# Catalyst regexp_replace/extract_all — embarrassingly parallel, no
# shuffle at all. New in r5: outside the driver window, rotates in r6.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"


@register(
    "text_scrub_pii",
    f"""
    WITH injected AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' contact user' || doc_id || '@example.com now'
                          WHEN doc_id % 3 = 1
                          THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-4567'
                          ELSE '' END AS text
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed
    FROM injected
    """,
)
def text_scrub_pii(spark, sf_dir):
    # r6 scan-parallelism floor (guide §6): per-row compute here
    # dwarfs the scan's byte cost and the compressed corpus file
    # splits into 1-2 partitions; no-op on well-split inputs
    d = _floor_parallelism(_t(spark, sf_dir, "documents"))
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.com now")),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-4567"),
                ),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return injected.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_PHONE), 0)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ).alias("scrubbed"),
    )


# ---------------------------------------------------------------------------
# Line-level corpus dedup with document reconstruction (CCNet/RefinedWeb
# boilerplate-line removal) — the write-path half that dedup_passages
# (detection-only) doesn't do: drop every "line" that appears in >= 3
# distinct documents, then REASSEMBLE each document from its kept lines.
# The synthetic corpus has no newlines, so a "line" is a non-overlapping
# 8-word segment (boundary chunking documented here and in the oracle);
# a shared 8-word boilerplate header is prepended to doc_id%4==0 docs
# (shared literal with the oracle) so the scrub is non-vacuous at every
# SF — exactly 8 words keeps the original chunk alignment intact.
# Scale shape: ONE segment explode, frequency via a gh-keyed window
# (same slim shuffle as dedup_passages), reconstruction via
# sort_array(collect_list(struct(i, seg))) — per-doc payload only, no
# all-pairs anywhere, no interpreted HOF on the corpus-scale path
# (field extraction `arr.seg` is Catalyst ExtractValue, not a lambda).
_LINE_W = 8
_LINE_BOILER = "subscribe to our newsletter today for free offers"


@register(
    "dedup_line_scrub",
    f"""
    WITH docs AS (
      SELECT doc_id,
             string_split(CASE WHEN doc_id % 4 = 0
                               THEN '{_LINE_BOILER} ' || trim(text)
                               ELSE trim(text) END, ' ') AS words
      FROM documents),
    segs AS (
      SELECT doc_id, i,
             array_to_string(words[(i-1)*{_LINE_W}+1:(i-1)*{_LINE_W}+{_LINE_W}], ' ') AS seg
      FROM (SELECT doc_id, words,
                   unnest(range(1, greatest(CAST(ceil(len(words)/{_LINE_W}.0) AS BIGINT), 1)+1)) AS i
            FROM docs)),
    freq AS (
      SELECT {_SQL_H60.format("seg")} AS gh, count(DISTINCT doc_id) AS nd
      FROM segs GROUP BY 1),
    flag AS (
      SELECT s.doc_id, s.i, s.seg, f.nd
      FROM segs s JOIN freq f ON {_SQL_H60.format("s.seg")} = f.gh)
    SELECT doc_id, count(*) AS n_segs,
           CAST(sum(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS removed_segs,
           {_SQL_H60.format("coalesce(string_agg(CASE WHEN nd < 3 THEN seg END, ' ' ORDER BY i), '')")} AS scrubbed_hash
    FROM flag GROUP BY doc_id
    """,
)
def dedup_line_scrub(spark, sf_dir):
    # r6 scan-parallelism floor (guide §6): per-row compute here
    # dwarfs the scan's byte cost and the compressed corpus file
    # splits into 1-2 partitions; no-op on well-split inputs
    d = _floor_parallelism(_t(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id",
        _words(
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit(_LINE_BOILER + " "), F.trim(F.col("text"))),
            ).otherwise(F.trim(F.col("text")))
        ).alias("words"),
    )
    segs = (
        words.select(
            "doc_id",
            "words",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.ceil(F.size("words") / F.lit(float(_LINE_W))).cast("int"),
                        F.lit(1),
                    ),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.concat_ws(
                " ", F.slice(F.col("words"), (F.col("i") - 1) * _LINE_W + 1, _LINE_W)
            ).alias("seg"),
        )
    )
    w = Window.partitionBy(hash60(F.col("seg")))
    flagged = segs.withColumn("nd", F.size(F.collect_set("doc_id").over(w)))
    kept = F.when(F.col("nd") < 3, F.struct(F.col("i"), F.col("seg")))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(F.when(F.col("nd") >= 3, 1).otherwise(0)).alias("removed_segs"),
            F.sort_array(F.collect_list(kept)).alias("kept_segs"),
        )
        .select(
            "doc_id",
            "n_segs",
            "removed_segs",
            hash60(F.concat_ws(" ", F.col("kept_segs.seg"))).alias("scrubbed_hash"),
        )
    )


# ---------------------------------------------------------------------------
# ANN over int8 scalar-quantized embeddings — the memory/bandwidth lever
# of vector search at corpus scale (float32 -> int8 is a 4x cut in scan
# bytes before any index structure). Symmetric quantization: one global
# scale s = max|v| over the corpus (a 1-row aggregate, broadcast via
# crossJoin — collect-free), q_i = round(v_i / s * 127); scoring is the
# EXACT integer dot product of quantized vectors, so the contract value
# is a BIGINT with no float-compare hazard. All 64 dims unrolled as flat
# codegen-able expressions (HOF lambdas evaluate interpreted — the
# r5 discipline); top-k is a distributed TakeOrderedAndProject, never a
# single-partition global sort. round() emits an integral-valued double
# on both engines BEFORE the int cast, so the cast is unambiguous
# (DuckDB double->BIGINT rounds ties-to-even; never cast a fractional
# double cross-engine).
_QDIM = 64


def _q8(col: Column, scale: Column) -> Column:
    return F.round(col.cast("double") / scale * 127, 0).cast("long")


@register(
    "ann_int8_topk",
    f"""
    WITH s AS (
      SELECT max(greatest({", ".join(f"abs(embedding[{i+1}]::DOUBLE)" for i in range(_QDIM))})) AS maxabs
      FROM embeddings),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT a.vec_id, a.label,
             ({" + ".join(
                 f"CAST(round(a.embedding[{i+1}]::DOUBLE / s.maxabs * 127) AS BIGINT)"
                 f" * CAST(round(q.embedding[{i+1}]::DOUBLE / s.maxabs * 127) AS BIGINT)"
                 for i in range(_QDIM))}) AS qdot
      FROM embeddings a, q, s WHERE a.vec_id <> 0)
    SELECT vec_id, label, qdot,
           row_number() OVER (ORDER BY qdot DESC, vec_id ASC) AS rank
    FROM (SELECT * FROM scored ORDER BY qdot DESC, vec_id ASC LIMIT 10)
    """,
)
def ann_int8_topk(spark, sf_dir):
    # The dot product is staged as 8 partial-sum COLUMNS of 8 terms each,
    # then summed — NOT one 64-term expression: a single ~400-node chain
    # exceeds janino's 64 KB method limit, whole-stage codegen fails to
    # compile (ERROR CodeGenerator), and the whole scan silently drops to
    # interpreted eval (measured at a 16k-vector corpus; the split
    # compiles clean with bit-identical output). Same integer math, same
    # left-assoc order within and across chunks.
    e = _t(spark, sf_dir, "embeddings")
    maxabs = F.greatest(
        *[F.abs(F.col("embedding")[i].cast("double")) for i in range(_QDIM)]
    )
    stats = e.agg(F.max(maxabs).alias("maxabs"))
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    j = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(stats))
    )
    chunk = 8

    def psum(lo: int, hi: int) -> Column:
        terms = [
            _q8(F.col("embedding")[i], F.col("maxabs"))
            * _q8(F.col("q_emb")[i], F.col("maxabs"))
            for i in range(lo, hi)
        ]
        s = terms[0]
        for t in terms[1:]:
            s = s + t
        return s

    parts = j.select(
        "vec_id",
        "label",
        *[psum(c, c + chunk).alias(f"_s{c}") for c in range(0, _QDIM, chunk)],
    )
    qdot = F.col("_s0")
    for c in range(chunk, _QDIM, chunk):
        qdot = qdot + F.col(f"_s{c}")
    top = (
        parts.select("vec_id", "label", qdot.alias("qdot"))
        .orderBy(F.desc("qdot"), F.asc("vec_id"))
        .limit(10)
    )
    w = Window.orderBy(F.desc("qdot"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Corpus-statistics quality filter — rare-token scoring (the CCNet-style
# "LM surprise" stage, exact-arithmetic formulation). Unlike
# text_quality_score (per-doc heuristics), this one needs GLOBAL corpus
# statistics: a token-frequency table (one vocab-bounded groupBy) joined
# back to the exploded tokens (shuffle keyed on token — both sides
# already partitioned by the groupBy key), plus a 1-row total broadcast.
# "Rare" is RELATIVE (count < total/1000), so the query is scale-
# invariant and non-vacuous at every SF; a long-tail marker token
# ("xq" || doc_id % 97) is appended per doc (shared literal with the
# oracle) since the word-soup vocab has no natural tail. All contract
# values are exact BIGINTs or a round()-of-identical-IEEE-division —
# no log()/ulp hazard (the q7 lesson applied pre-emptively).
@register(
    "text_unigram_rarity",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text) || ' xq' || CAST(doc_id % 97 AS VARCHAR), ' ')) AS token
      FROM documents),
    freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    tot AS (SELECT count(*) AS total FROM toks)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN f.cnt < tot.total / 1000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           min(f.cnt) AS min_count,
           round(CAST(sum(CASE WHEN f.cnt < tot.total / 1000.0 THEN 1 ELSE 0 END) AS BIGINT)
                 / count(*), 6) AS rare_frac
    FROM toks t JOIN freq f USING (token), tot
    GROUP BY t.doc_id
    """,
)
def text_unigram_rarity(spark, sf_dir):
    # r6 scan-parallelism floor (guide §6): per-row compute here
    # dwarfs the scan's byte cost and the compressed corpus file
    # splits into 1-2 partitions; no-op on well-split inputs
    d = _floor_parallelism(_t(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.explode(
            _words(
                F.concat(
                    F.trim(F.col("text")),
                    F.lit(" xq"),
                    (F.col("doc_id") % 97).cast("string"),
                )
            )
        ).alias("token"),
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    tot = toks.agg(F.count("*").alias("total"))
    rare = F.when(F.col("cnt") < F.col("total") / 1000.0, 1).otherwise(0)
    return (
        toks.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(rare).alias("n_rare"),
            F.min("cnt").alias("min_count"),
            F.round(F.sum(rare) / F.count("*"), 6).alias("rare_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic decontamination — the embedding-space complement to
# decontaminate_ngrams: flag every corpus vector whose cosine similarity
# to ANY benchmark vector clears the threshold (paraphrased eval leakage
# that n-gram overlap misses). Benchmark set = vec_ids 0-2 (3 rows,
# broadcast); threshold 0.35 (the corpus's structureless-embedding
# ceiling is ~0.48, so the report is non-vacuous — memory note r2).
# Scale shape: corpus x |benchmark| via a broadcast nested loop (the
# benchmark side is eval suites — thousands of rows at worst), per-key
# argmax over a BOUNDED 3-candidate window, never corpus x corpus. The
# dot accumulates in element order on both engines (bit-identical), so
# the >= threshold cut is deterministic cross-engine.
_DECON_BENCH_IDS = (0, 1, 2)
_DECON_TAU = 0.35


@register(
    "decontaminate_semantic",
    f"""
    WITH bench AS (
      SELECT vec_id AS bench_id, embedding AS b_emb FROM embeddings
      WHERE vec_id IN {str(_DECON_BENCH_IDS)}),
    scored AS (
      SELECT a.vec_id, a.label, b.bench_id,
             list_sum(list_transform(range(1, 65),
                      i -> a.embedding[i]::DOUBLE * b.b_emb[i]::DOUBLE)) /
             (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
              sqrt(list_sum(list_transform(b.b_emb, x -> x::DOUBLE * x::DOUBLE)))) AS cos
      FROM embeddings a, bench b
      WHERE a.vec_id NOT IN {str(_DECON_BENCH_IDS)}),
    best AS (
      SELECT vec_id, label, bench_id, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, bench_id DESC) AS rn
      FROM scored)
    SELECT vec_id, label, bench_id, round(cos, 6) AS cos
    FROM best WHERE rn = 1 AND cos >= {_DECON_TAU}
    """,
)
def decontaminate_semantic(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    bench = e.where(F.col("vec_id").isin(*_DECON_BENCH_IDS)).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("b_emb")
    )
    scored = (
        # r6 scan-parallelism floor: the 64-dim cosine map below is far
        # heavier than the packed-vector scan's bytes (guide §6)
        _floor_parallelism(e.where(~F.col("vec_id").isin(*_DECON_BENCH_IDS)))
        .crossJoin(F.broadcast(bench))
        .select(
            "vec_id",
            "label",
            "bench_id",
            cosine(F.col("embedding"), F.col("b_emb")).alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.desc("bench_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("cos") >= _DECON_TAU))
        .select("vec_id", "label", "bench_id", F.round("cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# Sequence packing — concat-and-chunk documents into fixed-token-budget
# training sequences (the GPT-style packer: shard-local doc order,
# cumulative token offsets, sequence id = start_offset // budget; a doc
# whose token span crosses a budget boundary "straddles" and is split at
# materialization time).  Scale shape: the running sum windows over
# SHARDS (doc_id % 8 here; in production the shard count ~= cluster
# parallelism), so the only shuffle is the shard hash partition and each
# shard's ordered window sorts locally — never a global single-partition
# ordered window.  Packing shard-locally is also what a real pipeline
# does: training shards are independent files, so offsets only need to
# be consistent WITHIN a shard.
_PACK_BUDGET = 64
_PACK_SHARDS = 8


@register(
    "pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             len(string_split(trim(text), ' '))::BIGINT AS n_tokens
      FROM documents),
    cum AS (
      SELECT *,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING)
                  - n_tokens AS BIGINT) AS start_off
      FROM toks)
    SELECT shard, doc_id, n_tokens,
           start_off // {_PACK_BUDGET} AS seq_id,
           start_off % {_PACK_BUDGET} AS seq_offset,
           CAST(CASE WHEN start_off % {_PACK_BUDGET} + n_tokens > {_PACK_BUDGET}
                     THEN 1 ELSE 0 END AS BIGINT) AS straddles
    FROM cum
    """,
)
def pack_sequences(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(_words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = toks.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    off = F.col("start_off") % _PACK_BUDGET
    return cum.select(
        "shard",
        "doc_id",
        "n_tokens",
        F.floor(F.col("start_off") / _PACK_BUDGET).cast("long").alias("seq_id"),
        off.alias("seq_offset"),
        F.when(off + F.col("n_tokens") > _PACK_BUDGET, 1)
        .otherwise(0)
        .cast("long")
        .alias("straddles"),
    )


# ---------------------------------------------------------------------------
# Corpus mixture resampling — rebalance source contributions by token
# mass with temperature-0.5 rates (rate_s = sqrt(min_tokens / tokens_s):
# the heaviest sources are downsampled toward token parity, softened by
# the square root exactly like multilingual-corpus temperature
# sampling).  Selection is a deterministic hash Bernoulli — keep a doc
# iff hash60('mix|' || doc_id) % 1e6 < floor(rate * 1e6) — so both
# engines pick the identical subset with NO rand() anywhere.  Rates are
# bit-identical cross-engine: integer token sums are exact, and the
# min/divide/sqrt pipeline is one correctly-rounded IEEE op each.
# Scale shape: one tiny per-source stats aggregate (|sources| rows,
# broadcast back), then a single filter pass over the corpus and one
# per-source re-aggregate — no all-corpus shuffle beyond the groupBys.
@register(
    "corpus_mix_sample",
    f"""
    WITH toks AS (
      SELECT source, doc_id,
             len(string_split(trim(text), ' '))::BIGINT AS n_tokens
      FROM documents),
    stats AS (
      SELECT source, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_toks
      FROM toks GROUP BY source),
    rates AS (
      SELECT source, n_docs, n_toks,
             sqrt((SELECT min(n_toks) FROM stats) / n_toks) AS rate
      FROM stats),
    kept AS (
      SELECT t.source, t.doc_id, t.n_tokens
      FROM toks t JOIN rates r USING (source)
      WHERE {_SQL_H60.format("'mix|' || CAST(t.doc_id AS VARCHAR)")} % 1000000
            < CAST(floor(r.rate * 1000000) AS BIGINT))
    SELECT r.source, r.n_docs, r.n_toks, round(r.rate, 6) AS rate,
           coalesce(k.n_kept, 0)::BIGINT AS n_kept,
           coalesce(k.kept_tokens, 0)::BIGINT AS kept_tokens
    FROM rates r LEFT JOIN (
      SELECT source, count(*)::BIGINT AS n_kept,
             sum(n_tokens)::BIGINT AS kept_tokens
      FROM kept GROUP BY source) k USING (source)
    """,
)
def corpus_mix_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        "doc_id",
        F.size(_words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    stats = toks.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_toks")
    )
    floor_toks = stats.agg(F.min("n_toks").alias("min_toks"))
    # |sources| rows; materialize ONCE — the rates table feeds both the
    # keep-filter broadcast and the final report join, and without the
    # checkpoint each consumer re-runs the corpus-wide stats scan
    # (3 corpus scans instead of the honest 2-pass minimum).
    rates = (
        stats.crossJoin(F.broadcast(floor_toks))
        .select(
            "source",
            "n_docs",
            "n_toks",
            F.sqrt(F.col("min_toks") / F.col("n_toks")).alias("rate"),
        )
        .localCheckpoint(eager=True)
    )
    bucket = hash60(
        F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))
    ) % 1000000
    kept = (
        toks.join(F.broadcast(rates.select("source", "rate")), "source")
        .where(bucket < F.floor(F.col("rate") * 1000000).cast("long"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
        )
    )
    return (
        rates.join(F.broadcast(kept), "source", "left")
        .select(
            "source",
            "n_docs",
            "n_toks",
            F.round("rate", 6).alias("rate"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental (cross-corpus) near-dedup — the ingest-time variant of
# dedup_minhash_lsh: a NEW batch (doc_id % 3 == 0) is minhashed and
# joined against the accumulated OLD corpus's band table (doc_id % 3
# != 0); a new doc reporting >= 1 shared (band, minhash) bucket with any
# old doc is a near-dup candidate and gets quarantined before it enters
# the corpus.  This is the production shape at 100 TB: the old side's
# band table is precomputed and stored bucketed by (band, minhash), so
# each new batch costs ONE bucketed join — never a corpus x corpus or
# even corpus-rescan pass.  Same 8 affine prime-field permutations and
# shared literals as dedup_minhash_lsh.
@register(
    "dedup_incremental",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_transform({_SQL_SHINGLES},
                            s -> {_SQL_H60.format("s")} % {_MERSENNE}) AS hs
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents)
    ),
    mh AS (SELECT doc_id, {_SQL_MINHASHES} FROM sh),
    bands AS ({_SQL_MH_UNION})
    SELECT n.doc_id AS new_doc,
           count(DISTINCT o.doc_id) AS n_old_matches,
           min(o.doc_id) AS first_old_match
    FROM bands n JOIN bands o
      ON n.band = o.band AND n.minhash = o.minhash
     AND n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0
    GROUP BY n.doc_id
    """,
)
def dedup_incremental(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # One flat-column minhash pass over the whole corpus, materialized
    # once (shared _minhash_bands helper).  In production the old side
    # would be read back from its stored band table instead.
    mh, _ = _minhash_bands(d)  # lazy result: the ContextCleaner frees the blocks
    new = mh.where(F.col("doc_id") % 3 == 0).alias("n")
    old = mh.where(F.col("doc_id") % 3 != 0).alias("o")
    # r6: dedupe (new, old) pairs with a plain two-key groupBy FIRST,
    # then count/min over the distinct pairs — identical values to the
    # old countDistinct+min mixed aggregate, but without the Expand
    # operator that mixed distinct/non-distinct aggregation inserts
    # (it doubled the ~47M joined band rows at the bench corpus;
    # measured 12.1 -> 11.0 s — the remaining cost is the inherent
    # LSH bucket fan-out the 32x-replica bench corpus stresses).
    pairs = (
        new.join(
            old,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.minhash") == F.col("o.minhash")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("o.doc_id").alias("old_doc"),
        )
        .groupBy("new_doc", "old_doc")
        .agg(F.lit(1).alias("_one"))
    )
    return pairs.groupBy("new_doc").agg(
        F.count("*").alias("n_old_matches"),
        F.min("old_doc").alias("first_old_match"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup — rolling-hash boundary chunking,
# the variable-size alternative to fixed passage grams (robust to
# insertions/deletions shifting fixed windows: a boundary depends only on
# the local 4-word gram, so an edit re-chunks O(1) chunks, not the whole
# doc).  A position i starts a new chunk iff i == 1 or
# hash60(last-4-word gram ending at i) % 16 == 0 (expected chunk ~16
# tokens); chunk ids are the per-doc running boundary count; chunk
# content is reconstructed in position order (the dedup_line_scrub
# sort_array(collect_list(struct)) idiom — no HOF lambdas) and hashed;
# cross-doc duplicate chunks are counted by distinct-doc frequency.
# Scale shape: the gram hash is a flat codegen column after exploding
# positions; the running sum windows per doc_id (per-doc local sort);
# the frequency window shuffles on the chunk hash — all corpus-
# proportional, no all-pairs anywhere.
_CDC_W = 4
_CDC_MOD = 16


@register(
    "dedup_cdc_chunks",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
    pos AS (
      SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS i FROM docs),
    flags AS (
      SELECT doc_id, i, words[i] AS word,
             CASE WHEN i = 1 OR
                  {_SQL_H60.format(
                      "array_to_string(words[greatest(i - 3, 1):i], ' ')"
                  )} % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS b
      FROM pos),
    chunks AS (
      SELECT doc_id, i, word,
             sum(b) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS c
      FROM flags),
    ctext AS (
      SELECT doc_id, c, string_agg(word, ' ' ORDER BY i) AS chunk
      FROM chunks GROUP BY doc_id, c),
    freq AS (
      SELECT {_SQL_H60.format("chunk")} AS gh, count(DISTINCT doc_id) AS nd
      FROM ctext GROUP BY 1)
    SELECT t.doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunks,
           round(CAST(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 / count(*), 6) AS dup_frac
    FROM ctext t JOIN freq f ON {_SQL_H60.format("t.chunk")} = f.gh
    GROUP BY t.doc_id
    """,
)
def dedup_cdc_chunks(spark, sf_dir):
    # r6 scan-parallelism floor (guide §6): per-row compute here
    # dwarfs the scan's byte cost and the compressed corpus file
    # splits into 1-2 partitions; no-op on well-split inputs
    d = _floor_parallelism(_t(spark, sf_dir, "documents"))
    words = d.select("doc_id", _words(F.col("text")).alias("words"))
    pos = words.select(
        "doc_id",
        "words",
        F.explode(F.sequence(F.lit(1), F.size("words"))).alias("i"),
    )
    gram = F.concat_ws(
        " ",
        F.slice(
            F.col("words"),
            F.greatest(F.col("i") - 3, F.lit(1)),
            F.least(F.col("i"), F.lit(_CDC_W)),
        ),
    )
    flags = pos.select(
        "doc_id",
        "i",
        F.expr("element_at(words, i)").alias("word"),
        F.when(
            (F.col("i") == 1) | (hash60(gram) % _CDC_MOD == 0), 1
        )
        .otherwise(0)
        .alias("b"),
    )
    wc = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    chunks = flags.withColumn("c", F.sum("b").over(wc))
    ctext = (
        chunks.groupBy("doc_id", "c")
        .agg(F.sort_array(F.collect_list(F.struct("i", "word"))).alias("ws"))
        .select("doc_id", "c", F.concat_ws(" ", F.col("ws.word")).alias("chunk"))
    )
    wch = Window.partitionBy(hash60(F.col("chunk")))
    flagged = ctext.withColumn("nd", F.size(F.collect_set("doc_id").over(wch)))
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        dup.alias("dup_chunks"),
        F.round(dup / F.count("*"), 6).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# Quality regression probe — closed-form least squares of n_chars on two
# integer corpus features (token count, distinct-token count) via the
# normal equations: ONE pass accumulates the 9 integer moments (all
# partial-aggregatable sums, exact in BIGINT so summation order cannot
# matter), then Cramer's rule solves the 3x3 system on the driver-free
# 1-row result.  The float work happens AFTER aggregation on identical
# scalar inputs with the identical hard-coded expression tree on both
# engines, so coefficients are bit-deterministic — the same trick the
# money-decimal convention uses, applied to regression.  This is the
# scale-correct probe shape at 100 TB: no iterative solver, no Python,
# one corpus pass.
@register(
    "quality_regression_probe",
    """
    WITH feats AS (
      SELECT len(string_split(trim(text), ' '))::BIGINT AS x1,
             len(list_distinct(string_split(trim(text), ' ')))::BIGINT AS x2,
             len(text)::BIGINT AS y
      FROM documents),
    m AS (
      SELECT count(*)::BIGINT AS n,
             sum(x1)::BIGINT AS sx1, sum(x2)::BIGINT AS sx2,
             sum(y)::BIGINT AS sy,
             sum(x1 * x1)::BIGINT AS sx11, sum(x1 * x2)::BIGINT AS sx12,
             sum(x2 * x2)::BIGINT AS sx22,
             sum(x1 * y)::BIGINT AS sx1y, sum(x2 * y)::BIGINT AS sx2y,
             sum(y * y)::BIGINT AS syy
      FROM feats),
    d AS (
      SELECT n, sx1, sx2, sy, sx1y, sx2y, syy,
             CAST(n AS DOUBLE) AS dn, CAST(sx1 AS DOUBLE) AS d1,
             CAST(sx2 AS DOUBLE) AS d2, CAST(sy AS DOUBLE) AS dy,
             CAST(sx11 AS DOUBLE) AS d11, CAST(sx12 AS DOUBLE) AS d12,
             CAST(sx22 AS DOUBLE) AS d22, CAST(sx1y AS DOUBLE) AS d1y,
             CAST(sx2y AS DOUBLE) AS d2y
      FROM m),
    s AS (
      SELECT n, sy, syy, sx1y, sx2y, dn, dy, d1y, d2y,
             (dn * (d11 * d22 - d12 * d12)
              - d1 * (d1 * d22 - d12 * d2)
              + d2 * (d1 * d12 - d11 * d2)) AS det,
             (dy * (d11 * d22 - d12 * d12)
              - d1 * (d1y * d22 - d12 * d2y)
              + d2 * (d1y * d12 - d11 * d2y)) AS det_a,
             (dn * (d1y * d22 - d12 * d2y)
              - dy * (d1 * d22 - d12 * d2)
              + d2 * (d1 * d2y - d1y * d2)) AS det_b,
             (dn * (d11 * d2y - d1y * d12)
              - d1 * (d1 * d2y - d1y * d2)
              + dy * (d1 * d12 - d11 * d2)) AS det_c
      FROM d)
    SELECT n AS n_docs,
           round(det_a / det, 6) AS coef_intercept,
           round(det_b / det, 6) AS coef_tokens,
           round(det_c / det, 6) AS coef_distinct,
           round(1 - (CAST(syy AS DOUBLE)
                      - (det_a / det) * dy
                      - (det_b / det) * d1y
                      - (det_c / det) * d2y)
                     / (CAST(syy AS DOUBLE) - dy * dy / dn), 6) AS r2
    FROM s
    """,
)
def quality_regression_probe(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    feats = d.select(
        F.size(w).cast("long").alias("x1"),
        F.size(F.array_distinct(w)).cast("long").alias("x2"),
        F.length("text").cast("long").alias("y"),
    )
    m = feats.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dbl = m.select(
        "n", "sy", "syy", "sx1y", "sx2y",
        F.col("n").cast("double").alias("dn"),
        F.col("sx1").cast("double").alias("d1"),
        F.col("sx2").cast("double").alias("d2"),
        F.col("sy").cast("double").alias("dy"),
        F.col("sx11").cast("double").alias("d11"),
        F.col("sx12").cast("double").alias("d12"),
        F.col("sx22").cast("double").alias("d22"),
        F.col("sx1y").cast("double").alias("d1y"),
        F.col("sx2y").cast("double").alias("d2y"),
    )
    dn, d1, d2, dy = F.col("dn"), F.col("d1"), F.col("d2"), F.col("dy")
    d11, d12, d22 = F.col("d11"), F.col("d12"), F.col("d22")
    d1y, d2y = F.col("d1y"), F.col("d2y")
    s = dbl.select(
        "n", "sy", "syy", "sx1y", "sx2y", "dn", "dy", "d1y", "d2y",
        (
            dn * (d11 * d22 - d12 * d12)
            - d1 * (d1 * d22 - d12 * d2)
            + d2 * (d1 * d12 - d11 * d2)
        ).alias("det"),
        (
            dy * (d11 * d22 - d12 * d12)
            - d1 * (d1y * d22 - d12 * d2y)
            + d2 * (d1y * d12 - d11 * d2y)
        ).alias("det_a"),
        (
            dn * (d1y * d22 - d12 * d2y)
            - dy * (d1 * d22 - d12 * d2)
            + d2 * (d1 * d2y - d1y * d2)
        ).alias("det_b"),
        (
            dn * (d11 * d2y - d1y * d12)
            - d1 * (d1 * d2y - d1y * d2)
            + dy * (d1 * d12 - d11 * d2)
        ).alias("det_c"),
    )
    det = F.col("det")
    return s.select(
        F.col("n").alias("n_docs"),
        F.round(F.col("det_a") / det, 6).alias("coef_intercept"),
        F.round(F.col("det_b") / det, 6).alias("coef_tokens"),
        F.round(F.col("det_c") / det, 6).alias("coef_distinct"),
        F.round(
            1
            - (
                F.col("syy").cast("double")
                - (F.col("det_a") / det) * F.col("dy")
                - (F.col("det_b") / det) * F.col("d1y")
                - (F.col("det_c") / det) * F.col("d2y")
            )
            / (
                F.col("syy").cast("double")
                - F.col("dy") * F.col("dy") / F.col("dn")
            ),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN — the memory-bound end of the ANN family
# (brute cosine -> int8 scalar -> IVF -> PQ): corpus vectors are stored
# as 8 one-byte codes (one per 8-dim subspace) instead of 64 floats, and
# queries score by Asymmetric Distance Computation — one 16-entry lookup
# table per subspace, distance = sum of 8 table cells. At the 100 TB
# design point this is ~32x less state than the raw vectors and the scan
# reads codes only; here the codes/ADC join shapes are real and the
# arithmetic is EXACT integer end-to-end (int8 scalar quantization
# first, the ann_int8_topk convention), so both engines agree bitwise.
#
# Codebook: the int8 subvectors of vec_ids 1..16 (deterministic sampled
# codebook, k = vec_id - 1). Real systems run k-means here; the codebook
# CHOICE is a recall knob, not a correctness one — assignment and ADC
# are the contract. Argmin with tie -> smallest k is encoded as
# min(d * 100 + k) % 100 (d <= 8 * 254^2 = 516,128, k < 16 < 100, so
# the encoding is collision-free and identical on both engines — the
# min_by/arg_min tie rules are NOT portable, this encoding is).
#
# Codegen discipline: each subspace distance is its own 8-term column
# (the ann_int8_topk janino-64KB lesson) — never one 64-term expression.
_PQ_M = 8          # subspaces
_PQ_DSUB = 8       # dims per subspace
_PQ_K = 16         # codebook entries per subspace


def _pq_sql_q8(expr: str) -> str:
    return f"CAST(round({expr}::DOUBLE / s.maxabs * 127) AS BIGINT)"


def _pq_sql_dist(a: str, b: str, m: int) -> str:
    terms = []
    for j in range(_PQ_DSUB):
        i = m * _PQ_DSUB + j + 1  # 1-based array index
        qa = _pq_sql_q8(f"{a}.embedding[{i}]")
        qc = _pq_sql_q8(f"{b}.c_emb[{i}]")
        terms.append(f"({qa} - {qc}) * ({qa} - {qc})")
    return " + ".join(terms)


_PQ_SQL_ENC_D = ", ".join(
    f"{_pq_sql_dist('a', 'cb', m)} AS d{m}" for m in range(_PQ_M)
)
_PQ_SQL_CODES = ", ".join(
    f"min(d{m} * 100 + k) % 100 AS code{m}" for m in range(_PQ_M)
)
_PQ_SQL_ADC_D = ", ".join(
    f"{_pq_sql_dist('q', 'cb', m)} AS qd{m}" for m in range(_PQ_M)
)
_PQ_SQL_CODES_LONG = " UNION ALL ".join(
    f"SELECT vec_id, label, {m} AS m, code{m} AS code FROM codes"
    for m in range(_PQ_M)
)
_PQ_SQL_ADC_LONG = " UNION ALL ".join(
    f"SELECT k, {m} AS m, qd{m} AS qdist FROM adc" for m in range(_PQ_M)
)


@register(
    "ann_pq_topk",
    f"""
    WITH s AS (
      SELECT max(greatest({", ".join(f"abs(embedding[{i+1}]::DOUBLE)" for i in range(_QDIM))})) AS maxabs
      FROM embeddings),
    cb AS (
      SELECT vec_id - 1 AS k, embedding AS c_emb FROM embeddings
      WHERE vec_id BETWEEN 1 AND {_PQ_K}),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    enc AS (
      SELECT a.vec_id, a.label, cb.k, {_PQ_SQL_ENC_D}
      FROM embeddings a, cb, s WHERE a.vec_id <> 0),
    codes AS (
      SELECT vec_id, label, {_PQ_SQL_CODES} FROM enc GROUP BY vec_id, label),
    adc AS (
      SELECT cb.k, {_PQ_SQL_ADC_D}
      FROM cb, q, s),
    codes_long AS ({_PQ_SQL_CODES_LONG}),
    adc_long AS ({_PQ_SQL_ADC_LONG}),
    scored AS (
      SELECT c.vec_id, c.label, CAST(sum(a.qdist) AS BIGINT) AS pq_dist
      FROM codes_long c JOIN adc_long a ON a.m = c.m AND a.k = c.code
      GROUP BY c.vec_id, c.label)
    SELECT vec_id, label, pq_dist,
           row_number() OVER (ORDER BY pq_dist ASC, vec_id ASC) AS rank
    FROM (SELECT * FROM scored ORDER BY pq_dist ASC, vec_id ASC LIMIT 10)
    """,
)
def ann_pq_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    maxabs = F.greatest(
        *[F.abs(F.col("embedding")[i].cast("double")) for i in range(_QDIM)]
    )
    stats = e.agg(F.max(maxabs).alias("maxabs"))
    cb = e.where((F.col("vec_id") >= 1) & (F.col("vec_id") <= _PQ_K)).select(
        (F.col("vec_id") - 1).alias("k"), F.col("embedding").alias("c_emb")
    )

    # pre-quantize each side ONCE into flat integer columns (the q8
    # round() is deterministic, so values are bit-identical to
    # recomputing inside the product — the oracle still writes the
    # inline form). Before this, the vector x codebook stage recomputed
    # 128 round()/div/getItem per pair (16x redundant per corpus
    # element, measured ~23 s at a 16k-vector corpus); the product
    # stage is now pure flat-int subtract-square-sum.
    def quantized(df, src_col: str, keep: list[str], prefix: str):
        return df.crossJoin(F.broadcast(stats)).select(
            *keep,
            *[
                _q8(F.col(src_col)[i], F.col("maxabs")).alias(f"{prefix}{i}")
                for i in range(_QDIM)
            ],
        )

    # r6: parallelism floor on the corpus side only — the packed-vector
    # file splits into one byte-sized scan partition, so the 64-column
    # quantize + the 2M-row subspace-distance map below otherwise run on
    # one core (guide §6; values exact — all-integer after quantization)
    eq = quantized(
        _floor_parallelism(e.where(F.col("vec_id") != 0)),
        "embedding", ["vec_id", "label"], "qa"
    )
    cbq = quantized(cb, "c_emb", ["k"], "qc")

    def dsub_flat(a_pre: str, m: int) -> Column:
        terms = [
            (F.col(f"{a_pre}{m * _PQ_DSUB + j}") - F.col(f"qc{m * _PQ_DSUB + j}"))
            * (F.col(f"{a_pre}{m * _PQ_DSUB + j}") - F.col(f"qc{m * _PQ_DSUB + j}"))
            for j in range(_PQ_DSUB)
        ]
        s = terms[0]
        for t in terms[1:]:
            s = s + t
        return s

    enc = (
        eq.crossJoin(F.broadcast(cbq))
        .select(
            "vec_id",
            "label",
            "k",
            *[dsub_flat("qa", m).alias(f"d{m}") for m in range(_PQ_M)],
        )
    )
    codes = enc.groupBy("vec_id", "label").agg(
        *[
            (F.min(F.col(f"d{m}") * 100 + F.col("k")) % 100).alias(f"code{m}")
            for m in range(_PQ_M)
        ]
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    qq = quantized(q, "q_emb", [], "qa")
    adc = cbq.crossJoin(F.broadcast(qq)).select(
        "k", *[dsub_flat("qa", m).alias(f"qd{m}") for m in range(_PQ_M)]
    )
    codes_long = codes.select(
        "vec_id",
        "label",
        F.posexplode(
            F.array(*[F.col(f"code{m}") for m in range(_PQ_M)])
        ).alias("m", "code"),
    )
    adc_long = adc.select(
        "k",
        F.posexplode(F.array(*[F.col(f"qd{m}") for m in range(_PQ_M)])).alias(
            "m", "qdist"
        ),
    )
    scored = (
        codes_long.join(
            F.broadcast(adc_long),
            (codes_long["m"] == adc_long["m"])
            & (codes_long["code"] == adc_long["k"]),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("qdist").alias("pq_dist"))
    )
    top = scored.orderBy(F.asc("pq_dist"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.asc("pq_dist"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Gopher-style composite quality filter (Rae et al. 2021 §A1.1 rule
# bundle, exact-arithmetic formulation): one pass computes every
# per-doc statistic, each rule is an integer inequality (mean-word-
# length bounds become cross-multiplications: 3 <= chars/words <= 10
# is 3*words <= chars AND chars <= 10*words — no division, no float,
# no q7-style boundary hazard), and the verdict is the conjunction.
# Scale shape: ONE (doc, word) groupBy then ONE doc groupBy — both
# partial-aggregatable; no corpus-global state at all, so the filter
# maps over any corpus size embarrassingly.
from web_scraper_spark.operators.quality import (  # noqa: E402
    GOPHER_STOPWORDS as _GOPHER_STOPWORDS,
)


@register(
    "gopher_quality_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents),
    wc AS (SELECT doc_id, w, count(*) AS cnt FROM toks GROUP BY doc_id, w),
    per AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_words,
             CAST(sum(len(w) * cnt) AS BIGINT) AS word_chars,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(cnt) AS BIGINT) AS max_word_count,
             CAST(sum(CASE WHEN w IN {str(tuple(_GOPHER_STOPWORDS))}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_distinct
      FROM wc GROUP BY doc_id)
    SELECT doc_id, n_words, n_distinct, max_word_count,
           (n_words >= 10 AND n_words <= 100000) AS r_word_count,
           (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
             AS r_mean_word_len,
           (10 * max_word_count <= n_words) AS r_max_word_frac,
           (5 * n_distinct >= n_words) AS r_distinct_frac,
           (n_stop_distinct >= 2) AS r_stopwords,
           ((n_words >= 10 AND n_words <= 100000)
            AND (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
            AND (10 * max_word_count <= n_words)
            AND (5 * n_distinct >= n_words)
            AND (n_stop_distinct >= 2)) AS passes_all
    FROM per
    """,
)
def gopher_quality_filter(spark, sf_dir):
    from web_scraper_spark.operators.quality import gopher_report

    return gopher_report(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Span-level decontamination — the surgical sibling of
# decontaminate_ngrams: instead of a per-doc overlap COUNT, report WHERE
# the leaked 3-gram spans sit (first/last token position, span count,
# contaminated fraction), so a pipeline can excise spans rather than
# drop documents. Same benchmark convention (doc_id % 97 = 0 is the
# eval set), same broadcast-bench/semi-join shape — positions ride the
# existing flat explode for free, adding no extra shuffle.
@register(
    "decontaminate_spans",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
    pos AS (
      SELECT doc_id, words,
             unnest(range(1, greatest(len(words) - 1, 2))) AS i
      FROM docs),
    g AS (
      SELECT doc_id, i,
             {_SQL_H60.format("array_to_string(words[i:i+2], ' ')")}
               % {_MERSENNE} AS gh
      FROM pos),
    bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
    totals AS (SELECT doc_id, count(*) AS total_spans FROM g GROUP BY doc_id)
    SELECT g.doc_id, count(*) AS n_leaked, min(g.i) AS first_pos,
           max(g.i) AS last_pos,
           round(count(*) / t.total_spans, 6) AS leaked_frac
    FROM g JOIN bench USING (gh) JOIN totals t ON t.doc_id = g.doc_id
    WHERE g.doc_id % 97 <> 0
    GROUP BY g.doc_id, t.total_spans
    """,
)
def decontaminate_spans(spark, sf_dir):
    # r6 scan-parallelism floor (guide §6): per-row compute here
    # dwarfs the scan's byte cost and the compressed corpus file
    # splits into 1-2 partitions; no-op on well-split inputs
    d = _floor_parallelism(_t(spark, sf_dir, "documents"))
    words = d.select("doc_id", _words(F.col("text")).alias("words"))
    g = words.select(
        "doc_id",
        "words",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("words") - 2, F.lit(1)))
        ).alias("i"),
    ).select(
        "doc_id",
        "i",
        (
            hash60(F.concat_ws(" ", F.slice(F.col("words"), F.col("i"), 3)))
            % _MERSENNE
        ).alias("gh"),
    )
    bench = (
        g.where(F.col("doc_id") % 97 == 0).select("gh").dropDuplicates(["gh"])
    )
    totals = g.groupBy("doc_id").agg(F.count("*").alias("total_spans"))
    return (
        g.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "gh")
        .join(totals, "doc_id")
        .groupBy("doc_id", "total_spans")
        .agg(
            F.count("*").alias("n_leaked"),
            F.min("i").alias("first_pos"),
            F.max("i").alias("last_pos"),
        )
        .select(
            "doc_id",
            "n_leaked",
            "first_pos",
            "last_pos",
            F.round(F.col("n_leaked") / F.col("total_spans"), 6).alias(
                "leaked_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Containment near-dup (asymmetric Jaccard |A∩B| / min(|A|,|B|)) — what
# symmetric minhash misses: a snippet living INSIDE a larger document
# scores near-zero Jaccard but ~1.0 containment. The sf corpus has no
# natural containments, so the query injects one per doc_id % 11 = 0
# (the doc's first 12 words under doc_id + 2,000,000 — the
# dedup_exact_guard synthesis idiom). Scale shape: distinct (doc,
# shingle-hash) rows, frequency-capped (shingles in > 64 distinct docs
# are dropped on BOTH engines — boilerplate grams carry no containment
# signal and their buckets are the quadratic hazard), then the pair
# count groups by shingle bucket — never doc x doc. At the 100 TB
# design point this runs over LSH candidates (the dedup_minhash family
# gates it); the contract pins the exact-verification arithmetic.
_CONTAIN_CAP = 64     # max distinct docs per shingle
_CONTAIN_MIN_SHARED = 4


@register(
    "text_containment_pairs",
    f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             array_to_string(string_split(trim(text), ' ')[1:12], ' ') AS text
      FROM documents WHERE doc_id % 11 = 0),
    docs AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM base),
    pos AS (
      SELECT doc_id, words,
             unnest(range(1, greatest(len(words) - 1, 2))) AS i
      FROM docs),
    sh AS (
      SELECT DISTINCT doc_id,
             {_SQL_H60.format("array_to_string(words[i:i+2], ' ')")}
               % {_MERSENNE} AS h
      FROM pos),
    kept AS (
      SELECT h FROM sh GROUP BY h
      HAVING count(*) <= {_CONTAIN_CAP}),
    shk AS (SELECT sh.doc_id, sh.h FROM sh JOIN kept USING (h)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shk GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM shk a JOIN shk b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= {_CONTAIN_MIN_SHARED})
    SELECT doc_a, doc_b, n_shared,
           round(n_shared / least(sa.sz, sb.sz), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_shared / least(sa.sz, sb.sz) >= 0.5
    """,
)
def text_containment_pairs(spark, sf_dir):
    # r6 scan-parallelism floor (guide §6): per-row compute here
    # dwarfs the scan's byte cost and the compressed corpus file
    # splits into 1-2 partitions; no-op on well-split inputs
    d = _floor_parallelism(_t(spark, sf_dir, "documents"))
    snippets = d.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(_words(F.col("text")), 1, 12)).alias("text"),
    )
    base = d.select("doc_id", "text").unionByName(snippets)
    words = base.select("doc_id", _words(F.col("text")).alias("words"))
    sh = (
        words.select(
            "doc_id",
            "words",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.size("words") - 2, F.lit(1))
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            (
                hash60(
                    F.concat_ws(" ", F.slice(F.col("words"), F.col("i"), 3))
                )
                % _MERSENNE
            ).alias("h"),
        )
        .dropDuplicates(["doc_id", "h"])
    )
    kept = sh.groupBy("h").agg(F.count("*").alias("df")).where(
        F.col("df") <= _CONTAIN_CAP
    ).select("h")
    shk = sh.join(kept, "h").localCheckpoint(eager=True)
    sizes = shk.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = shk.alias("a"), shk.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= _CONTAIN_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    contain = F.col("n_shared") / F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(contain >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(contain, 6).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# C4-style heuristic cleaning (Raffel et al. 2020 §2.2) — the line/doc
# rule bundle that precedes every big web-text corpus: keep only lines
# that end in terminal punctuation AND have >= 5 words; drop whole
# documents containing "lorem ipsum" or a curly brace; require >= 3
# surviving lines. The synthetic corpus has no newlines or punctuation,
# so (a) a "line" is a non-overlapping 8-word segment (the
# dedup_line_scrub convention) and (b) the query injects the signals
# deterministically as shared literals: segment (doc_id + i) % 3 == 0
# gets a trailing '.', doc_id % 13 == 0 gets ' lorem ipsum' appended to
# segment 1, doc_id % 17 == 0 gets ' {' appended to segment 1.
# Scale shape: one segment explode, per-segment flags as pure
# projections (no shuffle), ONE per-doc groupBy with ordered
# reconstruction of the kept text — embarrassingly parallel, no
# corpus-global state at all (unlike the df-keyed line scrub).
_C4_W = 8
_C4_MIN_LINE_WORDS = 5
_C4_MIN_KEPT = 3


@register(
    "c4_quality_filter",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
    segs0 AS (
      SELECT doc_id, i,
             array_to_string(words[(i-1)*{_C4_W}+1:(i-1)*{_C4_W}+{_C4_W}], ' ') AS seg
      FROM (SELECT doc_id, words,
                   unnest(range(1, greatest(CAST(ceil(len(words)/{_C4_W}.0) AS BIGINT), 1)+1)) AS i
            FROM docs)),
    segs AS (
      SELECT doc_id, i,
             seg
             || CASE WHEN i = 1 AND doc_id % 13 = 0 THEN ' lorem ipsum' ELSE '' END
             || CASE WHEN i = 1 AND doc_id % 17 = 0 THEN ' {{' ELSE '' END
             || CASE WHEN (doc_id + i) % 3 = 0 THEN '.' ELSE '' END AS seg
      FROM segs0),
    flags AS (
      SELECT doc_id, i, seg,
             (ends_with(seg, '.')
              AND len(string_split(seg, ' ')) >= {_C4_MIN_LINE_WORDS}) AS line_kept,
             contains(seg, 'lorem ipsum') AS has_lorem,
             contains(seg, '{{') AS has_brace
      FROM segs)
    SELECT doc_id,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN line_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           max(has_lorem) AS has_lorem,
           max(has_brace) AS has_brace,
           (NOT max(has_lorem) AND NOT max(has_brace)
            AND sum(CASE WHEN line_kept THEN 1 ELSE 0 END) >= {_C4_MIN_KEPT}) AS passes,
           {_SQL_H60.format("coalesce(string_agg(CASE WHEN line_kept THEN seg END, ' ' ORDER BY i), '')")} AS kept_hash
    FROM flags GROUP BY doc_id
    """,
)
def c4_quality_filter(spark, sf_dir):
    # r6 scan-parallelism floor (guide §6): per-row compute here
    # dwarfs the scan's byte cost and the compressed corpus file
    # splits into 1-2 partitions; no-op on well-split inputs
    d = _floor_parallelism(_t(spark, sf_dir, "documents"))
    words = d.select("doc_id", _words(F.col("text")).alias("words"))
    segs = (
        words.select(
            "doc_id",
            "words",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.ceil(F.size("words") / F.lit(float(_C4_W))).cast("int"),
                        F.lit(1),
                    ),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.concat(
                F.concat_ws(
                    " ",
                    F.slice(F.col("words"), (F.col("i") - 1) * _C4_W + 1, _C4_W),
                ),
                F.when(
                    (F.col("i") == 1) & (F.col("doc_id") % 13 == 0),
                    F.lit(" lorem ipsum"),
                ).otherwise(F.lit("")),
                F.when(
                    (F.col("i") == 1) & (F.col("doc_id") % 17 == 0),
                    F.lit(" {"),
                ).otherwise(F.lit("")),
                F.when(
                    (F.col("doc_id") + F.col("i")) % 3 == 0, F.lit(".")
                ).otherwise(F.lit("")),
            ).alias("seg"),
        )
    )
    flags = segs.select(
        "doc_id",
        "i",
        "seg",
        (
            F.col("seg").endswith(".")
            & (F.size(F.split(F.col("seg"), " ")) >= _C4_MIN_LINE_WORDS)
        ).alias("line_kept"),
        F.col("seg").contains("lorem ipsum").alias("has_lorem"),
        F.col("seg").contains("{").alias("has_brace"),
    )
    kept = F.when(F.col("line_kept"), F.struct(F.col("i"), F.col("seg")))
    n_kept = F.sum(F.when(F.col("line_kept"), 1).otherwise(0))
    return (
        flags.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            n_kept.alias("n_kept"),
            F.max("has_lorem").alias("has_lorem"),
            F.max("has_brace").alias("has_brace"),
            F.sort_array(F.collect_list(kept)).alias("kept_segs"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_kept",
            "has_lorem",
            "has_brace",
            (
                ~F.col("has_lorem")
                & ~F.col("has_brace")
                & (F.col("n_kept") >= _C4_MIN_KEPT)
            ).alias("passes"),
            hash60(F.concat_ws(" ", F.col("kept_segs.seg"))).alias("kept_hash"),
        )
    )


# ---------------------------------------------------------------------------
# BPE-style adjacent-pair counts (tokenizer-training prep; Sennrich et
# al. 2016's first merge step): count every adjacent character pair,
# weighted by word frequency. The scale-defining trick is the same one
# real BPE trainers use — aggregate the corpus to (word, count) FIRST,
# then explode pairs over the VOCABULARY (distinct words), so the
# pair explode is vocab-bounded, not corpus-bounded (a 100 TB corpus
# has ~10^7 distinct words but ~10^13 tokens). Two partial-aggregatable
# groupBys, no joins, no windows. Pure integer counts — no float
# hazard anywhere.
@register(
    "bpe_pair_counts",
    """
    WITH wc AS (
      SELECT w, count(*) AS wcount
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
      GROUP BY w),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair, wcount, w
      FROM (SELECT w, wcount, unnest(range(1, len(w))) AS i
            FROM wc WHERE len(w) >= 2))
    SELECT pair, CAST(sum(wcount) AS BIGINT) AS pair_count,
           CAST(count(DISTINCT w) AS BIGINT) AS n_types
    FROM pairs GROUP BY pair
    """,
)
def bpe_pair_counts(spark, sf_dir):
    # r6 scan-parallelism floor (guide §6): per-row compute here
    # dwarfs the scan's byte cost and the compressed corpus file
    # splits into 1-2 partitions; no-op on well-split inputs
    d = _floor_parallelism(_t(spark, sf_dir, "documents"))
    wc = (
        d.select(F.explode(_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wcount"))
    )
    pairs = (
        wc.where(F.length("w") >= 2)
        .select(
            "w",
            "wcount",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(
            "w",
            "wcount",
            F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"),
        )
    )
    return pairs.groupBy("pair").agg(
        F.sum("wcount").alias("pair_count"),
        F.countDistinct("w").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# DSIR-style data selection (Xie et al. 2023, hashed-n-gram importance
# resampling) in EXACT INTEGER arithmetic: unigram features hash into
# 4,096 buckets; the per-bucket importance ratio is the add-one-smoothed
# target/raw frequency ratio scaled by 10^4 and floor-divided
# (score_b = (10^4 * (ct_b+1) * N_raw) DIV ((cr_b+1) * N_target)), so
# every weight is a portable BIGINT — no log-sum float tree to keep
# bit-identical across engines. Target distribution = the corpus's
# English documents. A document's score is the sum of its tokens'
# bucket weights; ``selected`` marks docs whose mean token weight
# clears the neutral ratio (score >= 10^4 * n_tokens).
# Scale shape: ONE conditional-agg groupBy over a FIXED 4,096-row key
# space yields both distributions (raw + target) in a single corpus
# pass; the totals N_raw/N_target come from summing that 4,096-row
# table, NOT from extra corpus scans; the 4,096-row weight table then
# broadcasts back onto the token stream for one final per-doc groupBy —
# two corpus passes total, nothing corpus-global ever shuffles except
# the fixed bucket table.
# Overflow bound: 10^4 * (ct+1) * N_raw <= 10^4 * N_tok^2 stays under
# int64 for N_tok <= 3*10^7 tokens per partition-independent global
# count (sf <= 1 here); beyond that, drop SCALE or pre-divide N_raw.
_DSIR_BUCKETS = 4096
_DSIR_SCALE = 10000


@register(
    "dsir_importance",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {_SQL_H60.format("w")} % {_DSIR_BUCKETS} AS b
      FROM (SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS w
            FROM documents)),
    cb AS (
      SELECT b, count(*) AS c_raw,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_target
      FROM toks GROUP BY b),
    n AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw,
                 CAST(sum(c_target) AS BIGINT) AS n_target
          FROM cb),
    wt AS (
      SELECT cb.b,
             ({_DSIR_SCALE} * (cb.c_target + 1) * n.n_raw)
               // ((cb.c_raw + 1) * n.n_target) AS w_b
      FROM cb, n)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           CAST(sum(wt.w_b) AS BIGINT) AS score,
           CAST(sum(wt.w_b) // count(*) AS BIGINT) AS score_per_token,
           (sum(wt.w_b) >= {_DSIR_SCALE} * count(*)) AS selected
    FROM toks t JOIN wt ON t.b = wt.b
    GROUP BY t.doc_id
    """,
)
def dsir_importance(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # r6 (VERDICT r5 item 5): materialize the hashed token-bucket
    # projection ONCE — previously both corpus passes (bucket counts AND
    # the final score join) re-exploded the text and recomputed ~9M
    # per-token md5s each. The checkpoint holds (doc_id, b, is_target):
    # three narrow columns, far cheaper than a second text scan + hash
    # pass. The scan-parallelism floor matters here for the same reason
    # as dedup_passages (per-token md5 dwarfs the scan's byte cost).
    toks = (
        _floor_parallelism(d.select("doc_id", "lang", "text"))
        .select("doc_id", "lang", F.explode(_words(F.col("text"))).alias("w"))
        .select(
            "doc_id",
            (F.col("lang") == "en").alias("is_t"),
            (hash60(F.col("w")) % _DSIR_BUCKETS).alias("b"),
        )
        .localCheckpoint(eager=True)
    )
    cb = toks.groupBy("b").agg(
        F.count("*").alias("c_raw"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("c_target"),
    ).localCheckpoint(eager=True)
    n = cb.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_target").alias("n_target")
    )
    wt = cb.crossJoin(F.broadcast(n)).select(
        "b",
        F.expr(
            f"({_DSIR_SCALE}L * (c_target + 1L) * n_raw)"
            f" div ((c_raw + 1L) * n_target)"
        ).alias("w_b"),
    )
    return (
        toks.join(F.broadcast(wt), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("w_b").alias("score"))
        .select(
            "doc_id",
            "n_tokens",
            "score",
            F.expr("score div n_tokens").alias("score_per_token"),
            (F.col("score") >= _DSIR_SCALE * F.col("n_tokens")).alias(
                "selected"
            ),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023) — semantic dedup in embedding space:
# coarse-cluster the corpus, then drop every vector that has a
# higher-priority near-twin (cosine >= 0.9) INSIDE its cluster; the
# keeper rule is min vec_id (the repo's dedup idiom). Clustering is a
# single nearest-seed assignment (seeds = the first 8 base vectors,
# squared-L2, ties to low cid — the ann_ivf_kmeans assign shape), so
# pairwise work is cluster-bounded, never corpus x corpus; at real
# scale K grows ~N/target_cluster_size and the quadratic term stays
# bounded per bucket. The sf corpus has no semantic twins, so replicas
# are injected for vec_id % 9 == 0 under vec_id + 1,000,000 with ONE
# dimension (vec_id % 64) shifted by exactly +0.25 (a binary fraction:
# no cross-engine float drift; cosine to the original stays ~0.99).
# The threshold compares the UNROUNDED cosine — both engines compute
# the identical STAGED float tree (8 groups of 8 terms, groups summed
# left-to-right), so the decision is bit-stable; only the reported sim
# is rounded. Staging matters twice: one flat 64-term expression beats
# janino's 64 KB method limit (whole-stage codegen fails and SILENTLY
# interprets — measured 131 s vs ~8 s at a 17.8k-vector corpus, the
# ann_int8_topk lesson), and per-vector norms are computed ONCE before
# the pair join (3x less arithmetic per pair) with the same tree on
# both engines.
_SEMDEDUP_THRESH = 0.9


def _sql_sum8(term: str) -> str:
    """Explicit 8x8-term staged sum, 1-based {i} — the SQL twin of the
    Spark-side staged partials in operators/semdedup.py (identical
    association tree)."""
    parts = []
    for g in range(0, _EMB_DIM, 8):
        parts.append(
            "(" + " + ".join(term.format(i=i) for i in range(g + 1, g + 9)) + ")"
        )
    return "(" + " + ".join(parts) + ")"


_SQL_D2_8 = _sql_sum8(
    "(e.emb[{i}] - c.centroid[{i}]) * (e.emb[{i}] - c.centroid[{i}])"
)
_SQL_N2_8 = _sql_sum8("emb[{i}] * emb[{i}]")
_SQL_DOT_8 = _sql_sum8("a.emb[{i}] * b.emb[{i}]")


@register(
    "semdedup_embeddings",
    f"""
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings),
    reps AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(range(1, 65),
                            i -> embedding[i]::DOUBLE
                                 + CASE WHEN i - 1 = vec_id % 64
                                        THEN 0.25 ELSE 0 END) AS emb
      FROM embeddings WHERE vec_id % 9 = 0),
    e AS (SELECT * FROM base UNION ALL SELECT * FROM reps),
    seeds AS (SELECT vec_id::INT AS cid, emb AS centroid
              FROM base WHERE vec_id < 8),
    a1 AS (
      SELECT vec_id, emb, cid, {_SQL_N2_8} AS n2 FROM (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_D2_8} ASC, c.cid ASC) AS rn
        FROM e, seeds c)
      WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, b.cid,
             {_SQL_DOT_8} / (sqrt(a.n2) * sqrt(b.n2)) AS cos
      FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id)
    SELECT vb AS vec_id, cid, min(va) AS keeper,
           round(arg_min(cos, va), 6) AS sim_keeper
    FROM pairs WHERE cos >= {_SEMDEDUP_THRESH}
    GROUP BY vb, cid
    """,
)
def semdedup_embeddings(spark, sf_dir):
    from web_scraper_spark.operators.semdedup import semdedup_dups

    base = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("emb"),
    )
    reps = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 9 == 0)
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> cast(x as double)"
                " + case when i = vec_id % 64 then 0.25d else 0d end)"
            ).alias("emb"),
        )
    )
    # the operator's flat-column checkpoint evaluates the interpreted
    # transform() injection exactly once; k=8 matches the 500-row sf
    # tables (k scales ~N/cluster_target at corpus scale)
    return semdedup_dups(
        base.unionByName(reps), k=8, thresh=_SEMDEDUP_THRESH
    )


# ---------------------------------------------------------------------------
# Image-caption pre-filter (LAION-style, Schuhmann et al. 2021) — the
# rule bundle every image-caption crawl applies before CLIP scoring:
# minimum dimensions, aspect-ratio bounds, format allowlist, caption
# length window, and a bytes-per-pixel plausibility floor (a 4-MP image
# in 20 KB is not a photo). Operates on the input-hint schema
# (image_id, w, h, fmt, nbytes, caption) — synthesized deterministically
# from the documents table with shared literals (the image_phash_neardup
# idiom; the sandbox has no real image corpus): dims and compression
# divisor from hash60 streams, fmt by doc_id % 4, caption = the doc's
# first 12 words. Every rule is an integer or string predicate — no
# float anywhere. Scale shape: a PURE PROJECTION, zero shuffles — the
# filter maps over any corpus embarrassingly; at 100 TB this plan is
# one parquet scan wide open to predicate pushdown.
@register(
    "image_quality_filter",
    f"""
    WITH meta AS (
      SELECT doc_id AS image_id,
             32 + {_SQL_H60.format("'w' || CAST(doc_id AS VARCHAR)")} % 2048 AS w,
             32 + {_SQL_H60.format("'h' || CAST(doc_id AS VARCHAR)")} % 2048 AS h,
             CASE doc_id % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                             WHEN 2 THEN 'webp' ELSE 'gif' END AS fmt,
             1 + {_SQL_H60.format("'b' || CAST(doc_id AS VARCHAR)")} % 64 AS cdiv,
             array_to_string(string_split(trim(text), ' ')[1:12], ' ') AS caption
      FROM documents),
    m2 AS (SELECT *, (w * h) // cdiv AS nbytes FROM meta)
    SELECT image_id, w, h, fmt, nbytes,
           CAST(len(caption) AS BIGINT) AS caption_chars,
           (w >= 64 AND h >= 64) AS r_min_size,
           (greatest(w, h) <= 3 * least(w, h)) AS r_aspect,
           (fmt <> 'gif') AS r_fmt,
           (len(caption) >= 20 AND len(caption) <= 65) AS r_caption,
           (nbytes * 50 >= w * h) AS r_bpp,
           ((w >= 64 AND h >= 64)
            AND (greatest(w, h) <= 3 * least(w, h))
            AND (fmt <> 'gif')
            AND (len(caption) >= 20 AND len(caption) <= 65)
            AND (nbytes * 50 >= w * h)) AS passes_all
    FROM m2
    """,
)
def image_quality_filter(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    w = F.lit(32) + hash60(F.concat(F.lit("w"), sid)) % 2048
    h = F.lit(32) + hash60(F.concat(F.lit("h"), sid)) % 2048
    cdiv = F.lit(1) + hash60(F.concat(F.lit("b"), sid)) % 64
    fmt = (
        F.when(F.col("doc_id") % 4 == 0, "jpeg")
        .when(F.col("doc_id") % 4 == 1, "png")
        .when(F.col("doc_id") % 4 == 2, "webp")
        .otherwise("gif")
    )
    caption = F.concat_ws(" ", F.slice(_words(F.col("text")), 1, 12))
    meta = d.select(
        F.col("doc_id").alias("image_id"),
        w.alias("w"),
        h.alias("h"),
        fmt.alias("fmt"),
        cdiv.alias("cdiv"),
        caption.alias("caption"),
    ).withColumn("nbytes", F.expr("(w * h) div cdiv"))
    cc = F.length("caption")
    r_size = (F.col("w") >= 64) & (F.col("h") >= 64)
    r_aspect = F.greatest("w", "h") <= 3 * F.least("w", "h")
    r_fmt = F.col("fmt") != "gif"
    r_caption = (cc >= 20) & (cc <= 65)
    r_bpp = F.col("nbytes") * 50 >= F.col("w") * F.col("h")
    return meta.select(
        "image_id",
        "w",
        "h",
        "fmt",
        "nbytes",
        cc.cast("long").alias("caption_chars"),
        r_size.alias("r_min_size"),
        r_aspect.alias("r_aspect"),
        r_fmt.alias("r_fmt"),
        r_caption.alias("r_caption"),
        r_bpp.alias("r_bpp"),
        (r_size & r_aspect & r_fmt & r_caption & r_bpp).alias("passes_all"),
    )


# ---------------------------------------------------------------------------
# Iterative BPE training, driver-checkable form — 2 greedy merge rounds
# over the corpus word vocabulary (operators/bpe.py is the general
# n_merges operator, pinned against an independent pure-Python
# reference in tests/test_bpe.py; this contract query unrolls exactly 2
# rounds so DuckDB can mirror them as chained CTEs). The non-trivial
# SQL piece is greedy LEFT-TO-RIGHT NON-OVERLAPPING merge application:
# match positions form gaps-and-islands; within each island of
# consecutive matches keep alternating positions ((i - island_start) %
# 2 = 0), then rebuild the symbol list dropping position i+1 for every
# kept i. Ties break (count DESC, 'a b' string ASC) on both engines.
def _bpe_sql_round(n: int) -> str:
    v, p, b, mm, k = f"v{n-1}", f"p{n}", f"b{n}", f"mm{n}", f"k{n}"
    return f"""
    {p} AS (
      SELECT syms[i] || ' ' || syms[i+1] AS pair, sum(wcount) AS n
      FROM (SELECT wcount, syms, unnest(range(1, len(syms))) AS i
            FROM {v} WHERE len(syms) >= 2)
      GROUP BY 1),
    {b} AS (SELECT string_split(pair, ' ')[1] AS a,
                   string_split(pair, ' ')[2] AS b
            FROM {p} ORDER BY n DESC, pair ASC LIMIT 1),
    {mm} AS (
      SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
      FROM (SELECT w, syms, unnest(range(1, len(syms))) AS i
            FROM {v} WHERE len(syms) >= 2)
      WHERE syms[i] = (SELECT a FROM {b}) AND syms[i+1] = (SELECT b FROM {b})),
    {k} AS (
      SELECT w, list(i) AS ks FROM (
        SELECT w, i, min(i) OVER (PARTITION BY w, grp) AS g0 FROM {mm})
      WHERE (i - g0) % 2 = 0 GROUP BY w),
    v{n} AS (
      SELECT v.w, v.wcount,
        list_transform(
          list_filter(range(1, len(v.syms)+1),
                      i -> NOT list_contains(coalesce(k.ks, []), i - 1)),
          i -> CASE WHEN list_contains(coalesce(k.ks, []), i)
                    THEN v.syms[i] || v.syms[i+1] ELSE v.syms[i] END) AS syms
      FROM {v} v LEFT JOIN {k} k USING (w))"""


@register(
    "bpe_train_2merges",
    f"""
    WITH wc AS (
      SELECT w, count(*) AS wcount
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
      GROUP BY w),
    v0 AS (SELECT w, wcount, string_split(w, '') AS syms FROM wc),
    {_bpe_sql_round(1)},
    {_bpe_sql_round(2)}
    SELECT w, wcount, array_to_string(syms, ' ') AS syms_str,
           (SELECT a || '+' || b FROM b1) AS merge1,
           (SELECT a || '+' || b FROM b2) AS merge2
    FROM v2
    """,
)
def bpe_train_2merges(spark, sf_dir):
    from web_scraper_spark.operators.bpe import bpe_train

    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wcount"))
    )
    merges, vocab = bpe_train(wc, 2)
    return vocab.select(
        "w",
        "wcount",
        F.array_join("syms", " ").alias("syms_str"),
        F.lit("+".join(merges[0])).alias("merge1"),
        F.lit("+".join(merges[1])).alias("merge2"),
    )
