"""Priority-queue frontier: non-default priorities change the politeness
drain order deterministically, identically in engine and oracle."""

from pyspark.sql import functions as F

from web_scraper_spark.oracle.simulator import simulate
from web_scraper_spark.plans.crawl import run_crawl
from web_scraper_spark.sources.synthetic_web import build_web, web_host_df


def _collect_window(frontier, budget):
    from web_scraper_spark.operators.politeness import assign_rounds_window

    return assign_rounds_window(frontier, budget).collect()


def _collect_range(frontier, budget):
    from web_scraper_spark.operators.politeness import assign_rounds_range

    out, release = assign_rounds_range(frontier, budget)
    rows = out.collect()
    release()
    return rows


def test_custom_priority_matches_oracle(spark, tmp_path):
    seeds, web = build_web(15)
    webdf = web_host_df(spark, 15)

    # reverse-FIFO: later seeds drain first (a deliberately order-changing
    # priority), same rule on both sides
    def oracle_priority(url, host, depth, seed_idx):
        return -seed_idx

    def engine_priority(df):
        return -F.col("seed_idx")

    oracle = simulate(seeds, web, None, politeness_budget=2,
                      priority_fn=oracle_priority)
    default_oracle = simulate(seeds, web, None, politeness_budget=2)
    # the priority actually changed the schedule
    assert oracle.crawl_order != default_oracle.crawl_order
    # ...but not the crawled content (same set of work; only
    # order-dependent fields — last-writer url, list order — may differ)
    assert oracle.url_seen == default_oracle.url_seen

    def content(docs):
        return {
            d: {
                k: (sorted(v) if isinstance(v, list) else v)
                for k, v in doc.items()
                if k != "url"
            }
            for d, doc in docs.items()
        }

    assert content(oracle.documents) == content(default_oracle.documents)

    result = run_crawl(
        spark, seeds, webdf, None, workdir=str(tmp_path),
        politeness_budget=2, priority_expr=engine_priority,
    )
    got = sorted(
        (r["round"], r.depth, r.seed_idx, r.url) for r in result.crawl_log.collect()
    )
    assert got == oracle.crawl_order
    assert {r.url for r in result.url_seen.collect()} == oracle.url_seen


def test_politeness_tiebreak_is_raw_url_on_both_sides(spark):
    """ADVICE r1: rows sharing (priority, seed_idx) must tiebreak on the
    RAW frontier url in both the engine (ORDER_COLS) and the oracle
    (frontier_sort_key). The fixture pair flips order between raw and
    canonical forms ('HTTPS://...' sorts before 'http://...' raw, after
    it canonicalized), so a divergence would misassign rounds."""
    from web_scraper_spark.oracle.simulator import canonicalize, frontier_sort_key

    rows = [
        ("HTTPS://h.test/a", "h.test", 0, 0, "http://h.test", None, 0.0),
        ("http://h.test/x", "h.test", 0, 0, "http://h.test", None, 0.0),
    ]
    # sanity: this pair really distinguishes raw from canonical ordering
    raw_order = sorted(r[0] for r in rows)
    canon_order = sorted((r[0] for r in rows), key=canonicalize)
    assert raw_order != canon_order

    frontier = spark.createDataFrame(
        rows,
        "url string, host string, depth int, seed_idx long, seed_url string, "
        "caption string, priority double",
    )
    expected = {
        r[0]: rank
        for rank, r in enumerate(
            sorted(rows, key=lambda r: frontier_sort_key(r[6], r[3], r[0]))
        )
    }
    for method, rows in (
        ("window", _collect_window(frontier, 1)),
        ("range", _collect_range(frontier, 1)),
    ):
        got = {r["url"]: r["round_offset"] for r in rows}
        assert got == expected, method


def test_window_equals_range_property(spark):
    """Property: the skew-safe range scheduler equals the window baseline
    on randomized frontiers (hot hosts, duplicate priorities, many
    budgets) — guards the r2 default flip."""
    import random

    rng = random.Random(1234)
    rows = []
    for i in range(400):
        host = f"h{rng.choice([0, 0, 0, 0, 1, 2, 3, 4, 5, 6, 7])}.test"  # hot h0
        rows.append(
            (
                f"http://{host}/p/{rng.randrange(10_000)}",
                host,
                rng.randrange(2),
                rng.randrange(50),
                f"http://{host}",
                None,
                float(rng.randrange(4)),  # duplicate priorities on purpose
            )
        )
    frontier = spark.createDataFrame(
        rows,
        "url string, host string, depth int, seed_idx long, seed_url string, "
        "caption string, priority double",
    ).repartition(7)
    for budget in (1, 3, 17):
        w = {
            (r["url"], r["seed_idx"]): r["round_offset"]
            for r in _collect_window(frontier, budget)
        }
        g = {
            (r["url"], r["seed_idx"]): r["round_offset"]
            for r in _collect_range(frontier, budget)
        }
        assert w == g, budget


def test_range_cumcount_carry_across_arrow_batches(spark):
    """The range scheduler's local-rank pass must carry per-host counts
    across Arrow batch boundaries (mapInPandas splits a partition into
    ~10k-row batches by default; at test sizes the carry path never runs
    unless forced). Force 64-row batches over a 1,500-row hot host and
    pin equality with the window baseline."""
    import random

    rng = random.Random(77)
    rows = []
    for i in range(2000):
        host = "hot.test" if i % 4 else f"h{rng.randrange(5)}.test"
        rows.append(
            (
                f"http://{host}/p/{i}",
                host,
                0,
                rng.randrange(20),
                f"http://{host}",
                None,
                float(rng.randrange(3)),
            )
        )
    frontier = spark.createDataFrame(
        rows,
        "url string, host string, depth int, seed_idx long, seed_url string, "
        "caption string, priority double",
    ).repartition(5)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        got = {
            (r["url"], r["seed_idx"]): r["round_offset"]
            for r in _collect_range(frontier, 7)
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = {
        (r["url"], r["seed_idx"]): r["round_offset"]
        for r in _collect_window(frontier, 7)
    }
    assert got == want


def test_pagerank_priorities_drive_crawl(spark, tmp_path):
    """Integration: operators/pagerank output feeds run_crawl's
    priority_expr — link-rank-ordered politeness drains, identical in
    engine and oracle (the frontier-priority loop closed end to end)."""
    from web_scraper_spark.functions.urls import canonicalize_url
    from web_scraper_spark.oracle.simulator import canonicalize
    from web_scraper_spark.operators.pagerank import pagerank

    seeds, web = build_web(10)
    base = simulate(seeds, web, None, politeness_budget=1)

    # deterministic URL link graph over everything the crawl can see
    vs = sorted(base.url_seen)
    n = len(vs)
    v = spark.createDataFrame([(u,) for u in vs], "id string")
    e = spark.createDataFrame(
        [(vs[i], vs[(i * 7 + 3) % n]) for i in range(n) if (i * 7 + 3) % n != i],
        "src string, dst string",
    )
    rank_map = {r.id: r.rank for r in pagerank(v, e, iterations=3).collect()}

    def oracle_priority(url, host, depth, seed_idx):
        return -rank_map.get(canonicalize(url), 0.0)

    mapping = F.create_map(*[F.lit(x) for kv in rank_map.items() for x in kv])

    def engine_priority(df):
        return -F.coalesce(
            mapping[canonicalize_url(F.col("url"))], F.lit(0.0)
        )

    oracle = simulate(seeds, web, None, politeness_budget=1,
                      priority_fn=oracle_priority)
    assert oracle.crawl_order != base.crawl_order  # ranks really reorder
    result = run_crawl(
        spark, seeds, web_host_df(spark, 10), None,
        workdir=str(tmp_path), politeness_budget=1,
        priority_expr=engine_priority,
    )
    got = sorted(tuple(r) for r in result.crawl_log.collect())
    assert got == oracle.crawl_order
