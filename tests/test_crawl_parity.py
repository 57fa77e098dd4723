"""End-to-end crawl parity vs the reference-oracle simulator
(SURVEY.md §5.2: crawl order, URL-seen set, final documents, images),
plus resumability (§5.2.6) and politeness-equivalence."""

import pytest

from web_scraper_spark.oracle.simulator import simulate
from web_scraper_spark.sources.synthetic_web import (
    build_web,
    company_names_rows,
    web_host_df,
)

N_DOMAINS = 25


@pytest.fixture(scope="module")
def fixture_web(spark):
    seeds, web = build_web(N_DOMAINS)
    names = company_names_rows(N_DOMAINS)
    return seeds, web, names, web_host_df(spark, N_DOMAINS)


def _run(spark, fixture_web, tmpdir, **kw):
    from web_scraper_spark.plans.crawl import run_crawl

    seeds, web, names, webdf = fixture_web
    return run_crawl(spark, seeds, webdf, names, workdir=str(tmpdir), **kw)


def _doc_rows(df):
    out = {}
    for r in df.collect():
        out[r.domain] = {
            "url": r.url,
            "company_name": r.company_name,
            "searchable_name": r.searchable_name,
            "phone_numbers": list(r.phone_numbers),
            "social_media_links": list(r.social_media_links),
            "addresses": list(r.addresses),
            "social_media_profiles": list(r.social_media_profiles),
            "normalized_phone_numbers": list(r.normalized_phone_numbers),
        }
    return out


def _oracle_docs(oracle):
    return {
        d: {k: v for k, v in doc.items() if k != "domain"}
        for d, doc in oracle.documents.items()
    }


def test_crawl_matches_oracle(spark, fixture_web, tmp_path):
    seeds, web, names, _ = fixture_web
    oracle = simulate(seeds, web, names)
    result = _run(spark, fixture_web, tmp_path / "run1")

    # crawl order: exact ordered equality under the canonical order
    got = sorted(
        (r["round"], r.depth, r.seed_idx, r.url) for r in result.crawl_log.collect()
    )
    assert got == oracle.crawl_order

    # URL-seen set: exact set equality
    assert {r.url for r in result.url_seen.collect()} == oracle.url_seen

    # documents: order-insensitive per-domain; list fields exact incl. order
    got_docs = _doc_rows(result.company_records)
    exp_docs = _oracle_docs(oracle)
    assert set(got_docs) == set(exp_docs)
    for d in exp_docs:
        assert got_docs[d] == exp_docs[d], d

    # images: id/shape/fmt/caption/phash rows
    got_imgs = sorted(
        (r.image_id, r.w, r.h, r.fmt, r.caption, r.phash)
        for r in result.images.collect()
    )
    exp_imgs = sorted(
        (i["image_id"], i["w"], i["h"], i["fmt"], i["caption"], i["phash"])
        for i in oracle.images
    )
    assert got_imgs == exp_imgs


def test_image_payload_invariants(spark, fixture_web, tmp_path):
    from pyspark.sql import functions as F

    from web_scraper_spark.operators.images import verify_images

    result = _run(spark, fixture_web, tmp_path / "run_img")
    captions = result.images.select("image_id", "caption")
    failures = verify_images(result.images, captions)
    assert failures.isEmpty()
    # and the lossy rows really are lossy (PSNR finite but >= 40)
    checked = result.images.where(F.col("fmt") == "jpeg")
    assert checked.count() > 0


def test_politeness_budget_same_final_state(spark, fixture_web, tmp_path):
    seeds, web, names, _ = fixture_web
    oracle = simulate(seeds, web, names, politeness_budget=3)
    result = _run(
        spark, fixture_web, tmp_path / "run_p", politeness_budget=3
    )
    got = sorted(
        (r["round"], r.depth, r.seed_idx, r.url) for r in result.crawl_log.collect()
    )
    assert got == oracle.crawl_order
    assert result.rounds == max(r for r, _, _, _ in oracle.crawl_order) + 1
    assert {r.url for r in result.url_seen.collect()} == oracle.url_seen
    assert _doc_rows(result.company_records) == _oracle_docs(oracle)


def test_resume_identical_final_state(spark, fixture_web, tmp_path):
    """Kill after round 0's commit; resume; final state must equal the
    uninterrupted run (SURVEY.md §5.2.6)."""
    seeds, web, names, webdf = fixture_web
    from web_scraper_spark.plans.crawl import run_crawl

    full = run_crawl(spark, seeds, webdf, names, workdir=str(tmp_path / "full"))

    # interrupted run: monkeypatch the loop to stop after the first round
    workdir = str(tmp_path / "interrupted")
    import web_scraper_spark.sources.tables as tables_mod

    original = tables_mod.SnapshotTable.commit_dirs
    calls = {"n": 0}

    def bomb(self, dirs, tag=None, extra=None):
        original(self, dirs, tag, extra)
        if tag is not None and tag.startswith("round-"):
            calls["n"] += 1
            if calls["n"] == 1:
                raise KeyboardInterrupt("simulated driver death")

    tables_mod.SnapshotTable.commit_dirs = bomb
    try:
        with pytest.raises(KeyboardInterrupt):
            run_crawl(spark, seeds, webdf, names, workdir=workdir)
    finally:
        tables_mod.SnapshotTable.commit_dirs = original

    resumed = run_crawl(
        spark, seeds, webdf, names, workdir=workdir, resume=True
    )
    assert _doc_rows(resumed.company_records) == _doc_rows(full.company_records)
    assert {r.url for r in resumed.url_seen.collect()} == {
        r.url for r in full.url_seen.collect()
    }
    got = sorted((r["round"], r.depth, r.seed_idx, r.url) for r in resumed.crawl_log.collect())
    exp = sorted((r["round"], r.depth, r.seed_idx, r.url) for r in full.crawl_log.collect())
    assert got == exp


def test_graft_dedup_mode_no_duplicate_fetches(spark, fixture_web, tmp_path):
    result = _run(spark, fixture_web, tmp_path / "dd", dedup_contacts=True)
    from pyspark.sql import functions as F

    dupes = (
        result.crawl_log.where(F.col("depth") > 0)
        .groupBy("url").count().where(F.col("count") > 1)
    )
    assert dupes.isEmpty()


@pytest.mark.parametrize("seen_mode", ["exact", "bloom", "cuckoo"])
def test_resume_dedup_mode_no_lost_discoveries(spark, fixture_web, tmp_path, seen_mode):
    """Review regression + ADVICE r1 (medium): with dedup_contacts=True, a
    crash between the frontier commit and the post-commit bookkeeping
    (discovered-log append, seen-set commit) must NOT lose that round's
    discoveries on resume — neither from the crawl (the seen set is
    restored from the checkpoint) nor from the reported url_seen set (the
    discovered log is written BEFORE the seen commit and re-appended on
    resume)."""
    seeds, web, names, webdf = fixture_web
    from web_scraper_spark.plans.crawl import run_crawl

    full = run_crawl(spark, seeds, webdf, names,
                     workdir=str(tmp_path / "full_d"),
                     dedup_contacts=True, seen_mode=seen_mode)

    workdir = str(tmp_path / "intr_d")
    import web_scraper_spark.sources.tables as tables_mod

    original = tables_mod.SnapshotTable.commit_dirs
    calls = {"n": 0}

    def bomb(self, dirs, tag=None, extra=None):
        original(self, dirs, tag, extra)
        # die right after the first round's frontier commit — before the
        # post-commit bookkeeping runs
        if tag == "round-0":
            calls["n"] += 1
            if calls["n"] == 1:
                raise KeyboardInterrupt("simulated driver death")

    tables_mod.SnapshotTable.commit_dirs = bomb
    try:
        with pytest.raises(KeyboardInterrupt):
            run_crawl(spark, seeds, webdf, names, workdir=workdir,
                      dedup_contacts=True, seen_mode=seen_mode)
    finally:
        tables_mod.SnapshotTable.commit_dirs = original

    resumed = run_crawl(spark, seeds, webdf, names, workdir=workdir,
                        resume=True, dedup_contacts=True, seen_mode=seen_mode)
    got = sorted((r["round"], r.depth, r.seed_idx, r.url)
                 for r in resumed.crawl_log.collect())
    exp = sorted((r["round"], r.depth, r.seed_idx, r.url)
                 for r in full.crawl_log.collect())
    assert got == exp
    assert {r.url for r in resumed.url_seen.collect()} == {
        r.url for r in full.url_seen.collect()
    }


def test_fresh_restart_after_reset_does_not_resume_stale_run(spark, fixture_web, tmp_path):
    """Review regression: a fresh run's reset must hide the previous
    run's round tags — resume after an interrupted fresh restart must
    NOT resurrect the old frontier."""
    seeds, web, names, webdf = fixture_web
    from web_scraper_spark.plans.crawl import run_crawl
    from web_scraper_spark.sources.tables import SnapshotTable

    workdir = str(tmp_path / "stale")
    run_crawl(spark, seeds, webdf, names, workdir=workdir)  # completed run

    # simulate a fresh restart that crashed before any round commit:
    # reset all tables (what the fresh path does first), then resume
    import os
    for sub in ("frontier", "crawl_log", "extracted_log", "company_records",
                "images", "discovered_log", "url_seen"):
        SnapshotTable(spark, os.path.join(workdir, sub)).reset()

    resumed = run_crawl(spark, seeds, webdf, names, workdir=workdir, resume=True)
    # last_tag hidden by the reset barrier -> a full fresh crawl ran
    from web_scraper_spark.oracle.simulator import simulate

    oracle = simulate(seeds, web, names)
    got = sorted((r["round"], r.depth, r.seed_idx, r.url)
                 for r in resumed.crawl_log.collect())
    assert got == oracle.crawl_order
