"""URL-seen set variants: exact vs Bloom vs Cuckoo agree at fixture
scale; Cuckoo supports deletion (re-crawl)."""

import pytest
from pyspark.sql import functions as F


def _urls(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("http://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string")).alias("url")
    )


def test_exact_bloom_cuckoo_agree(spark, tmp_path):
    from web_scraper_spark.operators.seen import (
        BloomURLSeenSet, CuckooURLSeenSet, URLSeenSet,
    )

    batch1 = _urls(spark, 0, 3000)
    batch2 = _urls(spark, 1500, 4500)  # half dupes
    all1 = {r.url for r in batch1.collect()}
    novel2 = {r.url for r in batch2.collect()} - all1

    for cls, kw in ((URLSeenSet, {}),
                    (BloomURLSeenSet, {"num_partitions": 8}),
                    (CuckooURLSeenSet, {"num_partitions": 8})):
        s = cls(spark, str(tmp_path / cls.__name__), **kw)
        # the approximate sets are sized for zero FP at this scale
        assert {r.url for r in s.filter_and_add(batch1).collect()} == all1, cls
        assert {r.url for r in s.filter_and_add(batch2).collect()} == novel2, cls


def test_cuckoo_deletion_allows_refetch(spark, tmp_path):
    from web_scraper_spark.operators.seen import CuckooURLSeenSet

    cuckoo = CuckooURLSeenSet(spark, str(tmp_path / "ck"), num_partitions=4)
    batch = _urls(spark, 0, 500)
    assert cuckoo.filter_and_add(batch).count() == 500
    assert cuckoo.filter_and_add(batch).count() == 0  # all seen
    # forget half -> they become fetchable again
    forget = _urls(spark, 0, 250)
    cuckoo.delete(forget)
    again = {r.url for r in cuckoo.filter_and_add(batch).collect()}
    assert again == {r.url for r in forget.collect()}


def test_crawl_dedup_seen_modes_agree(spark, tmp_path, monkeypatch):
    """The crawl's dedup path over Bloom/Cuckoo seen sets (sized for zero
    FP at fixture scale) produces the same final state as exact mode —
    and every mode makes ONE seen-set pass for the seeds and one per
    discovering round (depth 0 at the default max_depth=1): the last
    depth's rounds make none, and a round stages its insert in the pass
    that tests novelty."""
    from web_scraper_spark.operators import seen as seen_mod
    from web_scraper_spark.plans.crawl import run_crawl
    from web_scraper_spark.sources.synthetic_web import build_web, web_host_df

    seeds, web = build_web(15)
    webdf = web_host_df(spark, 15)

    passes = []
    for cls in (seen_mod.URLSeenSet, seen_mod._BlobStateSeenSet):
        def counting(self, candidates, _stage=vars(cls)["stage"]):
            passes.append(type(self).__name__)
            return _stage(self, candidates)

        monkeypatch.setattr(cls, "stage", counting)

    exact_log = exact_seen = None
    for mode in ("exact", "bloom", "cuckoo"):
        passes.clear()
        res = run_crawl(spark, seeds, webdf, None,
                        workdir=str(tmp_path / mode), dedup_contacts=True,
                        seen_mode=mode)
        got_log = sorted((r["round"], r.depth, r.seed_idx, r.url)
                         for r in res.crawl_log.collect())
        got_seen = {r.url for r in res.url_seen.collect()}
        if exact_log is None:
            exact_log, exact_seen = got_log, got_seen
        assert got_log == exact_log, mode
        assert got_seen == exact_seen, mode
        rounds = {rnd for rnd, _, _, _ in got_log}
        depth0_rounds = {rnd for rnd, depth, _, _ in got_log if depth == 0}
        assert len(rounds) > len(depth0_rounds) > 0, mode
        assert len(passes) == 1 + len(depth0_rounds), mode


def test_bloom_incremental_commits_dirty_partitions_only(spark, tmp_path):
    """VERDICT r4 item 5: a batch touching few partitions must commit
    only those partitions' bitsets (manifest-recorded), not rewrite all
    P blobs — and novelty semantics must be unchanged."""
    from web_scraper_spark.operators.seen import BloomURLSeenSet

    bloom = BloomURLSeenSet(spark, str(tmp_path / "bi"), num_partitions=8)
    assert bloom.filter_and_add(_urls(spark, 0, 2000)).count() == 2000

    manifest1 = bloom.table._read_manifest()
    dirs1 = bloom.table._current_dirs(manifest1)
    pid_map1 = bloom._dir_pid_map(manifest1)
    assert len(dirs1) == 1 and len(pid_map1[dirs1[0]]) == 8  # all dirty

    # batch 2: three urls -> at most 3 dirty partitions
    few = _urls(spark, 2000, 2003)
    assert bloom.filter_and_add(few).count() == 3
    manifest2 = bloom.table._read_manifest()
    dirs2 = bloom.table._current_dirs(manifest2)
    assert len(dirs2) == 2 and dirs2[0] == dirs1[0]  # append, no rewrite
    new_pids = bloom._dir_pid_map(manifest2)[dirs2[1]]
    assert 1 <= len(new_pids) <= 3

    # latest-wins state: everything seen so far filters to zero novel
    assert bloom.filter_and_add(_urls(spark, 0, 2003)).count() == 0

    # all-duplicate batch dirties nothing -> manifest-only no-op (no dir)
    n_dirs_before = len(bloom.table._current_dirs())
    assert bloom.filter_and_add(few).count() == 0
    assert len(bloom.table._current_dirs()) == n_dirs_before


def test_bloom_compact_collapses_generations(spark, tmp_path):
    """compact() must resolve latest-wins FIRST (a naive snapshot rewrite
    would read stale generations of a partition alongside fresh ones)."""
    from web_scraper_spark.operators.seen import BloomURLSeenSet

    bloom = BloomURLSeenSet(spark, str(tmp_path / "bc"), num_partitions=4)
    for lo in (0, 500, 1000):
        bloom.filter_and_add(_urls(spark, lo, lo + 700))
    assert len(bloom.table._current_dirs()) == 3
    bloom.compact()
    dirs = bloom.table._current_dirs()
    assert len(dirs) == 1
    assert bloom.table.read().count() == 4  # one blob per partition
    # semantics preserved: all seen urls stay seen, new urls stay novel
    assert bloom.filter_and_add(_urls(spark, 0, 1700)).count() == 0
    assert bloom.filter_and_add(_urls(spark, 1700, 1800)).count() == 100


def test_bloom_orphan_dir_is_invisible(spark, tmp_path):
    """The commit's crash window (bits dir renamed into data/, manifest
    not yet replaced) must leave the table reading the OLD state — the
    manifest, not the directory listing, defines the snapshot."""
    import os

    from web_scraper_spark.operators.seen import BloomURLSeenSet

    bloom = BloomURLSeenSet(spark, str(tmp_path / "bo"), num_partitions=4)
    batch = _urls(spark, 0, 800)
    bloom.filter_and_add(batch)

    # simulate the crash: an orphan data dir full of bogus bits
    orphan = bloom.table._new_data_dir()
    os.makedirs(orphan)
    spark.createDataFrame(
        [(0, bytes(bloom.m // 8))], "partition_id int, bits binary"
    ).write.mode("overwrite").parquet(orphan)

    # state read ignores the orphan; re-offering the batch finds 0 novel
    assert bloom.filter_and_add(batch).count() == 0


def test_cuckoo_incremental_commits_and_delete_dirty(spark, tmp_path):
    """Cuckoo shares the incremental blob-commit machinery: small batches
    and deletions commit only the touched partitions; all-duplicate
    batches commit nothing."""
    from web_scraper_spark.operators.seen import CuckooURLSeenSet

    ck = CuckooURLSeenSet(spark, str(tmp_path / "ci"), num_partitions=8)
    assert ck.filter_and_add(_urls(spark, 0, 1500)).count() == 1500
    dirs1 = ck.table._current_dirs()
    assert len(dirs1) == 1

    few = _urls(spark, 1500, 1502)
    assert ck.filter_and_add(few).count() == 2
    manifest = ck.table._read_manifest()
    dirs2 = ck.table._current_dirs(manifest)
    assert len(dirs2) == 2
    assert 1 <= len(ck._dir_pid_map(manifest)[dirs2[1]]) <= 2

    # all-dupe batch: nothing dirty, no new dir
    assert ck.filter_and_add(few).count() == 0
    assert len(ck.table._current_dirs()) == 2

    # deletion dirties only the touched partitions and makes urls novel again
    ck.delete(few)
    assert len(ck.table._current_dirs()) == 3
    # an uncommitted pass tests novelty and leaves the state untouched
    novel, commit = ck.stage(few)
    assert novel.count() == 2
    assert len(ck.table._current_dirs()) == 3

    # compact collapses generations, semantics preserved
    ck.compact()
    assert len(ck.table._current_dirs()) == 1
    assert ck.filter_and_add(_urls(spark, 0, 1500)).count() == 0
    assert ck.filter_and_add(few).count() == 2
    # two later passes collected the staged pass: its commit raises
    with pytest.raises(RuntimeError, match="expired"):
        commit()


def test_exact_seen_compact_dedups(spark, tmp_path):
    """ADVICE r1: two passes staged against the same state both hold
    every url once committed; compaction collapses the (hash, url)
    duplicates — URLSeenSet owns that."""
    from web_scraper_spark.operators.seen import URLSeenSet

    s = URLSeenSet(spark, str(tmp_path / "cse"))
    batch = _urls(spark, 0, 200)
    staged = [s.stage(batch), s.stage(batch)]
    assert [novel.count() for novel, _ in staged] == [200, 200]
    for _, commit in staged:
        commit()
    assert s.table.read().count() == 400
    s.compact()
    assert s.table.read().count() == 200
    # novelty unchanged by compaction
    assert s.filter_and_add(batch).count() == 0
