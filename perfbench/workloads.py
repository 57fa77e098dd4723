"""The benchmark's workloads. Each is a closed loop: one driver process runs
one operation after another, checks its output and records timings.

- ``crawl_polite``: ``run_crawl`` over the first domains of a generated
  web, as many as fetch ``POLITE_PAGES`` distinct URLs, with robots, a
  politeness budget of eleven, contact dedup and the Bloom seen set. The hot
  host's 40-contact fan-out becomes a tail of small rounds, so per-round
  fixed cost (seen-set call, frontier staging, table appends) dominates and
  per-page work (fetch join, extract UDF, images) is small. Item: a fetch
  attempt. Operation: a round, timed between successive ``round-N``
  frontier commits.
- ``seen_volume``: 400k-URL batches through ``BloomURLSeenSet`` with the
  constructor defaults ``run_crawl`` uses (10% of URLs on one hot host,
  each batch half repeats of the previous one), then ``compact()``. Only
  the probe/insert kernels and the blob-state commits run; no crawl layer
  does. Item: a candidate URL. Operation: one ``filter_and_add`` call plus
  its ``count()``.

Each workload takes only generated inputs made from ``--seed``.

Crash and resume, crawl: the timed repetition copies its work directory
right after each ``round-N`` frontier commit, keeping the newest few
copies. A copy is the exact on-disk state a driver killed at that point
leaves behind. After the timed repetitions ``run_crawl(resume=True)`` runs
on the copy taken ``RESUME_CHAIN`` rounds before the end; the driver is
killed again right after each resumed run's first round commit, so the
copy yields ``RESUME_CHAIN`` resume samples, and the last resumed run
finishes the crawl, whose final state must equal the uncrashed one's. The
work directory is reached through a symlink, so the absolute paths in the
copied manifests resolve to the copy once the link is re-pointed.

Crash and resume, seen set: a fresh ``BloomURLSeenSet`` object reopens the
committed state, as a restarted driver would, and runs the next batch.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

POLITE_DOMAINS = 200  # size of the generated web
# Distinct URLs the timed crawl fetches. How many pages a domain has is the
# seed's draw: 160 domains fetched 459 to 549 across ten seeds, and as the
# wall time follows the rounds, not the pages, throughput followed the draw.
# Seeding the crawl with the first domains up to this many pages (as the
# oracle crawls them) gives every seed the same crawl size.
POLITE_PAGES = 480
# The hot host has 40 contact pages plus 0-3 images at depth 1, as the seed
# draws them; a budget of eleven spreads 40 to 43 of them over four rounds
# alike, so every seed's crawl has the same number of rounds (with a budget
# of ten, 41 took a fifth round of one page, and rounds dominate the wall).
POLITE_KW = dict(use_robots=True, politeness_budget=11, dedup_contacts=True, seen_mode="bloom")
POLITE_WARMUP_SEEDS = 6
POLITE_WARMUP_BUDGET = 40
RESUME_CHAIN = 2

SEEN_BATCH = 400_000
SEEN_WARMUP_BATCHES = 2
SEEN_RESUMES = 4


class InjectedCrash(BaseException):
    """Raised right after a round commit to kill the driver; a
    BaseException so no ``except Exception`` in the program catches it."""


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str
    trace: bool
    t_process: float
    session_start_s: float = 0.0
    tracer: object = None


@dataclass
class Result:
    session_start_s: float
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    items_per_s: float = 0.0
    op_s: list[float] = field(default_factory=list)
    resume_s: list[float] = field(default_factory=list)
    untraced_s: list[float] = field(default_factory=list)
    traced_s: list[float] = field(default_factory=list)
    traced_reps: list[dict] = field(default_factory=list)
    layer_counts: dict[str, float] = field(default_factory=dict)
    setup_parts: dict[str, float] = field(default_factory=dict)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def finish(self) -> None:
        """Session part of set-up and the traced-vs-untraced overhead."""
        self.setup_parts["session_s"] = self.session_start_s
        if self.traced_s and self.untraced_s:
            base = statistics.median(self.untraced_s)
            self.layer_counts["trace.overhead_pct"] = (
                100.0 * (statistics.median(self.traced_s) - base) / base)


class _Tracing:
    """Record spans under ``run`` for the duration of the block (no-op when
    ``run`` is None or the run is untraced)."""

    def __init__(self, ctx: Context, run: str | None):
        self.tracer = ctx.tracer if run else None
        self.run = run

    def __enter__(self):
        if self.tracer:
            self.tracer.enabled, self.tracer.run = True, self.run

    def __exit__(self, *exc):
        if self.tracer:
            self.tracer.enabled, self.tracer.run = False, None


def _install_tracer(ctx: Context) -> None:
    if ctx.trace:
        from spans import Tracer

        ctx.tracer = Tracer(ctx.spark)
        ctx.tracer.install()


# -- crawl_polite ----------------------------------------------------------
class RoundClock:
    """Wraps ``SnapshotTable.commit_dirs``: timestamps each ``round-N``
    frontier commit, copies the work directory after it when asked, and
    kills the driver after a resumed run's first commit when asked. Copy
    time is paused out of every timing. This is all an untraced run adds
    to the program."""

    def __init__(self):
        from web_scraper_spark.sources.tables import SnapshotTable

        self.commits: list[tuple[float, float]] = []  # (monotonic - paused, epoch)
        self.paused = 0.0
        self.snap_src: str | None = None  # copy this dir after each round
        self.copies: list[tuple[int, str]] = []  # newest RESUME_CHAIN + 1 kept
        self.resume_t0: float | None = None
        self.resume_s: list[float] = []
        self.crashes_left = 0
        original = SnapshotTable.commit_dirs
        clock = self

        def commit_dirs(table, dirs, tag=None, extra=None):
            original(table, dirs, tag, extra)
            if tag is not None and tag.startswith("round-"):
                clock.on_round(int(tag.split("-", 1)[1]))

        SnapshotTable.commit_dirs = commit_dirs
        self.close = lambda: setattr(SnapshotTable, "commit_dirs", original)

    def now(self) -> float:
        return time.monotonic() - self.paused

    def on_round(self, round_no: int) -> None:
        now = self.now()
        self.commits.append((now, time.time()))
        if self.resume_t0 is not None:
            self.resume_s.append(now - self.resume_t0)
            self.resume_t0 = None
            if self.crashes_left > 0:
                self.crashes_left -= 1
                raise InjectedCrash(round_no)
        if self.snap_src is not None:
            t = time.monotonic()
            dst = f"{self.snap_src}.round-{round_no}"
            shutil.copytree(self.snap_src, dst, symlinks=True)
            self.copies.append((round_no, dst))
            while len(self.copies) > RESUME_CHAIN + 1:
                shutil.rmtree(self.copies.pop(0)[1])
            self.paused += time.monotonic() - t


def _crawl_outputs(result) -> dict:
    docs = {}
    for r in result.company_records.collect():
        docs[r.domain] = (
            r.url, r.company_name, r.searchable_name, list(r.phone_numbers),
            list(r.social_media_links), list(r.addresses),
            list(r.social_media_profiles), list(r.normalized_phone_numbers),
        )
    images = (
        sorted((r.image_id, r.w, r.h, r.fmt, r.caption, r.phash) for r in result.images.collect())
        if result.images is not None else []
    )
    return {
        "log": sorted((r["round"], r.depth, r.seed_idx, r.url) for r in result.crawl_log.collect()),
        "url_seen": {r.url for r in result.url_seen.collect()},
        "docs": docs,
        "images": images,
    }


def check_crawl(got: dict, oracle) -> bool:
    """Contact dedup removes the reference's duplicate fetches, so the crawl
    order differs from the oracle's: no URL may be fetched twice at depth
    > 0, and the distinct fetched URLs and url_seen must equal the
    oracle's."""
    deep = [u for _, d, _, u in got["log"] if d > 0]
    return (
        len(deep) == len(set(deep))
        and {u for *_, u in got["log"]} == {u for *_, u in oracle.crawl_order}
        and got["url_seen"] == set(oracle.url_seen)
    )


def polite_seeds(seeds: list[str], rows) -> list[str]:
    """The shortest prefix of ``seeds`` (in domain order) whose crawl
    fetches at least ``POLITE_PAGES`` distinct URLs; all of them if the web
    has fewer."""
    from collections import Counter
    from urllib.parse import urlparse

    from web_scraper_spark.oracle.simulator import simulate

    full = simulate(seeds, rows, None, politeness_budget=POLITE_KW["politeness_budget"],
                    use_robots=POLITE_KW["use_robots"])
    pages = Counter(urlparse(u).netloc for u in {c[3] for c in full.crawl_order})
    total, counted = 0, set()
    for i, raw in enumerate(seeds):
        host = raw.rstrip("/").lower()
        if host and host not in counted:
            counted.add(host)
            total += pages[host]
            if total >= POLITE_PAGES:
                return seeds[: i + 1]
    return seeds


class _Crawl:
    """Seeds and crawl settings over a generated web, with the oracle's
    result for them; ``df`` is the loaded web."""

    def __init__(self, rows, seeds: list[str], kw: dict):
        from web_scraper_spark.oracle.simulator import simulate

        t = time.monotonic()
        self.seeds, self.kw = seeds, kw
        self.oracle = simulate(
            seeds, rows, None,
            politeness_budget=kw["politeness_budget"], use_robots=kw["use_robots"],
        )
        self.oracle_s = time.monotonic() - t
        self.df = None


def crawl_polite(ctx: Context) -> Result:
    from web_scraper_spark.sources.synthetic_web import build_web, web_host_df

    # input generation and the oracle are the benchmark's own cost, not set-up
    t = time.monotonic()
    seeds, rows = build_web(POLITE_DOMAINS, ctx.seed)
    main = _Crawl(rows, polite_seeds(seeds, rows), POLITE_KW)
    excluded = time.monotonic() - t
    # the warm-up crawls the first seeds (domain 0 is the hot host) with a
    # budget covering its fan-out, so it runs every code path in few rounds
    warm = _Crawl(rows, seeds[:POLITE_WARMUP_SEEDS],
                  {**POLITE_KW, "politeness_budget": POLITE_WARMUP_BUDGET})
    excluded += warm.oracle_s
    t = time.monotonic()
    main.df = warm.df = web_host_df(ctx.spark, POLITE_DOMAINS, ctx.seed).cache()
    main.df.count()
    load_s = time.monotonic() - t
    _install_tracer(ctx)
    clock = RoundClock()
    try:
        res = _crawl_loop(ctx, main, warm, excluded, clock)
    finally:
        clock.close()
        if ctx.tracer:
            ctx.tracer.uninstall()
    res.setup_parts["input_load_s"] = load_s
    return res


def _crawl_loop(ctx: Context, main: _Crawl, warm: _Crawl, excluded: float,
                clock: RoundClock) -> Result:
    from web_scraper_spark.plans import crawl as crawl_mod

    res = Result(ctx.session_start_s)
    n_reps = 0
    reference: dict | None = None  # outputs of the first full-size repetition
    link = os.path.join(ctx.work, "crawl")

    def point_link(target: str) -> None:
        if os.path.lexists(link):
            os.remove(link)
        os.symlink(target, link)

    def run(web: _Crawl, resume: bool) -> tuple[float, dict]:
        """``run_crawl``'s wall time (collecting its outputs excluded) and
        its outputs."""
        t0 = clock.now()
        result = crawl_mod.run_crawl(
            ctx.spark, web.seeds, web.df, None, workdir=link, resume=resume, **web.kw)
        wall = clock.now() - t0
        return wall, _crawl_outputs(result)

    def check(web: _Crawl, got: dict) -> bool:
        """Oracle check; full-size outputs must also equal the first
        full-size repetition's, whether traced, untraced or resumed."""
        nonlocal reference
        ok = check_crawl(got, web.oracle)
        if web is main:
            if reference is None and ok:
                reference = got
            ok = ok and got == reference
        res.record(ok)
        return ok

    def rep(web: _Crawl, run_id: str | None = None, snap: bool = False):
        """One checked repetition; returns (wall, outputs), or None if it
        raised. A wrong output is a failed op but keeps its timings."""
        nonlocal n_reps
        n_reps += 1
        real = os.path.join(ctx.work, f"rep-{n_reps}")
        os.makedirs(real)
        point_link(real)
        clock.commits.clear()
        clock.snap_src = real if snap else None
        try:
            with _Tracing(ctx, run_id):
                wall, got = run(web, resume=False)
        except Exception as e:  # noqa: BLE001 - a failed repetition is a failed op
            print(f"# repetition {n_reps} failed: {type(e).__name__}: {e}")
            res.record(False)
            return None
        finally:
            shutil.rmtree(real, ignore_errors=True)
            clock.snap_src = None
        check(web, got)
        return wall, got

    t = time.monotonic()
    rep(warm)
    t_timed = time.monotonic()
    res.setup_s = t_timed - ctx.t_process - excluded
    res.setup_parts["warmup_s"] = t_timed - t

    # timed: untraced repetitions until --seconds have passed (at least
    # one; the first takes the crash images), then in a traced run one
    # traced repetition. It runs warmer than the untraced one before it, so
    # trace.overhead_pct can read below zero.
    pages = 0

    def timed(run_id: str | None) -> None:
        nonlocal pages
        out = rep(main, run_id, snap=n_reps == 1)
        if out is None:
            return
        wall, got = out
        rounds = [b[0] - a[0] for a, b in zip(clock.commits, clock.commits[1:])]
        print(f"# repetition {n_reps}: {wall:.3f} s, rounds "
              + " ".join(f"{r:.3f}" for r in rounds))
        pages = len(got["log"])
        if run_id:
            res.traced_s.append(wall)
            res.traced_reps.append({"run": run_id, "rounds": [c[1] for c in clock.commits]})
        else:
            res.untraced_s.append(wall)
            res.op_s.extend(rounds)

    timed(None)
    while time.monotonic() - t_timed < ctx.seconds and res.failed < 3:
        timed(None)
    if ctx.trace:
        timed("rep-traced")
    # every repetition fetches the same pages
    res.items_per_s = pages / statistics.median(res.untraced_s) if res.untraced_s else 0.0

    # crash and resume on the copy taken RESUME_CHAIN rounds before the end
    copies, clock.copies = clock.copies, []
    if len(copies) == RESUME_CHAIN + 1:
        point_link(copies[0][1])
        clock.crashes_left = RESUME_CHAIN - 1
        try:
            while True:
                clock.resume_t0 = clock.now()
                try:
                    _, got = run(main, resume=True)
                    break
                except InjectedCrash:
                    continue
            check(main, got)
            res.resume_s.extend(clock.resume_s)
        except Exception as e:  # noqa: BLE001 - a failed resume is a failed op
            print(f"# resume failed: {type(e).__name__}: {e}")
            res.record(False)
    else:
        print(f"# resume skipped: the crawl committed only {len(copies)} rounds")
        res.record(False)
    for _, path in copies:
        shutil.rmtree(path, ignore_errors=True)

    blocked = len(reference["url_seen"] - {u for *_, u in reference["log"]}) if reference else 0
    res.layer_counts["robots.blocked_urls"] = blocked
    res.finish()
    return res


# -- seen_volume -----------------------------------------------------------
def seen_batch(spark, seed: int, i: int):
    """Batch ``i`` of the candidate stream: ids [i*B/2, i*B/2 + B), so each
    batch repeats the second half of the previous one; 10% of URLs sit on
    one hot host."""
    from pyspark.sql import functions as F

    lo = i * SEEN_BATCH // 2
    ids = spark.range(lo, lo + SEEN_BATCH)
    hot = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(10)) == 0
    host = F.when(hot, F.lit("hot")).otherwise(F.concat(
        F.lit("h"), F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(5000)).cast("string")))
    return ids.select(F.concat(
        F.lit("http://"), host, F.lit(f".test/s{seed}/p/"), F.col("id").cast("string"),
    ).alias("url"))


def seen_volume(ctx: Context) -> Result:
    from web_scraper_spark.operators.seen import BloomURLSeenSet

    spark = ctx.spark
    res = Result(ctx.session_start_s)

    def batch(seen, i: int, run: str | None = None) -> float | None:
        """One checked batch: the novel count must be exact (the first batch
        is all new, every later one half new). Returns its wall time, or
        None if it raised."""
        t0 = time.monotonic()
        try:
            with _Tracing(ctx, run):
                novel = seen.filter_and_add(seen_batch(spark, ctx.seed, i)).count()
        except Exception as e:  # noqa: BLE001 - a failed batch is a failed op
            print(f"# batch {i} failed: {type(e).__name__}: {e}")
            res.record(False)
            return None
        wall = time.monotonic() - t0
        res.record(novel == (SEEN_BATCH if i == 0 else SEEN_BATCH // 2))
        return wall

    _install_tracer(ctx)
    try:
        t = time.monotonic()
        warm = BloomURLSeenSet(spark, os.path.join(ctx.work, "seen-warm"))
        for i in range(SEEN_WARMUP_BATCHES):
            batch(warm, i)
        t_timed = time.monotonic()
        res.setup_s = t_timed - ctx.t_process
        res.setup_parts["warmup_s"] = t_timed - t

        root = os.path.join(ctx.work, "seen")
        seen = BloomURLSeenSet(spark, root)
        i = 0
        busy = 0.0
        # at least two batches; a traced run alternates untraced and traced
        # batches and ends on a traced one
        while i < 2 or time.monotonic() - t_timed < ctx.seconds or (ctx.trace and i % 2):
            run = f"batch-{i}" if ctx.trace and i % 2 else None
            wall = batch(seen, i, run)
            i += 1
            if wall is None:
                if res.failed >= 3:
                    break
                continue
            res.op_s.append(wall)
            busy += wall
            (res.traced_s if run else res.untraced_s).append(wall)
            if run:
                res.traced_reps.append({"run": run})
        t0 = time.monotonic()
        seen.compact()
        busy += time.monotonic() - t0
        res.items_per_s = len(res.op_s) * SEEN_BATCH / busy
        for _ in range(SEEN_RESUMES):
            wall = batch(BloomURLSeenSet(spark, root), i)
            i += 1
            if wall is not None:
                res.resume_s.append(wall)
    finally:
        if ctx.tracer:
            ctx.tracer.uninstall()
    res.layer_counts["robots.blocked_urls"] = 0
    res.finish()
    return res


WORKLOADS = {"crawl_polite": crawl_polite, "seen_volume": seen_volume}
