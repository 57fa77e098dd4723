"""Per-host politeness scheduling + hot-host skew handling (SURVEY.md H3/H4).

The reference has no politeness (scope note in SURVEY.md); the graft rule:
at most ``budget`` fetches per host per round, hosts draining in
``(seed_idx, url)`` order — deterministic, so crawl order is reproducible.

Two equivalent implementations (tested equal on the skewed fixture):

- ``assign_rounds_window``: the textbook
  ``row_number().over(Window.partitionBy(host).orderBy(...))`` then
  ``floor(rank/budget)``. Correct everywhere, but a 10^9-URL hot host
  serializes into a single partition's sort — the classic window-skew
  bottleneck.
- ``assign_rounds_range``: skew-safe two-phase ranking. Range-partition by
  (host, seed_idx, url) so one hot host SPANS partitions while order is
  globally preserved; compute local per-host ranks in one Arrow pass; add
  per-(partition, host) prefix offsets computed from a tiny counts table
  (one row per host-fragment — #hosts + #partitions rows, driver-safe).
  No shuffle of the big table beyond the range partitioning itself.
  This is what ``assign_rounds`` runs; it returns ``(df, release)``, the
  ``session.materialize`` pair for the checkpoint it pins.

Salting (``salted_key``) is for the *fetch stage* partitioning — split a
hot host across S sub-partitions so its within-round fetches parallelize;
the politeness rank is computed per real host BEFORE salting (SURVEY.md §7
hard-part 5).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from web_scraper_spark.session import materialize


# priority first (the distributed priority-queue dimension: lower value
# drains earlier), then the deterministic tiebreak. The url tiebreak is
# the RAW frontier url — the oracle simulator's rounds_for sorts by the
# same raw key (oracle/simulator.py frontier_sort_key); engine and oracle
# must change together (CLAUDE.md invariant).
ORDER_COLS = ["priority", "seed_idx", "url"]


def assign_rounds_window(frontier: DataFrame, budget: int) -> DataFrame:
    """rank/round via a plain window — the semantics baseline."""
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in ORDER_COLS])
    return frontier.withColumn(
        "round_offset",
        ((F.row_number().over(w) - F.lit(1)) / F.lit(budget)).cast("long"),
    )


def _range_partition(frontier: DataFrame) -> DataFrame:
    """The one big shuffle: range-partition by (host, ORDER_COLS) so a hot
    host spans partitions with global order preserved, sort within each
    partition and tag rows with their partition id ``_pid``."""
    return (
        frontier.repartitionByRange(F.col("host"), *[F.col(c) for c in ORDER_COLS])
        .sortWithinPartitions("host", *ORDER_COLS)
        .withColumn("_pid", F.spark_partition_id())
    )


def _rank(with_pid: DataFrame, budget: int) -> DataFrame:
    """``round_offset`` over a ``_range_partition`` result: local ranks
    plus the straddling hosts' prefix offsets (see ``assign_rounds_range``)."""
    import pandas as pd  # noqa: F401 — mapInPandas dependency, import-checked here

    from pyspark.sql.types import LongType, StructField, StructType

    # fragment counts (metadata scale: one row per (partition, host));
    # running per-host prefix offset over _pid order, keep straddlers only
    counts = with_pid.groupBy("_pid", "host").agg(F.count("*").alias("_cnt"))
    w_off = (
        Window.partitionBy("host")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix_df = counts.select(
        "_pid",
        "host",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_offset"),
    ).where(F.col("_offset") > 0)

    out_schema = StructType(
        with_pid.schema.fields + [StructField("_local_rank", LongType())]
    )

    def local_ranks(batches):
        # rows arrive sorted by (host, ORDER_COLS) within the partition;
        # equal hosts are contiguous, so only the LAST host of a batch
        # can continue into the next batch — carry its running count
        carry_host, carry = None, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ranks = pdf.groupby("host", sort=False).cumcount()
            if carry_host is not None and pdf["host"].iloc[0] == carry_host:
                # sorted input: rows equal to carry_host form a prefix
                ranks = ranks + (pdf["host"] == carry_host) * carry
            last = pdf["host"].iloc[-1]
            n_last = int((pdf["host"] == last).sum())
            carry = n_last + (carry if last == carry_host else 0)
            carry_host = last
            out = pdf.copy()
            out["_local_rank"] = ranks
            yield out

    ranked = with_pid.mapInPandas(local_ranks, out_schema)
    return (
        ranked.join(F.broadcast(prefix_df), ["_pid", "host"], "left")
        .withColumn(
            "round_offset",
            ((F.col("_local_rank") + F.coalesce(F.col("_offset"), F.lit(0))) / F.lit(budget)).cast("long"),
        )
        .drop("_pid", "_local_rank", "_offset")
    )


def assign_rounds_range(
    frontier: DataFrame, budget: int
) -> tuple[DataFrame, Callable[[], None]]:
    """Skew-safe equivalent: range partition + local ranks + tiny prefix
    offsets broadcast back — fully distributed, nothing touches the
    driver, and the big table shuffles ONCE (the range partitioning).
    Returns ``(df, release)``.

    - Local per-(partition, host) ranks come from an Arrow ``cumcount``
      pass over the already-sorted partitions (``mapInPandas``, zero
      shuffle — a window over (_pid, host) would re-exchange the whole
      frontier because Catalyst cannot know the range partitioning
      already co-locates those keys).
    - Offsets: a host needs a nonzero offset only where it STRADDLES a
      partition boundary, and range partitioning by (host, ...) gives
      each partition a contiguous host range — so at most #partitions-1
      hosts straddle, regardless of the host count. The offsets table
      filtered to nonzero is therefore <= a few x #partitions rows:
      always broadcastable, even at 10^8 distinct hosts (the r2 form
      collected #hosts rows to the driver — VERDICT r2 scale-killer)
    - Materializing the range-shuffled input ONCE is LOAD-BEARING, not a
      perf hint: built lazily, the counts and ranks subtrees plan two
      independent range exchanges whose sampled boundaries (and
      AQE-coalesced reads) can diverge, mis-keying ``_pid``. The
      shuffled+sorted input is frozen with ``session.materialize`` (an
      eager localCheckpoint), so both subtrees read the same stored
      blocks by construction. Call ``release()`` once the assignment is
      durably consumed, so a many-depth crawl never accumulates pinned
      frontier copies (VERDICT r3 nit)."""
    with_pid, release = materialize(_range_partition(frontier))
    return _rank(with_pid, budget), release


def assign_rounds(
    frontier: DataFrame, budget: int | None
) -> tuple[DataFrame, Callable[[], None]]:
    """Adds ``round_offset`` (0 = fetch this round); returns ``(df,
    release)``. budget=None -> all 0, with a release that does nothing.

    Uses the skew-safe ``range`` scheduler: at the 10^9-hot-host design
    point the window form serializes one host into a single partition's
    sort (VERDICT r1). ``assign_rounds_window`` stays as the semantics
    baseline; the tests assert the two are identical."""
    if budget is None:
        return frontier.withColumn("round_offset", F.lit(0).cast("long")), lambda: None
    return assign_rounds_range(frontier, budget)


def salted_key(host: Column, url: Column, salt_buckets: int = 16) -> Column:
    """Fetch-stage partitioning key: ``host#pmod(xxhash64(url), S)`` —
    splits a hot host across S partitions (SURVEY.md H4)."""
    return F.concat(
        host, F.lit("#"), F.pmod(F.xxhash64(url), F.lit(salt_buckets)).cast("string")
    )
