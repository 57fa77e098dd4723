"""Partitioned URL-seen set (SURVEY.md F1 graft) — exact, Bloom and cuckoo modes.

The reference's seen set is an in-memory Python set at the seed producer
(run_url_producer.py:24,41-43). At a 10^10-URL frontier that set is ~1 TB
of strings — so the graft design is: canonicalize -> ``xxhash64`` ->
partition by hash -> per-partition membership.

Interchangeable implementations behind ``URLSeenSet``:

- **exact** (default; correctness runs): the seen set is a SnapshotTable
  ``url_seen(hash, url)`` bucketed by hash; novelty = left-anti join on
  (hash, url). This is itself scalable — a sort-merge anti-join against a
  hash-partitioned table — just heavier than Bloom at the extreme tail.
  False-positive budget 0 (BASELINE.md requirement for parity runs).
- **bloom** (bench scale): per-partition numpy bitsets persisted as
  binary blobs in ``url_seen_bloom(partition_id, bits)``. Candidates are
  repartitioned by ``pmod(xxhash64(url), P)`` and each partition's bitset
  is tested/updated inside one Arrow-batched ``applyInPandas`` cogroup —
  membership state never leaves the executors except as the updated
  blobs. False positives drop URLs (never re-fetch), which is the
  standard crawler trade; size the bitset for the target FP rate.

Every mode (exact, Bloom, and the cuckoo variant below) speaks one
protocol: a pass ``stage(candidates) -> (novel_urls, commit)`` that
returns the novel urls against the committed state and publishes its
insert only when ``commit()`` runs, and its committed-at-once form
``filter_and_add(candidates) -> novel_urls``.
Tests run every mode and assert identical output at fixture scale
(where Bloom is sized to zero collisions).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

from web_scraper_spark.sources.tables import SnapshotTable, parquet_num_rows

_NUM_BUCKETS = 32


class URLSeenSet:
    """Exact-mode seen set over a SnapshotTable ``(hash, url)``, each
    write laid out in ``_NUM_BUCKETS`` hash buckets."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.table = SnapshotTable(spark, root)

    def stage(
        self, candidates: DataFrame
    ) -> tuple[DataFrame, Callable[[], None]]:
        """One pass, committed LATER: returns the distinct NOVEL urls of
        ``candidates`` (column ``url`` only) and a ``commit()`` that adds
        them to the set. The novel rows are written ONCE as an
        uncommitted table dir (left-anti join on (hash, url): hash prunes
        the sort-merge, url equality makes it exact); ``commit()`` lists
        that dir in a manifest-only commit — no rename, so the returned
        frame stays readable after it. Until then the table reads the old
        state. A pass with zero novel urls leaves no dir and commits
        nothing."""
        cand = candidates.select("url").dropDuplicates(["url"]).withColumn(
            "hash", F.xxhash64(F.col("url"))
        )
        seen = self.table.read()
        if seen is not None:
            cand = cand.join(seen, ["hash", "url"], "left_anti")
        path = self.table.write_data(
            cand.repartition(_NUM_BUCKETS, F.col("hash")).select("hash", "url")
        )
        if parquet_num_rows(path) == 0:
            shutil.rmtree(path, ignore_errors=True)
            return self.spark.createDataFrame([], "url string"), lambda: None

        def commit() -> None:
            self.table.commit_dirs(self.table._current_dirs() + [path])

        return self.spark.read.parquet(path).select("url"), commit

    def filter_and_add(self, candidates: DataFrame, *compat: bool) -> DataFrame:
        """``stage`` plus an immediate ``commit()``: returns the novel urls
        and persists them. ``compat`` only absorbs the positional ``True``
        that perfbench/selftest.py's wrapper forwards (the former insert
        flag); any other value raises — a deferred insert is ``stage``."""
        if compat not in ((), (True,)):
            raise TypeError("filter_and_add always inserts; use stage()")
        novel, commit = self.stage(candidates)
        commit()
        return novel

    def compact(self) -> None:
        """Compaction owns the logical-key dedup: passes staged against
        the same state before either commits can both hold a url, and
        those duplicates collapse here, keeping the table size
        O(distinct urls)."""
        self.table.compact(dedup_cols=["hash", "url"])


_BLOOM_STATE_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("bits", BinaryType()),
    ]
)
_BLOOM_OUT_SCHEMA = StructType(
    [
        StructField("kind", StringType()),  # 'url' | 'bits'
        StructField("url", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("bits", BinaryType()),
    ]
)


def _next_scratch(root: str, keep: int = 2) -> str:
    """Allocate a scratch dir for the write-once materialization and
    garbage-collect all but the ``keep`` most recent ones (the previous
    call's returned DataFrame may still reference its dir lazily; two
    generations is the documented lifetime)."""
    base = os.path.join(root, "scratch")
    os.makedirs(base, exist_ok=True)
    existing = sorted(
        (os.path.join(base, d) for d in os.listdir(base)),
        key=os.path.getmtime,
    )
    for old in existing[: max(0, len(existing) - (keep - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return os.path.join(base, uuid.uuid4().hex)


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates the position bases from the
    partition key. Without this, partitioning by ``hash % P`` pins the low
    bits of every hash in a partition, collapsing ``hash % m`` (m a power
    of two) onto m/P possible values and inflating the FP rate ~1000x."""
    h = h + np.uint64(0x9E3779B97F4A7C15)
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def _bloom_positions(hashes: np.ndarray, k: int, m: int) -> np.ndarray:
    """k positions per hash via double hashing h1 + i*h2 (Kirsch-
    Mitzenmacher) over independently mixed bases; vectorized numpy,
    shape (n, k)."""
    raw = hashes.astype(np.uint64)
    h1 = _mix64(raw)
    h2 = _mix64(raw ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


class _BlobStateSeenSet(URLSeenSet):
    """Shared machinery for seen sets whose state is P per-partition
    binary blobs in a SnapshotTable (Bloom bitsets, cuckoo slot tables):
    incremental dirty-partition commits, latest-wins reads, and the
    compaction that collapses generations (VERDICT r4 item 5).
    ``filter_and_add`` is the exact set's, over this ``stage``."""

    P: int

    _PIDS_KEY = "blob_dir_pids"

    def _dir_pid_map(self, manifest: dict) -> dict:
        """dir -> list[pid] for INCREMENTAL state dirs of the current
        snapshot (carried in the snapshot's extra); dirs absent from the
        map are FULL snapshots (every partition) from compact/legacy."""
        cur = manifest.get("current")
        if cur is None:
            return {}
        snap = next(s for s in manifest["snapshots"] if s["id"] == cur)
        return (snap.get("extra") or {}).get(self._PIDS_KEY, {})

    def _state(self) -> DataFrame:
        """Latest-wins view, one row per partition. Dirs are read
        NEWEST-first; an incremental dir contributes only its recorded
        dirty pids (minus pids already claimed by a newer dir); the first
        FULL dir contributes the remainder and shadows everything older.
        No extra shuffle — the cogroup repartitions state regardless."""
        manifest = self.table._read_manifest()
        dirs = self.table._current_dirs(manifest)
        if not dirs:
            return self.spark.createDataFrame([], _BLOOM_STATE_SCHEMA)
        pid_map = self._dir_pid_map(manifest)
        frames: list[DataFrame] = []
        claimed: set[int] = set()
        for d in reversed(dirs):
            df = self.spark.read.parquet(d).select("partition_id", "bits")
            pids = pid_map.get(d)
            if pids is None:  # full snapshot dir — take the rest, stop
                if claimed:
                    df = df.where(~F.col("partition_id").isin(*claimed))
                frames.append(df)
                break
            take = [p for p in pids if p not in claimed]
            if take:
                frames.append(df.where(F.col("partition_id").isin(*take)))
                claimed.update(take)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def compact(self) -> None:
        """Collapse the incremental generations into ONE full dir holding
        the latest blob per partition (latest-wins resolved first — a
        plain snapshot rewrite would resurrect stale generations)."""
        if not self.table.exists():
            return
        self.table.overwrite(self._state())

    def _read_novel_urls(self, url_dir: str) -> DataFrame:
        if not os.path.isdir(url_dir):  # zero novel URLs in the batch
            return self.spark.createDataFrame([], "url string")
        return self.spark.read.parquet(url_dir).select("url")

    def _commit_dirty_bits(self, bits_dir: str) -> None:
        """Rename the scratch bits subdir into the table and commit it
        manifest-only, recording which pids it carries (the latest-wins
        read needs that to shadow older generations without opening
        them). Crash windows match append(): before the rename nothing
        changed; between rename and manifest replace the dir is an
        unreferenced orphan — the table still reads the old state."""
        if not os.path.isdir(bits_dir):  # no dirty partitions
            return
        import pathlib

        import pyarrow.parquet as pq

        pids: list[int] = []
        for f in pathlib.Path(bits_dir).glob("*.parquet"):
            pids.extend(
                pq.read_table(str(f), columns=["partition_id"])
                .column("partition_id").to_pylist()
            )
        manifest = self.table._read_manifest()
        new_dir = self.table._new_data_dir()
        os.replace(bits_dir, new_dir)
        pid_map = dict(self._dir_pid_map(manifest))
        pid_map[new_dir] = sorted(pids)
        self.table.commit_dirs(
            self.table._current_dirs(manifest) + [new_dir],
            extra={self._PIDS_KEY: pid_map},
        )

    def _merge_fn(self):
        """The per-partition cogroup kernel ``merge(key, cand, state)``:
        emits the partition's novel urls (``kind='url'``) and, when its
        blob changed, the new blob (``kind='bits'``)."""
        raise NotImplementedError

    def stage(
        self, candidates: DataFrame
    ) -> tuple[DataFrame, Callable[[], None]]:
        """One pass with the insert ON, committed LATER: returns the NOVEL
        URLS (column ``url`` only) against the current state, and a
        ``commit()`` that publishes the pass's dirty blobs. Until
        ``commit()`` runs the table still reads the old state, so callers
        that must checkpoint between discovering and committing novelty
        (the crawl loop) stage, checkpoint, then commit — one cogroup, not
        a test pass plus an insert pass. Callers needing the full
        candidate rows join against the result — the common paths
        (counting, enqueueing plain URLs) skip that second shuffle.

        State commits are INCREMENTAL (VERDICT r4 item 5): merge emits a
        blob only for DIRTY partitions, the scratch write splits urls/bits
        via partitionBy, and ``commit()`` renames the bits subdir into the
        table and commits it manifest-only — per batch the state I/O is
        O(touched partitions) written ONCE, never a whole-table rewrite.
        At the 10^10 design point (1024 x 1 GiB bitsets) a batch touching
        5% of partitions commits ~50 GiB instead of 2 TiB. All dirty blobs
        land in ONE dir + ONE manifest rename, so the commit stays atomic
        — there is no partial-blob crash window. The scratch dir lives two
        seen-set passes (``_next_scratch``), so commit before the next
        pass."""
        return self._pass(candidates, self._merge_fn())

    def _pass(
        self, candidates: DataFrame, merge
    ) -> tuple[DataFrame, Callable[[], None]]:
        cand = candidates.withColumn("hash", F.xxhash64(F.col("url"))).withColumn(
            "partition_id", F.pmod(F.col("hash"), F.lit(self.P)).cast("int")
        )
        result = (
            cand.groupBy("partition_id")
            .cogroup(self._state().groupBy("partition_id"))
            .applyInPandas(merge, _BLOOM_OUT_SCHEMA)
        )
        # single materialization, split by kind at write time: urls and
        # dirty blobs land in sibling subdirs of one scratch write —
        # caching 10^7 url rows in executor memory and recomputing the
        # cogroup are both avoided, and the bits subdir is committed by
        # RENAME instead of a second Spark write.
        scratch = _next_scratch(self.table.root)
        result.write.mode("overwrite").partitionBy("kind").parquet(scratch)

        def commit() -> None:
            # a missing bits subdir means "nothing dirty"; a missing
            # scratch dir means a later pass collected it — raise rather
            # than silently drop the staged insert
            if not os.path.isdir(scratch):
                raise RuntimeError(f"staged seen-set pass {scratch} expired")
            self._commit_dirty_bits(os.path.join(scratch, "kind=bits"))

        return self._read_novel_urls(os.path.join(scratch, "kind=url")), commit


class BloomURLSeenSet(_BlobStateSeenSet):
    """Bloom-mode seen set: per-partition bitsets in a SnapshotTable.

    ``bits_per_partition`` defaults to 2^23 bits (1 MiB) per partition;
    with k=7 that holds ~600k URLs/partition at <1% FP. Size up for the
    10^10 design point: 1024 partitions x 2^33 bits = 1 TiB of bitset
    spread across executors, ~10^10 URLs at <1% FP.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_partitions: int = 32,
        bits_per_partition: int = 1 << 23,
        num_hashes: int = 7,
    ):
        super().__init__(spark, root)
        self.P = num_partitions
        self.m = bits_per_partition
        self.k = num_hashes

    def _merge_fn(self):
        """Bloom kernel: a url is novel unless all k of its bits are set;
        novel urls set their bits (``bits |= positions(novel)``), and a
        partition is dirty when it had >=1 novel url."""
        m, k = self.m, self.k

        def merge(key, cand_iter: pd.DataFrame, state_df: pd.DataFrame) -> pd.DataFrame:
            pid = int(key[0])
            if len(state_df) and state_df["bits"].iloc[0] is not None:
                bits = np.frombuffer(state_df["bits"].iloc[0], dtype=np.uint8).copy()
            else:
                bits = np.zeros(m // 8, dtype=np.uint8)
            frames = []
            dirty = False
            if len(cand_iter):
                # fully vectorized: dedup batch, test all, then set bits
                cand_iter = cand_iter.drop_duplicates("url")
                hashes = cand_iter["hash"].to_numpy().astype(np.int64).view(np.uint64)
                pos = _bloom_positions(hashes, k, m)
                bytes_idx = pos >> 3
                masks = (1 << (pos & 7)).astype(np.uint8)
                present = ((bits[bytes_idx] & masks) == masks).all(axis=1)
                fresh = ~present
                if fresh.any():
                    np.bitwise_or.at(
                        bits, bytes_idx[fresh].ravel(), masks[fresh].ravel()
                    )
                    dirty = True  # a fresh URL always sets >=1 new bit
                out_urls = cand_iter["url"].to_numpy()[fresh]
                frames.append(
                    pd.DataFrame(
                        {
                            "kind": "url",
                            "url": out_urls,
                            "partition_id": pid,
                            "bits": None,
                        }
                    )
                )
            if dirty:
                frames.append(
                    pd.DataFrame(
                        {
                            "kind": ["bits"],
                            "url": [None],
                            "partition_id": [pid],
                            "bits": [bits.tobytes()],
                        }
                    )
                )
            if not frames:
                return pd.DataFrame(
                    {"kind": [], "url": [], "partition_id": [], "bits": []}
                )
            return pd.concat(frames, ignore_index=True)

        return merge



def _cuckoo_fp(h: np.ndarray) -> np.ndarray:
    fp = (_mix64(h) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 means empty slot
    return fp


def _cuckoo_indices(h: np.ndarray, fp: np.ndarray, m: int):
    mu = np.uint64(m)
    i1 = (_mix64(h ^ np.uint64(0x1234567887654321)) % mu).astype(np.int64)
    alt = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) % mu
    i2 = ((i1.astype(np.uint64) ^ alt) % mu).astype(np.int64)
    return i1, i2


class CuckooURLSeenSet(_BlobStateSeenSet):
    """Cuckoo-filter mode: per-partition partial-key cuckoo tables
    (buckets x 4 slots of 16-bit fingerprints) behind the same
    ``stage``/``filter_and_add`` interface as Bloom. Trade-offs vs Bloom:
    supports DELETION (re-crawl scheduling can forget URLs) and ~same
    space at <3% load penalty; inserts can fail at very high load
    (items then pass through as novel — fail-open, never drops novel
    URLs silently beyond the standard FP rate).

    Lookups are fully vectorized; inserts walk an eviction loop per
    *novel* item inside the Arrow batch (bounded 500 kicks).
    """

    MAX_KICKS = 500

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_partitions: int = 32,
        buckets_per_partition: int = 1 << 18,  # x4 slots x 2B = 2 MiB
    ):
        if buckets_per_partition & (buckets_per_partition - 1):
            # the partial-key alternate index i2 = i1 XOR h(fp) is only an
            # involution (evicted items stay findable) when m is a power
            # of two
            raise ValueError("buckets_per_partition must be a power of two")
        super().__init__(spark, root)
        self.P = num_partitions
        self.m = buckets_per_partition

    def _merge_fn(self, delete: bool = False):
        """Cuckoo kernel. delete=False: novel urls are the ones whose
        fingerprint is in neither candidate bucket, and each is inserted
        (in the batch's order). delete=True: removes the given urls'
        fingerprints instead and emits no urls. Only partitions whose
        slot table actually CHANGED (an insert landed or a deletion
        zeroed a slot) emit a blob."""
        m, max_kicks = self.m, self.MAX_KICKS
        # plain module functions only — a bound method would drag `self`
        # (and its SparkSession) into the executor closure
        fingerprint = _cuckoo_fp
        indices = _cuckoo_indices

        def merge(key, cand_iter: pd.DataFrame, state_df: pd.DataFrame) -> pd.DataFrame:
            pid = int(key[0])
            if len(state_df) and state_df["bits"].iloc[0] is not None:
                slots = np.frombuffer(state_df["bits"].iloc[0], dtype=np.uint16).reshape(m, 4).copy()
            else:
                slots = np.zeros((m, 4), dtype=np.uint16)
            frames = []
            changed = False
            if len(cand_iter):
                cand_iter = cand_iter.drop_duplicates("url")
                h = cand_iter["hash"].to_numpy().astype(np.int64).view(np.uint64)
                fp = fingerprint(h)
                i1, i2 = indices(h, fp, m)
                # vectorized membership: fp present in bucket i1 or i2
                present = (
                    (slots[i1] == fp[:, None]).any(axis=1)
                    | (slots[i2] == fp[:, None]).any(axis=1)
                )
                if delete:
                    for row in np.nonzero(present)[0]:
                        for b in (i1[row], i2[row]):
                            hit = np.nonzero(slots[b] == fp[row])[0]
                            if len(hit):
                                slots[b, hit[0]] = 0
                                changed = True
                                break
                    novel_urls = np.array([], dtype=object)
                else:
                    fresh = np.nonzero(~present)[0]
                    import random as _random

                    rng = _random.Random(pid)
                    for row in fresh:
                        f = fp[row]
                        placed = False
                        for b in (i1[row], i2[row]):
                            empty = np.nonzero(slots[b] == 0)[0]
                            if len(empty):
                                slots[b, empty[0]] = f
                                placed = changed = True
                                break
                        if not placed:
                            b = i1[row]
                            path: list[tuple[int, int]] = []
                            for _ in range(max_kicks):
                                s = rng.randrange(4)
                                path.append((b, s))
                                f, slots[b, s] = slots[b, s], f
                                b = int((np.uint64(b) ^ ((np.uint64(f) * np.uint64(0x5BD1E995)) % np.uint64(m))) % np.uint64(m))
                                empty = np.nonzero(slots[b] == 0)[0]
                                if len(empty):
                                    slots[b, empty[0]] = f
                                    placed = changed = True
                                    break
                            if not placed:
                                # kick exhaustion: UNDO the eviction chain
                                # so no previously-stored fingerprint is
                                # lost — only the NEW item passes through
                                # unstored (fail-open)
                                for b_undo, s_undo in reversed(path):
                                    f, slots[b_undo, s_undo] = slots[b_undo, s_undo], f
                    novel_urls = cand_iter["url"].to_numpy()[fresh]
                if len(novel_urls):
                    frames.append(
                        pd.DataFrame(
                            {"kind": "url", "url": novel_urls,
                             "partition_id": pid, "bits": None}
                        )
                    )
            if changed:
                frames.append(
                    pd.DataFrame(
                        {"kind": ["bits"], "url": [None], "partition_id": [pid],
                         "bits": [slots.tobytes()]}
                    )
                )
            if not frames:
                return pd.DataFrame(
                    {"kind": [], "url": [], "partition_id": [], "bits": []}
                )
            return pd.concat(frames, ignore_index=True)

        return merge

    def delete(self, urls: DataFrame) -> None:
        _, commit = self._pass(urls, self._merge_fn(delete=True))
        commit()
