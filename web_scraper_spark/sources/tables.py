"""SnapshotTable — a minimal snapshot-versioned parquet table.

The production design calls for Apache Iceberg (SURVEY.md A7/H5): frontier
rounds committed atomically, tagged snapshots for resume, MERGE INTO for
the keyed upsert. No Iceberg runtime jar ships in this container, so this
module provides the same *contract* on plain parquet + a JSON manifest:

- every commit writes new parquet directories, then atomically renames a
  new manifest into place (POSIX rename = the commit point),
- snapshots are immutable lists of data directories (append = old + new),
- readers load the manifest's current snapshot only — a crashed writer
  leaves orphan directories, never a torn table,
- ``tag`` marks round checkpoints; ``resume`` finds the last committed one.

On a real cluster, swap this class for Iceberg's Spark catalog: ``append``
-> ``df.writeTo(t).append()``, ``overwrite`` -> ``overwritePartitions``,
``merge_into`` -> SQL ``MERGE INTO`` — call sites keep the same shape.

NOTE on scale: the manifest lists directories, not files, so manifest size
grows with commits, not rows; data files are written once and never
rewritten (append-only log + periodic compaction hook below).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"snapshots": [], "current": None}

    def _commit(
        self,
        dirs: list[str],
        tag: str | None,
        parent: dict,
        extra: dict | None = None,
    ) -> None:
        manifest = parent
        snap_id = (manifest["current"] or 0) + 1
        snap = {"id": snap_id, "dirs": dirs, "tag": tag, "ts": time.time()}
        if extra:
            snap["extra"] = extra
        manifest["snapshots"].append(snap)
        manifest["current"] = snap_id
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    def _new_data_dir(self) -> str:
        return os.path.join(self.root, "data", uuid.uuid4().hex)

    def _current_dirs(self, manifest: dict | None = None) -> list[str]:
        manifest = manifest or self._read_manifest()
        if manifest["current"] is None:
            return []
        snap = next(s for s in manifest["snapshots"] if s["id"] == manifest["current"])
        return snap["dirs"]

    # -- public API ---------------------------------------------------------
    def exists(self) -> bool:
        """True iff the CURRENT snapshot has data (a reset table does
        not 'exist' — keeps exists()/read() consistent)."""
        return bool(self._current_dirs())

    def read(self) -> DataFrame | None:
        dirs = self._current_dirs()
        if not dirs:
            return None
        return self.spark.read.parquet(*dirs)

    def append(self, df: DataFrame, tag: str | None = None) -> None:
        manifest = self._read_manifest()
        path = self._new_data_dir()
        df.write.mode("overwrite").parquet(path)
        self._commit(self._current_dirs(manifest) + [path], tag, manifest)

    def overwrite(self, df: DataFrame, tag: str | None = None) -> None:
        manifest = self._read_manifest()
        path = self._new_data_dir()
        df.write.mode("overwrite").parquet(path)
        self._commit([path], tag, manifest)

    # -- low-level pieces for callers managing their own data layout ------
    # (the crawl's frontier writes each depth ONCE partitioned by
    # politeness round, then per-round commits are manifest-only — write
    # amplification O(frontier/depth) instead of O(frontier x rounds))
    def write_data(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        """Write a data directory WITHOUT committing; returns its path.
        Uncommitted dirs are invisible orphans until commit_dirs lists
        them — a crash in between leaves the table untouched."""
        path = self._new_data_dir()
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path

    def commit_dirs(
        self, dirs: list[str], tag: str | None = None, extra: dict | None = None
    ) -> None:
        """Commit an explicit directory list (+ optional JSON metadata,
        readable back via snapshot_extra) as the new current snapshot —
        one manifest rename, no data movement."""
        self._commit(list(dirs), tag, self._read_manifest(), extra)

    def snapshot_extra(self, tag: str) -> dict | None:
        manifest = self._read_manifest()
        for snap in reversed(manifest["snapshots"]):
            if snap["tag"] == tag:
                return snap.get("extra") or {}
        return None

    RESET_TAG = "__reset__"

    def last_tag(self) -> str | None:
        """Most recent user tag — scanning stops at a reset barrier, so a
        fresh restart's reset hides the previous run's round tags from
        any later resume."""
        manifest = self._read_manifest()
        for snap in reversed(manifest["snapshots"]):
            if snap["id"] > (manifest["current"] or 0):
                continue
            if snap["tag"] == self.RESET_TAG:
                return None
            if snap["tag"]:
                return snap["tag"]
        return None

    def tags(self) -> list[str]:
        manifest = self._read_manifest()
        return [
            s["tag"] for s in manifest["snapshots"]
            if s["tag"] and s["tag"] != self.RESET_TAG
        ]

    def read_at_tag(self, tag: str) -> DataFrame | None:
        manifest = self._read_manifest()
        for snap in reversed(manifest["snapshots"]):
            if snap["tag"] == tag:
                if not snap["dirs"]:
                    return None
                return self.spark.read.parquet(*snap["dirs"])
        return None

    def reset(self) -> None:
        """Commit an empty snapshot — a fresh run over a dirty workdir
        must not read stale state, and the reset barrier also hides the
        old run's tags from ``last_tag`` (a crash right after a fresh
        restart must not resume the PREVIOUS run's frontier against
        freshly-reset logs)."""
        manifest = self._read_manifest()
        if manifest["current"] is not None:
            self._commit([], self.RESET_TAG, manifest)

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files`` analog:
        retain the newest ``keep_last`` snapshots plus the snapshot of
        the currently-VISIBLE tag (the one ``last_tag``/resume would use
        — preserving it through the same reset-barrier logic, so an
        expired history can never resurrect a pre-reset tag), rewrite the
        manifest, then delete data directories referenced only by expired
        snapshots. Returns the number of directories deleted.

        Crash-safe in the same sense as every commit here: the manifest
        rename happens BEFORE any deletion, so a crash mid-delete leaves
        unreferenced orphan dirs, never a dangling snapshot. Directories
        never referenced by any snapshot (in-flight ``write_data``
        output) are left alone. Single-writer assumption, as everywhere
        in this class."""
        import shutil

        manifest = self._read_manifest()
        if manifest["current"] is None:
            return 0
        snaps = [
            s for s in manifest["snapshots"] if s["id"] <= manifest["current"]
        ]
        keep = list(snaps[-max(keep_last, 1):])
        visible_tag = self.last_tag()
        if visible_tag is not None:
            tagged = next(
                s for s in reversed(snaps) if s["tag"] == visible_tag
            )
            if tagged["id"] not in {k["id"] for k in keep}:
                keep.append(tagged)
        keep_ids = {s["id"] for s in keep}
        keep_dirs = {d for s in keep for d in s["dirs"]}
        expired_dirs = sorted(
            {d for s in snaps if s["id"] not in keep_ids for d in s["dirs"]}
            - keep_dirs
        )
        new_manifest = {
            "snapshots": sorted(keep, key=lambda s: s["id"]),
            "current": manifest["current"],
        }
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(new_manifest, f)
        os.replace(tmp, self._manifest_path)
        for d in expired_dirs:
            shutil.rmtree(d, ignore_errors=True)
        return len(expired_dirs)

    def compact(self, dedup_cols: list[str] | None = None) -> None:
        """Rewrite the current snapshot as one directory (the Iceberg
        analogue is rewrite_data_files). Call between crawl epochs.
        ``dedup_cols``: logical-key columns to dropDuplicates on during
        the rewrite — for append-only tables whose appends are idempotent
        by key (e.g. the URL-seen table, where passes staged against the
        same state can each add a url), compaction is where the
        duplicates actually collapse."""
        dirs = self._current_dirs()
        if not dirs:
            return
        if dedup_cols is None and len(dirs) == 1:
            # already one directory and no logical-key dedup requested:
            # rewriting it would cost a full read+write job for an
            # identical snapshot (guide §1.2 — don't do passes that
            # change nothing)
            return
        df = self.read()
        if dedup_cols:
            df = df.dropDuplicates(dedup_cols)
        manifest = self._read_manifest()
        path = self._new_data_dir()
        df.write.mode("overwrite").parquet(path)
        self._commit([path], None, manifest)


def parquet_num_rows(path: str) -> int:
    """Total row count of a just-written parquet dir from file footers —
    a driver-side metadata read (no Spark job)."""
    import pathlib

    import pyarrow.parquet as pq

    total = 0
    for f in pathlib.Path(path).glob("*.parquet"):
        total += pq.ParquetFile(str(f)).metadata.num_rows
    return total


def merge_company_records(
    target: SnapshotTable, batch: DataFrame
) -> None:
    """MERGE INTO company_records semantics (reference
    storage_service.py:55-112): per-domain list union-dedup (first-seen
    order preserved), non-null scalar overwrite, skeleton on first insert.

    On Iceberg this is a single ``MERGE INTO`` statement; here it is a
    full-outer join + overwrite of the (bucketed-by-domain) table.
    """
    from pyspark.sql import functions as F

    current = target.read()
    if current is None:
        target.overwrite(batch, tag=None)
        return

    list_cols = [
        "phone_numbers", "social_media_links", "addresses",
        "social_media_profiles", "normalized_phone_numbers",
    ]
    scalar_cols = ["url", "company_name", "searchable_name"]

    t = current.alias("t")
    s = batch.alias("s")
    joined = t.join(s, on="domain", how="full_outer")
    merged = joined.select(
        F.col("domain"),
        *[
            # list union keeping first-seen order: existing ++ (new - existing)
            F.when(
                F.col(f"t.{c}").isNull(), F.coalesce(F.col(f"s.{c}"), F.array())
            )
            .when(F.col(f"s.{c}").isNull(), F.col(f"t.{c}"))
            .otherwise(
                F.concat(
                    F.col(f"t.{c}"),
                    F.array_except(F.col(f"s.{c}"), F.col(f"t.{c}")),
                )
            )
            .alias(c)
            for c in list_cols
        ],
        *[
            F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c)
            for c in scalar_cols
        ],
    )
    target.overwrite(merged)
