"""Snapshot store + checkpoint: Iceberg-semantics table log over parquet.

The sandbox ships no Iceberg runtime jar, so this module provides the
same contract the production engine would get from an Iceberg catalog —
append-only snapshots with ids, parent links, per-file (per-partition)
lineage and metrics manifests, time-travel reads, and INCREMENTAL reads
between two snapshot ids (the driver of the continuous-aggregate
refresh, replacing the reference's recompute-per-scrape,
/root/reference/src/http_handler/mod.rs:16-29).  Swapping in a real
Iceberg table means replacing SnapshotStore with
``spark.read.format("iceberg")`` + ``option("start-snapshot-id", …)`` —
the IncrementalRollup logic (incremental.py) is unchanged.

Layout:
    <root>/data/<snapshot>/<files>.parquet     append-only data files
    <root>/_manifests/v{N:08d}.json            one manifest per snapshot

Manifests are deterministic (no wall clock): snapshot ids are dense
integers; lineage records per-file row counts and ts min/max harvested
from parquet footers (the analog of Iceberg's column stats, used for
file skipping), and ``schema`` records the appended DataFrame's schema
so reads skip Spark's parquet schema inference (one Spark job per
read).  Reads parse only the manifests of the requested range: the
current id is the newest manifest's file name, and expiry always
tombstones a prefix, so a range is expired exactly when its first
manifest is a tombstone.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class SnapshotExpiredError(RuntimeError):
    """A read requested snapshots whose data files were expired."""


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ------------------------------------------------------------ write

    def append(self, df: DataFrame) -> int:
        """Append rows as a new snapshot; returns the new snapshot id.

        The write forces TIMESTAMP_MICROS: Spark's legacy INT96
        timestamp encoding writes NO parquet min/max stats, which
        silently left every manifest's ts_min/ts_max lineage as None —
        the column stats this module exists to harvest (file skipping,
        lateness profiling) require the annotated int64 encoding.
        """
        sid = self.current_snapshot_id() + 1
        out_dir = os.path.join(self.root, "data", f"s{sid:08d}")
        spark = df.sparkSession
        key = "spark.sql.parquet.outputTimestampType"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try:
            df.write.mode("overwrite").parquet(out_dir)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        files = sorted(
            os.path.relpath(p, self.root)
            for p in glob.glob(os.path.join(out_dir, "*.parquet"))
        )
        lineage = self._file_stats(files)
        self._commit(
            {
                "snapshot_id": sid,
                "parent_id": sid - 1 if sid > 1 else None,
                "files": files,
                "schema": df.schema.jsonValue(),
                "lineage": lineage,
                "metrics": {
                    "added_files": len(files),
                    "added_rows": sum(s["rows"] for s in lineage.values()),
                },
            }
        )
        return sid

    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self.root, "_manifests", f"v{sid:08d}.json")

    def _commit(self, manifest: dict) -> None:
        """Write a manifest atomically (tmp + rename): a crash before
        the rename leaves the previous state."""
        sid = manifest["snapshot_id"]
        tmp = os.path.join(self.root, "_manifests", f".v{sid:08d}.json.tmp")
        final = self._manifest_path(sid)
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.rename(tmp, final)

    def _file_stats(self, files: list[str]) -> dict:
        import pyarrow.parquet as pq

        stats = {}
        for rel in files:
            md = pq.ParquetFile(os.path.join(self.root, rel)).metadata
            ts_min = ts_max = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "ts" and col.statistics:
                        lo, hi = col.statistics.min, col.statistics.max
                        ts_min = lo if ts_min is None else min(ts_min, lo)
                        ts_max = hi if ts_max is None else max(ts_max, hi)
            stats[rel] = {
                "rows": md.num_rows,
                "ts_min": str(ts_min),
                "ts_max": str(ts_max),
            }
        return stats

    # ------------------------------------------------------------- read

    def manifests(self) -> list[dict]:
        return [
            self._manifest(sid) for sid in range(1, self.current_snapshot_id() + 1)
        ]

    def _manifest(self, sid: int) -> dict:
        with open(self._manifest_path(sid)) as f:
            return json.load(f)

    def current_snapshot_id(self) -> int:
        """The newest manifest's id, from its file name (no parse)."""
        names = [
            n
            for n in os.listdir(os.path.join(self.root, "_manifests"))
            if n.startswith("v") and n.endswith(".json")
        ]
        return int(max(names)[1:-5]) if names else 0

    def expire_snapshots(self, up_to: int, applied_watermark: int) -> dict:
        """Iceberg ``expire_snapshots`` analog, gated on the refresh
        watermark: data files of snapshots ≤ ``up_to`` are deleted ONLY
        if the incremental job has already applied them
        (``applied_watermark`` = IncrementalRollup.checkpoint()
        ["snapshot_id"]) — their aggregate contribution lives on in the
        rollup tiers, so the raw bytes are storage the 10^12-turn
        deployment must be able to reclaim.  Each expired manifest is
        rewritten in place as a TOMBSTONE (files emptied, lineage and
        metrics kept, ``expired`` flag set) with the same atomic
        tmp+rename commit as append; resume/refresh and reads strictly
        after the expired range keep working, while time-travel into it
        fails fast (SnapshotExpiredError) instead of silently returning
        partial data."""
        if up_to > applied_watermark:
            raise ValueError(
                f"refusing to expire snapshot {up_to}: refresh watermark "
                f"is {applied_watermark} — unapplied raw data would be lost"
            )
        removed_files = removed_rows = expired = 0
        for sid in range(1, min(up_to, self.current_snapshot_id()) + 1):
            m = self._manifest(sid)
            data_dir = os.path.join(self.root, "data", f"s{sid:08d}")
            if m.get("expired"):
                # Orphan sweep: a crash between the tombstone commit and
                # the delete below leaves the data directory behind;
                # reclaim it (and count its data files) on this re-run.
                if os.path.isdir(data_dir):
                    orphans = glob.glob(os.path.join(data_dir, "*.parquet"))
                    removed_files += len(orphans)
                    shutil.rmtree(data_dir, ignore_errors=True)
                continue
            # Commit order: tombstone the manifest FIRST (atomic
            # tmp+rename), THEN delete the data files.  A crash mid-loop
            # then leaves only orphan files that the sweep above
            # reclaims; the opposite order (delete, then commit) could
            # leave a live manifest pointing at deleted parquet, turning
            # valid-range reads into missing-file errors.
            data_files = list(m["files"])
            removed_rows += sum(s["rows"] for s in m["lineage"].values())
            m["expired"] = True
            m["files"] = []
            self._commit(m)
            for rel in data_files:
                p = os.path.join(self.root, rel)
                if os.path.exists(p):
                    os.remove(p)
                removed_files += 1
            shutil.rmtree(data_dir, ignore_errors=True)
            expired += 1
        return {
            "expired_snapshots": expired,
            "removed_files": removed_files,
            "removed_rows": removed_rows,
        }

    def _manifests_between(self, since: int, until: int | None) -> list[dict]:
        """Manifests of snapshots (since, until], parsing only those."""
        current = self.current_snapshot_id()
        until = current if until is None else min(until, current)
        ms = [self._manifest(sid) for sid in range(since + 1, until + 1)]
        if ms and ms[0].get("expired"):
            raise SnapshotExpiredError(
                f"snapshot {since + 1} is expired; cannot read range "
                f"({since}, {until}] — the rollup tiers carry that "
                "history"
            )
        return ms

    def read(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        """Full-table read (optionally time-traveled to a snapshot)."""
        return self._read_files(spark, self._manifests_between(0, as_of))

    def incremental(
        self, spark: SparkSession, since: int, until: int | None = None
    ) -> DataFrame:
        """Rows appended in snapshots (since, until] — the Iceberg
        incremental-scan analog."""
        return self._read_files(spark, self._manifests_between(since, until))

    def _read_files(self, spark: SparkSession, manifests: list[dict]) -> DataFrame:
        """Scan the manifests' files with their recorded schema; infer it
        (one Spark job) when a manifest predates the ``schema`` key or
        the range mixes schemas."""
        files = [os.path.join(self.root, f) for m in manifests for f in m["files"]]
        if not files:
            from .schema import TRANSCRIPT_SCHEMA

            return spark.createDataFrame([], TRANSCRIPT_SCHEMA)
        schemas = [m.get("schema") for m in manifests if m["files"]]
        reader = spark.read
        if schemas[0] is not None and all(x == schemas[0] for x in schemas):
            reader = reader.schema(T.StructType.fromJson(schemas[0]))
        return reader.parquet(*files)
