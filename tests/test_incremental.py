"""Snapshot store + incremental refresh: equivalence with full
recompute, boundary stitching, crash-resume identity."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from rollup_engine.checkpoint import SnapshotStore
from rollup_engine.deltas import with_deltas
from rollup_engine.generate import synthetic_transcripts
from rollup_engine.hist_rollup import hist_rollup
from rollup_engine.incremental import IncrementalRollup
from rollup_engine.transcripts import clean

from .conftest import make_transcript, spark_work

METRICS = [
    "bucket_start", "turn_count", "lat_min_ms", "lat_max_ms", "lat_avg_ms",
    "lat_p50_ms", "lat_p90_ms", "lat_p99_ms", "lat_sum_ms",
    "err4xx_cnt", "err5xx_cnt", "err4xx_rate", "err5xx_rate",
]


def _pdf(df):
    return (
        df.select(METRICS).toPandas().set_index("bucket_start").sort_index()
    )


@pytest.fixture()
def data(spark, tmp_path):
    full = synthetic_transcripts(
        spark, n_convs=60, turns_per_conv=40, hot_convs=1, hot_factor=5
    ).cache()
    b1 = full.where("turn_idx < 20")
    b2 = full.where("turn_idx >= 20")
    store = SnapshotStore(str(tmp_path / "store"))
    return full, b1, b2, store, str(tmp_path / "work")


def test_incremental_equals_full_recompute(spark, data):
    import pandas as pd

    full, b1, b2, store, work = data
    job = IncrementalRollup(store, work)

    store.append(b1)
    ck1 = job.refresh(spark)
    assert ck1["snapshot_id"] == 1 and ck1["version"] == 1

    store.append(b2)
    ck2 = job.refresh(spark)
    assert ck2["snapshot_id"] == 2 and ck2["version"] == 2

    expected = hist_rollup(with_deltas(clean(full)), "minute")
    pd.testing.assert_frame_equal(
        _pdf(job.read_rollup(spark)), _pdf(expected), check_dtype=False
    )
    # cascaded tiers maintained per refresh match direct recompute
    for tier in ("hour", "day"):
        direct = hist_rollup(with_deltas(clean(full)), tier)
        pd.testing.assert_frame_equal(
            _pdf(job.read_rollup(spark, tier)), _pdf(direct), check_dtype=False
        )


def test_boundary_stitch_gives_cross_batch_deltas(spark, data):
    """The first turn of batch 2 must still get its delta from the last
    turn of batch 1 (conversation-state table)."""
    full, b1, b2, store, work = data
    job = IncrementalRollup(store, work)
    store.append(b1)
    job.refresh(spark)
    store.append(b2)
    job.refresh(spark)
    total = (
        job.read_rollup(spark).selectExpr("sum(turn_count) s").collect()[0].s
    )
    expected_pairs = with_deltas(clean(full)).count()
    assert total == expected_pairs  # no deltas lost at the batch seam


def test_redelivered_turns_do_not_double_count(spark, data):
    """At-least-once seam: a later snapshot re-delivering batch-1 turns
    (plus the exact state-row turn_idx) must produce the same rollup as
    exactly-once delivery — re-delivered turns are anti-joined away
    against the checkpointed conv state."""
    import pandas as pd

    full, b1, b2, store, work = data
    job = IncrementalRollup(store, work)
    store.append(b1)
    job.refresh(spark)
    # snapshot 2 = batch 2 PLUS a re-delivery of the tail of batch 1
    # (including turn_idx 19 == the stored conv-state row, the tie case)
    store.append(b2.unionByName(b1.where("turn_idx >= 15")))
    job.refresh(spark)

    expected = hist_rollup(with_deltas(clean(full)), "minute")
    pd.testing.assert_frame_equal(
        _pdf(job.read_rollup(spark)), _pdf(expected), check_dtype=False
    )


def test_noop_refresh(spark, data):
    _, b1, _, store, work = data
    job = IncrementalRollup(store, work)
    store.append(b1)
    ck = job.refresh(spark)
    again = job.refresh(spark)  # no new snapshot
    assert again == ck


def test_crash_resume_identical(spark, data):
    """Kill after artifact writes but BEFORE the checkpoint pointer flip
    → re-run reproduces the exact same rollup (snapshot inputs are
    immutable, writes are idempotent per target version)."""
    import pandas as pd

    full, b1, b2, store, work = data
    job = IncrementalRollup(store, work)
    store.append(b1)
    job.refresh(spark)
    store.append(b2)

    # normal path (reference result), in a parallel workdir
    work2 = work + "_ref"
    shutil.copytree(work, work2)
    ref_job = IncrementalRollup(store, work2)
    ref_job.refresh(spark)
    ref = _pdf(ref_job.read_rollup(spark))

    # crash path: run refresh with GC disabled (GC only runs after the
    # pointer flip, so a pre-flip crash leaves old artifacts intact),
    # then revert the checkpoint pointer — simulating a kill between the
    # data write and the pointer flip
    ck_before = json.load(open(os.path.join(work, "CHECKPOINT.json")))
    job._gc = lambda v: None
    job.refresh(spark)
    with open(os.path.join(work, "CHECKPOINT.json"), "w") as f:
        json.dump(ck_before, f)
    # v2 artifacts exist on disk, checkpoint still points at v1 → retry
    retry = IncrementalRollup(store, work)
    ck = retry.refresh(spark)
    assert ck["version"] == 2
    pd.testing.assert_frame_equal(
        _pdf(retry.read_rollup(spark)), ref, check_dtype=False
    )


def test_lineage_manifests(spark, data):
    _, b1, b2, store, _ = data
    store.append(b1)
    store.append(b2)
    ms = store.manifests()
    assert [m["snapshot_id"] for m in ms] == [1, 2]
    assert ms[1]["parent_id"] == 1
    for m in ms:
        assert m["metrics"]["added_rows"] > 0
        assert sum(st["rows"] for st in m["lineage"].values()) == m["metrics"][
            "added_rows"
        ]
        for st in m["lineage"].values():
            if st["rows"] > 0:  # empty output partitions are legitimate
                assert st["ts_min"] is not None
    # incremental read returns exactly batch-2 rows
    inc = store.incremental(spark, 1, 2)
    assert inc.count() == ms[1]["metrics"]["added_rows"]

def test_third_refresh_compiles_no_code(spark, data):
    """Append → refresh is the steady state: once a store has refreshed
    warm, the next refresh reuses every generated class.  The session's
    codegen cache holds the cycle's working set; Spark's default 100
    entries made every warm refresh recompile about 120 classes."""
    full, _b1, _b2, store, work = data
    job = IncrementalRollup(store, work)
    for lo, hi in ((0, 14), (14, 27), (27, 40)):
        store.append(full.where(f"turn_idx >= {lo} AND turn_idx < {hi}"))
        compiles = spark_work(spark, lambda: job.refresh(spark)).compiles
    assert compiles == 0


def test_reads_build_without_spark_jobs(spark, data):
    """Snapshot and tier reads use the schema recorded at write time,
    so building them runs no parquet schema-inference job."""
    _full, b1, b2, store, work = data
    job = IncrementalRollup(store, work)
    store.append(b1)
    store.append(b2)
    job.refresh(spark)
    for build in (
        lambda: store.incremental(spark, 1, 2),
        lambda: store.read(spark),
        lambda: store.read(spark, as_of=1),
        lambda: job.read_rollup(spark),
        lambda: job.read_rollup(spark, "day"),
    ):
        jobs = spark_work(spark, build).jobs
        assert jobs == [], f"read build ran Spark jobs: {jobs}"
    assert store.manifests()[0]["schema"] == b1.schema.jsonValue()
    assert store.incremental(spark, 1, 2).count() == b2.count()


def test_reads_without_one_recorded_schema_infer_it(spark, data):
    """A manifest written before manifests carried ``schema``, and a
    range whose snapshots differ in schema, still read — through
    parquet schema inference (one Spark job at build)."""
    full, b1, b2, store, _work = data
    store.append(b1)
    store.append(b2.select(*reversed(b2.columns)))  # same columns, new order
    mixed, jobs = spark_work(spark, lambda: store.read(spark))[:2]
    assert len(jobs) == 1
    mixed = mixed.select(*full.columns)
    assert mixed.exceptAll(full).count() == 0
    assert full.exceptAll(mixed).count() == 0

    mpath = os.path.join(store.root, "_manifests", "v00000001.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["schema"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    old, jobs = spark_work(spark, lambda: store.read(spark, as_of=1))[:2]
    assert len(jobs) == 1
    assert old.exceptAll(b1).count() == 0 and b1.exceptAll(old).count() == 0


def test_range_read_parses_only_its_manifests(spark, tmp_path, monkeypatch):
    """Manifest reads are O(range), not O(history): the current id
    comes from the newest manifest's file name, and an incremental read
    of the last snapshot parses that snapshot's manifest alone.  Reads
    that start in an expired prefix still fail fast."""
    from rollup_engine import checkpoint as ckpt_mod
    from rollup_engine.checkpoint import SnapshotExpiredError

    store = SnapshotStore(str(tmp_path / "store"))
    n = 4
    for i in range(n):
        store.append(
            make_transcript(
                spark, [(f"c{i}", 0, "user", "x", "", "2024-01-01T00:00:00")]
            )
        )
    real_load = json.load
    parsed = []

    def counting_load(f):
        parsed.append(f.name)
        return real_load(f)

    monkeypatch.setattr(ckpt_mod.json, "load", counting_load)
    assert store.current_snapshot_id() == n and parsed == []
    inc = store.incremental(spark, n - 1, n)
    assert len(parsed) <= 1
    monkeypatch.setattr(ckpt_mod.json, "load", real_load)
    assert [r.conv_id for r in inc.collect()] == [f"c{n - 1}"]

    store.expire_snapshots(up_to=2, applied_watermark=2)
    for since, until in ((0, 1), (1, n), (0, None)):
        with pytest.raises(SnapshotExpiredError):
            store.incremental(spark, since, until)
    assert store.incremental(spark, 2, n).count() == 2


def test_rollup_diff_statuses(spark):
    from rollup_engine.incremental import rollup_diff

    old = spark.createDataFrame(
        [("2024-01-01 00:00:00", 5), ("2024-01-01 01:00:00", 7),
         ("2024-01-01 02:00:00", 3)],
        "bucket_start string, turn_count long",
    )
    new = spark.createDataFrame(
        [("2024-01-01 00:00:00", 5), ("2024-01-01 01:00:00", 9),
         ("2024-01-01 03:00:00", 2)],
        "bucket_start string, turn_count long",
    )
    got = {
        r["bucket_start"]: (r["status"], r["delta_turn_count"])
        for r in rollup_diff(old, new).collect()
    }
    # unchanged 00:00 bucket must NOT appear
    assert got == {
        "2024-01-01 01:00:00": ("changed", 2),
        "2024-01-01 02:00:00": ("removed", -3),
        "2024-01-01 03:00:00": ("added", 2),
    }


def test_expire_snapshots_reclaims_applied_raw(spark, data):
    """Iceberg expire_snapshots analog: applied snapshots' raw files
    are deleted, the refresh continues unharmed (their contribution
    already lives in the tiers), later appends still refresh to the
    batch answer, and time-travel into the expired range fails fast."""
    from rollup_engine.checkpoint import SnapshotExpiredError

    full, b1, b2, store, work = data
    b1a = b1.where("turn_idx < 10")
    b1b = b1.where("turn_idx >= 10")
    store.append(b1a)
    store.append(b1b)
    job = IncrementalRollup(store, work)
    job.refresh(spark)
    job.refresh(spark)
    ck = job.checkpoint()["snapshot_id"]
    assert ck == 2

    # unapplied snapshots are protected
    with pytest.raises(ValueError):
        store.expire_snapshots(up_to=ck + 1, applied_watermark=ck)

    res = store.expire_snapshots(up_to=ck, applied_watermark=ck)
    assert res["expired_snapshots"] == 2 and res["removed_files"] > 0
    assert not os.path.exists(os.path.join(store.root, "data", "s00000001"))
    # tombstones keep lineage, drop files
    ms = store.manifests()
    assert all(m["expired"] and m["files"] == [] for m in ms[:2])
    assert all("lineage" in m and m["lineage"] for m in ms[:2])

    # time-travel into the expired range fails fast
    with pytest.raises(SnapshotExpiredError):
        store.read(spark, as_of=1)
    with pytest.raises(SnapshotExpiredError):
        store.read(spark)  # full read includes expired range

    # the pipeline keeps going: new data appends + refreshes to the
    # exact batch answer over ALL history (expired raw included via
    # the already-merged tiers)
    store.append(b2)
    job.refresh(spark)
    got = _pdf(job.read_rollup(spark))
    want = _pdf(hist_rollup(with_deltas(clean(full)), "minute"))
    import pandas as pd

    pd.testing.assert_frame_equal(got, want)


def test_expire_crash_between_tombstone_and_delete_is_recoverable(
    spark, data, monkeypatch
):
    """Round-6 commit-order pin (r5 ADVICE): the tombstone manifest
    commits BEFORE the data files are deleted, so a crash between the
    two leaves only harmless orphan files — never a live manifest
    pointing at deleted parquet.  Inject a crash on the first
    os.remove: the manifest must already be a tombstone, expired-range
    reads must fail fast with SnapshotExpiredError (not a missing-file
    scan error), and a re-run must complete the reclaim."""
    import os as _os

    from rollup_engine import checkpoint as ckpt_mod
    from rollup_engine.checkpoint import SnapshotExpiredError

    _full, b1, _b2, store, work = data
    store.append(b1)
    job = IncrementalRollup(store, work)
    job.refresh(spark)
    ck = job.checkpoint()["snapshot_id"]

    real_remove = _os.remove
    calls = {"n": 0}

    def crashing_remove(path):
        calls["n"] += 1
        raise RuntimeError("injected crash before data-file delete")

    monkeypatch.setattr(ckpt_mod.os, "remove", crashing_remove)
    with pytest.raises(RuntimeError, match="injected crash"):
        store.expire_snapshots(up_to=ck, applied_watermark=ck)
    monkeypatch.setattr(ckpt_mod.os, "remove", real_remove)
    assert calls["n"] == 1

    # the manifest is already a committed tombstone...
    m1 = store.manifests()[0]
    assert m1["expired"] and m1["files"] == []
    # ...so the expired range fails FAST, not with a missing-file scan
    with pytest.raises(SnapshotExpiredError):
        store.read(spark, as_of=ck)
    # the orphaned data files are still on disk (nothing deleted)
    assert os.path.exists(os.path.join(store.root, "data", "s00000001"))
    # re-run completes the reclaim: the tombstoned manifest's surviving
    # directory is swept, and subsequent refreshes are unaffected
    res = store.expire_snapshots(up_to=ck, applied_watermark=ck)
    assert res["expired_snapshots"] == 0  # already tombstoned
    assert res["removed_files"] > 0
    assert not os.path.exists(os.path.join(store.root, "data", "s00000001"))
    again = job.refresh(spark)
    assert again == job.checkpoint()


def test_expire_sweeps_orphaned_data_dir_of_tombstoned_manifest(data):
    """A crash right after the tombstone commit leaves the snapshot's
    data directory behind.  Tombstone a manifest by hand with its data
    in place: the next expire_snapshots must remove the directory and
    report its files in removed_files."""
    _full, b1, _b2, store, _work = data
    store.append(b1)
    mpath = os.path.join(store.root, "_manifests", "v00000001.json")
    with open(mpath) as f:
        m = json.load(f)
    n_files = len(m["files"])
    assert n_files > 0
    m["expired"] = True
    m["files"] = []
    with open(mpath, "w") as f:
        json.dump(m, f)
    data_dir = os.path.join(store.root, "data", "s00000001")
    assert os.path.isdir(data_dir)

    res = store.expire_snapshots(up_to=1, applied_watermark=1)
    assert not os.path.exists(data_dir)
    assert res == {"expired_snapshots": 0, "removed_files": n_files, "removed_rows": 0}
    # a second re-run finds nothing left to reclaim
    res = store.expire_snapshots(up_to=1, applied_watermark=1)
    assert res["removed_files"] == 0


def test_refresh_over_tier_files_with_old_tdigest_column(spark, data):
    """Tier files written before the always-NULL ``tdigest`` column was
    dropped still carry it.  A refresh over such a store must merge
    them (read_rollup projects to the current columns) and match a
    one-shot rollup at every tier."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rollup_engine.hist_rollup import hist_cascade

    full, b1, b2, store, work = data
    job = IncrementalRollup(store, work)
    store.append(b1)
    job.refresh(spark)
    v = job.checkpoint()["version"]
    for tier in ("minute", "hour", "day"):
        path = job.rollup_path(v, tier)
        spark.read.parquet(path).withColumn(
            "tdigest", F.lit(None).cast("binary")
        ).write.parquet(path + ".old")
        shutil.rmtree(path)
        os.rename(path + ".old", path)
    assert "tdigest" in spark.read.parquet(job.rollup_path(v)).columns

    store.append(b2)
    job.refresh(spark)
    minute = hist_rollup(with_deltas(clean(full)), "minute")
    pd.testing.assert_frame_equal(
        _pdf(job.read_rollup(spark)), _pdf(minute), check_dtype=False
    )
    pd.testing.assert_frame_equal(
        _pdf(job.read_rollup(spark, "day")),
        _pdf(hist_cascade(hist_cascade(minute, "hour"), "day")),
        check_dtype=False,
    )


def test_lateness_profile_measures_cross_batch_lateness(spark, data):
    """Crafted batches: snapshot 2 re-delivers rows 1 hour older than
    snapshot 1's high-water mark plus fresh rows — the profile must
    count exactly the late rows and place p50 lateness at the planted
    gap; snapshot 1 (no earlier watermark) reports zero."""
    import datetime as dt

    from rollup_engine.incremental import lateness_profile

    _full, _b1, _b2, store, _work = data
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    cols = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    b1 = spark.createDataFrame(
        [("a", i, "user", "x", None, base + dt.timedelta(minutes=i)) for i in range(10)],
        cols,
    )  # hwm = base + 9min
    late_ts = base - dt.timedelta(minutes=51)  # 1h before hwm
    b2 = spark.createDataFrame(
        [("b", 0, "user", "late", None, late_ts),
         ("b", 1, "user", "late", None, late_ts),
         ("a", 10, "user", "fresh", None, base + dt.timedelta(minutes=20))],
        cols,
    )
    store.append(b1)
    store.append(b2)
    prof = {r.snapshot_id: r for r in lateness_profile(store, spark).collect()}
    assert prof[1].rows == 10 and prof[1].late_rows == 0
    assert prof[2].rows == 3 and prof[2].late_rows == 2
    assert prof[2].late_frac == round(2 / 3, 4)
    assert abs(prof[2].late_p50_sec - 3600.0) < 1.0
