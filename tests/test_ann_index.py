"""Materialized ANN indexes (round-3): a query over the index must be a
partition-pruned read + re-rank with NO per-query signature/assignment
pass, match the recompute path exactly, and the data-adaptive (k-means)
IVF quantizer must beat the degenerate smallest-id one on clustered
data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rollup_engine import ann, ann_index

SF = "/root/testdata/sf0.001"


def _embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _qvec(spark):
    e = _embs(spark)
    return [float(x) for x in e.where("vec_id = 0").first()["embedding"]]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_lsh_index_query_matches_recompute(spark, tmp_path):
    e, qv = _embs(spark), _qvec(spark)
    path = str(tmp_path / "lsh_idx")
    meta = ann_index.write_lsh_index(e, path, nbits=12, seed=42)
    assert meta["dim"] == len(qv)
    got = ann_index.lsh_topk_indexed(
        spark, path, qv, k=10, hamming_radius=4
    ).collect()
    want = ann.rp_lsh_topk(e, qv, k=10, nbits=12, hamming_radius=4).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in want
    ]


def test_lsh_index_query_is_pruned_read(spark, tmp_path):
    """The indexed query plan must contain NO signature computation
    (stored sig column instead) and must push the probe set down as a
    PARTITION filter — at 100 TB that's the difference between reading
    Σ C(nbits,r)/2^nbits of the files and re-scanning all of them."""
    e, qv = _embs(spark), _qvec(spark)
    path = str(tmp_path / "lsh_idx")
    ann_index.write_lsh_index(e, path, nbits=12, seed=42)
    q = ann_index.lsh_topk_indexed(spark, path, qv, k=10, hamming_radius=2)
    plan = _plan(q)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("sig" in l for l in part_lines), plan
    # the re-rank touches only embedding + vec_id; the signature
    # expression tree (one dot-product per hyperplane) must be absent.
    # The single re-rank cosine appears a few times (Catalyst inlines it
    # into the NaN filter); 12 hyperplane dots would add ≥12 more.
    assert plan.count("zip_with") < 12  # cosine re-rank only, no planes
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ivf_indexed_matches_unindexed(spark, tmp_path):
    e, qv = _embs(spark), _qvec(spark)
    path = str(tmp_path / "ivf_idx")
    ann_index.write_ivf_index(
        e, path, n_centroids=16, quantizer="smallest_id"
    )
    got = ann_index.ivf_topk_indexed(spark, path, qv, k=10, nprobe=4).collect()
    want = ann.ivf_topk(e, qv, k=10, n_centroids=16, nprobe=4).collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in want
    ]


def test_ivf_index_query_is_pruned_read(spark, tmp_path):
    e, qv = _embs(spark), _qvec(spark)
    path = str(tmp_path / "ivf_idx")
    ann_index.write_ivf_index(e, path, n_centroids=16, quantizer="smallest_id")
    q = ann_index.ivf_topk_indexed(spark, path, qv, k=10, nprobe=4)
    plan = _plan(q)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("cid" in l for l in part_lines), plan
    # no per-row centroid-assignment argmax in the query path
    assert "array_position" not in plan


def _clustered_fixture(spark, n_clusters=8, per_cluster=250, dim=16, seed=7):
    """Planted Gaussian clusters on the sphere.  ids are ordered BY
    CLUSTER, so the smallest-id quantizer picks all its 'centroids' from
    cluster 0 — the degenerate case the adaptive quantizer must beat."""
    rng = np.random.RandomState(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        pts = centers[ci] + 0.08 * rng.normal(size=(per_cluster, dim))
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    query = centers[min(3, n_clusters - 1)] + 0.02 * rng.normal(size=dim)
    return df.repartition(8), [float(x) for x in query]


def _recall(spark, df, path, qv, k=10, nprobe=2):
    truth = {
        r.vec_id for r in ann.cosine_topk(df, qv, k=k).collect()
    }
    got = {
        r.vec_id
        for r in ann_index.ivf_topk_indexed(
            spark, path, qv, k=k, nprobe=nprobe
        ).collect()
    }
    return len(truth & got) / k


def test_ivf_kmeans_recall_beats_smallest_id(spark, tmp_path):
    """Round-2 verdict item 3: adaptive centroids must meet recall ≥0.9
    @k on a clustered fixture and beat the smallest-id quantizer."""
    df, qv = _clustered_fixture(spark)
    km_path = str(tmp_path / "ivf_km")
    si_path = str(tmp_path / "ivf_si")
    ann_index.write_ivf_index(
        df, km_path, n_centroids=8, quantizer="kmeans", seed=42
    )
    ann_index.write_ivf_index(df, si_path, n_centroids=8, quantizer="smallest_id")
    r_km = _recall(spark, df, km_path, qv)
    r_si = _recall(spark, df, si_path, qv)
    assert r_km >= 0.9, f"kmeans recall {r_km}"
    assert r_km > r_si, f"kmeans {r_km} should beat smallest-id {r_si}"


def test_kmeans_centroids_deterministic_under_partitioning(spark):
    """Same seed → identical centroids regardless of input partitioning
    (the sample is hash-ordered, not partition-ordered)."""
    df, _ = _clustered_fixture(spark)
    a = ann_index.kmeans_centroids(df.repartition(3), n_centroids=8, seed=42)
    b = ann_index.kmeans_centroids(df.repartition(11), n_centroids=8, seed=42)
    assert a == b


def test_ivf_zero_vector_does_not_fail(spark, tmp_path):
    """ADVICE r2: a zero-norm embedding scores NaN against every
    centroid; the assignment must park it (not throw) and the re-rank
    must exclude it from top-k."""
    df, qv = _clustered_fixture(spark, n_clusters=2, per_cluster=20)
    df = df.unionByName(
        spark.createDataFrame(
            [(99999, [0.0] * 16)], "vec_id: long, embedding: array<float>"
        )
    )
    # non-indexed path
    got = ann.ivf_topk(df, qv, k=10, n_centroids=4, nprobe=4).collect()
    assert 99999 not in {r.vec_id for r in got}
    # indexed path
    path = str(tmp_path / "ivf_zero")
    ann_index.write_ivf_index(df, path, n_centroids=4, quantizer="kmeans")
    got = ann_index.ivf_topk_indexed(spark, path, qv, k=10, nprobe=4).collect()
    assert 99999 not in {r.vec_id for r in got}


def test_lsh_index_meta_validation(spark, tmp_path):
    e, qv = _embs(spark), _qvec(spark)
    path = str(tmp_path / "idx")
    ann_index.write_lsh_index(e, path, nbits=8, seed=42)
    with pytest.raises(ValueError, match="dim"):
        ann_index.lsh_topk_indexed(spark, path, qv[:-2], k=5)
    with pytest.raises(ValueError, match="not an IVF index"):
        ann_index.ivf_topk_indexed(spark, path, qv, k=5)
