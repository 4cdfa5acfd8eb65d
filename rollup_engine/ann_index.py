"""Persisted ANN indexes: build the O(N·d) pass ONCE, query many times.

Round-2 verdict item 2: ``rp_lsh_topk`` / ``ivf_topk`` recompute every
vector's signature / centroid assignment PER QUERY — a full O(N·d) map
pass, so at 100 TB the "index" saved only the re-rank.  This module
persists that pass as partitioned parquet, making a query a
partition-PRUNED read + exact re-rank:

- **LSH index** — table ``(vec_id, embedding)`` partitioned by ``sig``
  (the random-hyperplane sign signature).  A query enumerates the
  signatures within the Hamming probe radius DRIVER-side (pure
  combinatorics, no Spark stage), reads only those partitions, and
  exact-ranks inside.  Plan-pinned: the query path contains no
  signature computation and its scan carries partition filters
  (tests/test_ann_index.py).
- **IVF index** — table ``(vec_id, embedding)`` partitioned by ``cid``
  (nearest-centroid assignment) plus a ``_meta.json`` sidecar holding
  the centroids, so a query ranks centroids driver-side and reads only
  the ``nprobe`` probed lists.  Default quantizer: deterministic
  seeded spherical k-means over a hash-ordered sample (data-adaptive —
  round-2 verdict item 3); ``quantizer="smallest_id"`` keeps the
  oracle-reproducible degenerate mode.

Scale notes: the build is one map pass + a partitioned write (the
shuffle-free ``partitionBy`` leaves each input task writing its own
partition files); queries never touch unprobed files.  Partition counts
are bounded by construction: 2^nbits for LSH (keep nbits ≤ ~16),
n_centroids for IVF.  The sidecar pins (seed, nbits/dim | centroids) so
a query validates compatibility instead of silently probing with the
wrong quantizer.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ann import (
    _hyperplanes,
    _lit_vec,
    _resolve_dim,
    _xor_masks,
    cosine,
    query_signature,
    rp_signature,
)

META_FILE = "_meta.json"


def _write_meta(path: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, META_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, META_FILE))


def read_meta(path: str) -> dict:
    with open(os.path.join(path, META_FILE)) as f:
        return json.load(f)


# ------------------------------------------------------------------ LSH


def build_lsh_index(
    df: DataFrame,
    nbits: int = 12,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, dict]:
    """(index DataFrame, meta) — one deterministic map pass adding the
    signature column; no shuffle."""
    dim = _resolve_dim(df, vec_col, dim)
    planes = _hyperplanes(dim, nbits, seed)
    idx = df.select(
        F.col(id_col), F.col(vec_col), rp_signature(vec_col, planes).alias("sig")
    )
    return idx, {"kind": "rp_lsh", "nbits": nbits, "seed": seed, "dim": dim}


def write_lsh_index(
    df: DataFrame,
    path: str,
    nbits: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    idx, meta = build_lsh_index(
        df, nbits=nbits, seed=seed, id_col=id_col, vec_col=vec_col
    )
    idx.write.mode("overwrite").partitionBy("sig").parquet(path)
    _write_meta(path, meta)
    return meta


def lsh_topk_indexed(
    spark: SparkSession,
    path: str,
    query_vec,
    k: int = 10,
    hamming_radius: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pruned-read top-k: no signature stage in the plan — the probe
    set prunes index partitions at the file level; only the probed
    vectors are scored."""
    meta = read_meta(path)
    if meta.get("kind") != "rp_lsh":
        raise ValueError(f"not an LSH index: {meta}")
    if len(query_vec) != meta["dim"]:
        raise ValueError(f"query dim {len(query_vec)} != index dim {meta['dim']}")
    qsig = query_signature(query_vec, meta["nbits"], meta["seed"], meta["dim"])
    probe = [qsig ^ m for m in _xor_masks(meta["nbits"], hamming_radius)]
    q = _lit_vec(query_vec)
    return (
        spark.read.parquet(path)
        .where(F.col("sig").isin(probe))
        .select(
            F.col(id_col),
            F.round(
                cosine(F.col(vec_col).cast("array<double>"), q), 6
            ).alias("score"),
        )
        .where(F.col("score").isNotNull() & ~F.isnan("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


# ------------------------------------------------------------------ IVF


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 10_000,
    seed: int = 42,
    iters: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic seeded spherical k-means over a hash-ordered driver
    sample (md5(id) order is stable under repartitioning, same gate as
    sampling.py).  Numpy-only: the sample is ≤ sample_size × d floats —
    driver-sized by construction; at 100 TB the sample read is one
    TakeOrderedAndProject.  k-means++ init; empty clusters reseed to the
    farthest point; vectors and centroids live on the unit sphere so
    assignment-by-dot IS cosine assignment."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    n = len(X)
    if n == 0:
        raise ValueError("no non-zero vectors to cluster")
    k = min(n_centroids, n)
    rng = np.random.RandomState(seed)
    # k-means++ on the sphere (distance = 1 - cosine)
    cents = [X[rng.randint(n)]]
    for _ in range(1, k):
        d = 1.0 - np.max(np.vstack([X @ c for c in cents]), axis=0)
        d = np.clip(d, 1e-12, None)
        cents.append(X[rng.choice(n, p=d / d.sum())])
    C = np.vstack(cents)
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        newC = np.zeros_like(C)
        for j in range(k):
            members = X[assign == j]
            if len(members) == 0:  # reseed to the worst-served point
                worst = int(np.argmin(np.max(X @ C.T, axis=1)))
                newC[j] = X[worst]
            else:
                m = members.sum(axis=0)
                newC[j] = m / max(np.linalg.norm(m), 1e-12)
        if np.allclose(newC, C, atol=1e-9):
            C = newC
            break
        C = newC
    return [[float(x) for x in c] for c in C]


def smallest_id_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Degenerate deterministic quantizer (oracle-reproducible in plain
    SQL): the n smallest-id vectors.  Recall on clustered data is luck —
    prefer kmeans_centroids anywhere a DuckDB oracle isn't required."""
    return [
        [float(x) for x in r[0]]
        for r in df.select(vec_col, id_col)
        .orderBy(F.asc(id_col))
        .limit(n_centroids)
        .collect()
    ]


def assign_cid(vec_col_expr, centroids: list[list[float]]):
    """Nearest-centroid id as a Column expression (argmax over an array
    of per-centroid cosine scores — see ann.ivf_topk for why not a
    when-fold).  Zero-norm vectors park in list 0: with try_divide their
    scores are all NULL, so array_max/array_position yield NULL (not 0)
    — coalesce both NULL and 0 to position 1 so the parking actually
    happens and no row lands in a NULL-cid (__HIVE_DEFAULT_PARTITION__)
    directory."""
    scores = F.array(
        *[F.round(cosine(vec_col_expr, _lit_vec(c)), 9) for c in centroids]
    )
    pos = F.array_position(scores, F.array_max(scores)).cast("int")
    return (
        F.when(pos.isNull() | (pos == 0), F.lit(1)).otherwise(pos) - F.lit(1)
    ).alias("cid")


def write_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    quantizer: str = "kmeans",
    seed: int = 42,
    sample_size: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build + persist: centroids (sidecar) and the assignment as the
    ``cid`` PARTITION column, so queries prune unprobed lists at the
    file level (the design the round-2 ivf_topk docstring promised)."""
    if quantizer == "kmeans":
        cents = kmeans_centroids(
            df, n_centroids, sample_size=sample_size, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    elif quantizer == "smallest_id":
        cents = smallest_id_centroids(df, n_centroids, id_col, vec_col)
    else:
        raise ValueError(f"unknown quantizer {quantizer!r}")
    v = F.col(vec_col).cast("array<double>")
    idx = df.select(F.col(id_col), F.col(vec_col), assign_cid(v, cents))
    idx.write.mode("overwrite").partitionBy("cid").parquet(path)
    meta = {
        "kind": "ivf",
        "quantizer": quantizer,
        "seed": seed,
        "centroids": cents,
    }
    _write_meta(path, meta)
    return meta


def rank_centroids(query_vec, centroids: list[list[float]]) -> list[int]:
    """Centroid indexes by descending query cosine — driver-side numpy,
    ties broken by index (matches the SQL oracle's ordering)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)
    scored = []
    for i, c in enumerate(centroids):
        cv = np.asarray(c, dtype=np.float64)
        denom = np.linalg.norm(cv) * qn
        s = float(cv @ q) / denom if denom > 0 else float("-inf")
        scored.append((round(s, 9), i))
    return [i for _, i in sorted(scored, key=lambda t: (-t[0], t[1]))]


def ivf_topk_indexed(
    spark: SparkSession,
    path: str,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pruned-read IVF top-k: centroid ranking is driver-side numpy over
    the sidecar; the scan reads only the nprobe probed cid partitions."""
    meta = read_meta(path)
    if meta.get("kind") != "ivf":
        raise ValueError(f"not an IVF index: {meta}")
    probe = rank_centroids(query_vec, meta["centroids"])[:nprobe]
    q = _lit_vec(query_vec)
    return (
        spark.read.parquet(path)
        .where(F.col("cid").isin([int(p) for p in probe]))
        .select(
            F.col(id_col),
            F.round(
                cosine(F.col(vec_col).cast("array<double>"), q), 6
            ).alias("score"),
        )
        .where(F.col("score").isNotNull() & ~F.isnan("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
