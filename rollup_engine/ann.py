"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``      brute-force exact top-k for a query vector —
  dot product via ``zip_with``/``aggregate`` (JVM higher-order
  functions, no UDF), ``ORDER BY score LIMIT k``.  The correctness
  baseline; O(N·d) per query, embarrassingly parallel.
- ``rp_lsh_topk``      random-hyperplane LSH: H seeded hyperplanes →
  sign-bit signature → probe buckets within Hamming ≤ radius of the
  query signature → exact re-rank inside the probed buckets.  The scale
  path: candidates shrink by ~2^H/(probed buckets).  The signature
  (``rp_signature``) is one higher-order SQL expression, so every
  stage here runs in the JVM; ``query_signature`` is its numpy twin
  for a driver-side query vector.
- ``cosine_pairs``     embedding near-duplicate pairs (shared kernel
  with dedup): bucket join on LSH signature then exact cosine verify.

Hyperplanes are generated from a seeded ``numpy.RandomState`` and
broadcast as literals inside the plan — deterministic, no external
state.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import sqltext
from .dedup import _cap_postings


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm (degenerate) vector yields NULL instead of
    # an ANSI DIVIDE_BY_ZERO job failure; callers filter NULL scores.
    # Identical to plain division whenever both norms are non-zero.
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _lit_vec(v) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def cosine_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine (score rounded to 6dp for
    cross-engine stability; ties broken by id).  JVM left-fold
    expressions — deterministic summation order, bit-reproducible by
    the DuckDB oracle."""
    q = _lit_vec(query_vec)
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(nbits, dim))


def _xor_masks(nbits: int, radius: int) -> list[int]:
    """All XOR masks of Hamming weight ≤ ``radius`` over ``nbits`` bits
    (identity mask first).  Driver-enumerated — Σ C(nbits, r) ints, so
    the probe fan-out is a fixed literal array in the plan."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(nbits), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def _resolve_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Embedding dimensionality without running a job when avoidable:
    explicit parameter first, then the column's schema metadata key
    ``dim`` (written by ann_index and ingest paths), and only as a last
    resort a one-row probe — which runs a (tiny) Spark job at PLAN BUILD
    time, so hot paths should always pass ``dim``."""
    if dim is not None:
        return int(dim)
    md = df.schema[vec_col].metadata or {}
    if "dim" in md:
        return int(md["dim"])
    return int(df.select(F.size(vec_col)).first()[0])


def _planes_sql(planes: np.ndarray) -> str:
    """``planes`` as one nested ``array(array(<x>D, …), …)`` SQL
    literal; ``repr`` of a float parses back to the same double."""
    return "array(" + ", ".join(
        "array(" + ", ".join(repr(float(x)) + "D" for x in p) + ")"
        for p in planes
    ) + ")"


def rp_signature(vec_col: str, planes: np.ndarray) -> Column:
    """Sign-bit signature of column ``vec_col`` (cast to array<double>):
    bit i set iff vec · plane_i > 0.

    One ``F.expr`` over SQL text: the planes are one array literal
    (``_planes_sql``) and a higher-order ``aggregate`` over the bit
    indexes sums each dot product left to right (as ``_dot`` does), so
    building it costs a few Py4J calls whatever the plane count.  The
    per-row cost grows with nbits × dim: at 384 × 32 it measured ~5×
    slower than an Arrow numpy matmul (2,000 vectors, local[4]), but
    every caller in the engine, the registry and perfbench uses dim 64
    with nbits ≤ 12."""
    nbits, dim = planes.shape
    if nbits >= 63:
        raise ValueError("nbits must fit a signed 64-bit signature (< 63)")
    lit = _planes_sql(planes)
    vec = f"CAST({sqltext.ident(vec_col)} AS array<double>)"
    # the outer lambda's variables shadow same-named columns in its
    # body, which reads the vector column: keep them unlike column names
    return F.expr(
        f"aggregate(sequence(0, {nbits - 1}), 0L, (_sig, _bit) -> _sig + IF("
        f"aggregate(zip_with({vec}, element_at({lit}, _bit + 1), "
        "(x, y) -> x * y), 0D, (a, v) -> a + v) > 0D, shiftleft(1L, _bit), 0L))"
    )


def query_signature(query_vec, nbits: int, seed: int, dim: int) -> int:
    """``rp_signature`` of one driver-side vector, in numpy."""
    planes = _hyperplanes(dim, nbits, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    return int(sum((1 << i) for i, p in enumerate(planes) if float(q @ p) > 0))


def rp_lsh_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    nbits: int = 12,
    hamming_radius: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe LSH buckets near the query signature,
    exact-rank within.  Multi-probing (radius over the signature) trades
    recall for candidate count without rebuilding the index."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, nbits, seed)
    v = F.col(vec_col).cast("array<double>")
    signed = df.select(
        F.col(id_col), v.alias("_v"), rp_signature(vec_col, planes).alias("sig")
    )
    qsig = query_signature(query_vec, nbits, seed, dim)
    probed = signed.where(
        F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= hamming_radius
    )
    q = _lit_vec(query_vec)
    return (
        probed.select(
            F.col(id_col), F.round(cosine(F.col("_v"), q), 6).alias("score")
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def smallest_id_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Degenerate deterministic quantizer (oracle-reproducible in plain
    SQL): the n smallest-id vectors.  Recall on clustered data is luck —
    prefer ann_index.kmeans_centroids anywhere a DuckDB oracle isn't
    required."""
    return [
        [float(x) for x in r[0]]
        for r in df.select(vec_col, id_col)
        .orderBy(F.asc(id_col))
        .limit(n_centroids)
        .collect()
    ]


def assign_cid(vec_col_expr, centroids: list[list[float]]):
    """Nearest-centroid index as a Column expression: argmax over an
    array of per-centroid cosine scores, one independent score
    expression per centroid (a when-fold would nest each score tree
    inside the next condition AND branch: 2^n_centroids node blowup,
    measured as a driver OOM at 16×64).  Scores are rounded to 9 dp so
    oracle-side ties resolve identically; array_position returns the
    FIRST max, i.e. the smallest index.  Zero-norm vectors park in
    list 0: with try_divide their scores are all NULL, so
    array_max/array_position yield NULL (not 0) — coalesce both NULL
    and 0 to position 1 so the parking actually happens and no row
    lands in a NULL-cid (__HIVE_DEFAULT_PARTITION__) directory."""
    scores = F.array(
        *[F.round(cosine(vec_col_expr, _lit_vec(c)), 9) for c in centroids]
    )
    pos = F.array_position(scores, F.array_max(scores)).cast("int")
    return (
        F.when(pos.isNull() | (pos == 0), F.lit(1)).otherwise(pos) - F.lit(1)
    ).alias("cid")


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


def ivf_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second scale path
    besides random-hyperplane LSH.

    Coarse quantizer: ``smallest_id_centroids`` — deterministic,
    broadcastable, and (unlike k-means) reproducible in the DuckDB
    oracle.  Build: ``assign_cid`` puts each vector in its nearest
    centroid's list (a JVM expression over the broadcast centroid list
    — one map stage; ``ann_index.write_ivf_index`` persists it as a
    partition column so queries prune files).  Query:
    ``rank_centroids`` orders the lists by query-cosine, only the
    ``nprobe`` best are searched, exact re-rank inside.

    Candidates shrink ~n_centroids/nprobe; recall depends on cluster
    structure (pinned vs brute force in tests).
    """
    cents = smallest_id_centroids(df, n_centroids, id_col, vec_col)
    probe = rank_centroids(query_vec, cents)[:nprobe]
    v = F.col(vec_col).cast("array<double>")
    qlit = _lit_vec(query_vec)
    return (
        df.select(F.col(id_col), v.alias("_v"), assign_cid(v, cents))
        .where(F.col("cid").isin(probe))
        .select(
            F.col(id_col), F.round(cosine(F.col("_v"), qlit), 6).alias("score")
        )
        # NaN sorts above every real score in DESC order — drop
        # zero-norm/degenerate rows instead of letting them pollute top-k
        .where(F.col("score").isNotNull() & ~F.isnan("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def _parse_size_bytes(v: str) -> int:
    """Parse a Spark size conf value ('10485760', '10MB', '1g', '-1')."""
    s = str(v).strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(float(s)) if s else -1


def _auto_query_shards(q: DataFrame) -> int:
    """Shard count so each query-side broadcast fits the session's
    ``spark.sql.autoBroadcastJoinThreshold``: ceil(plan-estimated size
    / threshold).  Uses Catalyst's logical ``stats().sizeInBytes`` —
    propagated from file/relation sizes, so plan construction runs ZERO
    jobs.  Clamped to [1, 256]: a query side needing >256 broadcast
    shards shouldn't ride knn_join at all (use knn_join_lsh, whose
    probe-join shape never broadcasts the scored relation)."""
    import math

    size = int(q._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    try:
        thr = _parse_size_bytes(
            q.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except Exception:
        thr = 10 << 20
    if thr <= 0:  # broadcast threshold disabled — fall back to 10 MB
        thr = 10 << 20
    return max(1, min(256, math.ceil(size / thr)))


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_shards: int | None = None,
) -> DataFrame:
    """Exact batch kNN JOIN: top-k corpus neighbors for EVERY query row
    (the batch retrieval op — per-example nearest neighbors for dedup
    clustering, retrieval eval, hard-negative mining).

    Scale shape: the query side is broadcast (bounded — thousands of
    queries per shard), the N×|Q| scoring is pure map-side expression
    work, and the per-query top-k runs as a row_number window whose
    ``rank ≤ k`` filter Spark compiles to WindowGroupLimit — a PARTIAL
    top-k inside each map task — so the one exchange carries only
    O(tasks × |Q| × k) rows, never the scored relation (plan-pinned in
    tests/test_dataops.py).

    ``query_shards``: a large query batch cannot ride one broadcast
    (Spark's 8 GB broadcast-relation cap, driver/executor memory).  With
    n > 1 the query side splits into n disjoint hash shards; each shard
    gets its own small broadcast + crossJoin + per-shard partial top-k
    window, and the shards union.  Every query lives in exactly one
    shard, so per-shard ranking equals global ranking — results are
    identical to the unsharded join (pinned in tests), peak broadcast
    size is |Q|/n, and each shard still compiles to WindowGroupLimit.
    Default ``None`` = AUTO (round-5): the shard count is derived from
    the query side's Catalyst size estimate and the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (see _auto_query_shards —
    zero jobs at plan build), so a query batch above the broadcast
    budget shards itself without the caller knowing the OOM bound.
    For |Q| beyond what sharding keeps reasonable (~millions), use
    ``knn_join_lsh`` instead — its probes-join shape never broadcasts
    the full scored relation.

    Output: (query_id, vec_id, score, rank), rank 1..k per query; a
    query vector present in the corpus matches itself at rank 1.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )

    def _topk(q_shard: DataFrame) -> DataFrame:
        scored = c.crossJoin(F.broadcast(q_shard)).select(
            "query_id",
            F.col(id_col),
            F.round(cosine(F.col("_v"), F.col("_qv")), 6).alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc(id_col)
        )
        return (
            scored.where(F.col("score").isNotNull() & ~F.isnan("score"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
        )

    if query_shards is None:
        query_shards = _auto_query_shards(q)
    if query_shards <= 1:
        return _topk(q)
    shard = F.pmod(F.hash("query_id"), F.lit(int(query_shards)))
    parts = [
        _topk(q.where(shard == i)) for i in range(int(query_shards))
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def knn_join_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 12,
    hamming_radius: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate batch kNN join: corpus signatures equi-join the
    queries' multiprobe signature sets (each query explodes into
    Σ C(nbits, r≤radius) probe signatures — pure expressions over
    driver-enumerated XOR masks), exact re-rank per query inside the
    probed buckets.  Candidates shrink by ~probes/2^nbits; same scale
    shape as knn_join afterwards (WindowGroupLimit partial top-k).
    Equivalent to per-query ``rp_lsh_topk`` (Hamming ≤ radius probing),
    batched.  Pass ``dim`` (or carry it in the column metadata) so plan
    construction runs zero jobs."""
    dim = _resolve_dim(corpus, vec_col, dim)
    planes = _hyperplanes(dim, nbits, seed)
    masks = _xor_masks(nbits, hamming_radius)
    v = F.col(vec_col).cast("array<double>")
    c = corpus.select(
        F.col(id_col), v.alias("_v"), rp_signature(vec_col, planes).alias("sig")
    )
    # qsig computed ONCE per query in its own projection; the mask
    # fan-out references the stored column (CollapseProject keeps
    # multiply-referenced non-trivial expressions un-inlined, so the
    # nbits×dim signature tree is not duplicated per mask)
    qsigned = queries.select(
        F.col(id_col).alias("query_id"),
        v.alias("_qv"),
        rp_signature(vec_col, planes).alias("qsig"),
    )
    probes = qsigned.select(
        "query_id",
        "_qv",
        F.explode(
            F.array(*[F.col("qsig").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("sig"),
    )
    scored = c.join(F.broadcast(probes), "sig").select(
        "query_id",
        F.col(id_col),
        F.round(cosine(F.col("_v"), F.col("_qv")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.where(F.col("score").isNotNull() & ~F.isnan("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def cosine_pairs_exact(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold — the correctness baseline
    for ``cosine_pairs`` (which buckets by LSH signature and therefore
    trades recall below ~0.9 cosine).  O(n²) by construction: right for
    gate-scale verification and for re-ranking candidate sets; at 100 TB
    use ``cosine_pairs`` (bounded buckets) and reserve this for the
    verify stage."""
    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("id"), v.alias("_v"))
    a = base.select(F.col("id").alias("id_a"), F.col("_v").alias("_va"))
    b = base.select(F.col("id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    nbits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int = 1000,
    dim: int | None = None,
    probe_radius: int = 0,
) -> DataFrame:
    """Embedding near-dup pairs: LSH-bucket equi-join (exact signature
    match) → exact cosine verify.  At high thresholds near-dups collide
    on all bits with high probability; precision is exact.

    ``probe_radius`` > 0 turns on multiprobe: one side explodes each
    signature into every XOR mask of Hamming weight ≤ radius, so a pair
    whose signatures differ in ≤ radius bits still collides.  Recall at
    cosine c rises from P(0 flips) = (1-θ/π)^nbits to P(≤radius flips)
    — e.g. nbits=8, c≈0.999: 0.94 → 0.9998 at radius 2 — at the cost
    of a Σ C(nbits, r) fan-out on the exploded side (37× at 8/2).
    Precision is unaffected (exact verify).

    ``max_bucket`` bounds a degenerate signature bucket (e.g. zero or
    constant vectors) to cap² candidates instead of p², with the
    dedup joins' posting cap (dedup._cap_postings).  Pass ``dim`` (or
    carry it in the column metadata) so plan construction runs zero
    jobs."""
    dim = _resolve_dim(df, vec_col, dim)
    planes = _hyperplanes(dim, nbits, seed)
    v = F.col(vec_col).cast("array<double>")
    signed = _cap_postings(
        df.select(
            F.col(id_col).alias("id"),
            v.alias("_v"),
            rp_signature(vec_col, planes).alias("sig"),
        ),
        ["sig"],
        max_bucket,
    )
    if probe_radius > 0:
        masks = _xor_masks(nbits, probe_radius)
        probed = signed.select(
            "id",
            "_v",
            F.explode(
                F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("sig"),
        )
    else:
        probed = signed
    return (
        probed.alias("a")
        .join(signed.alias("b"), "sig")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a._v"), F.col("b._v")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )
