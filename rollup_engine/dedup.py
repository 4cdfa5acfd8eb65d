"""Deduplication operators for training-data pipelines.

Five families, each Spark-first:

- exact        hash-groupBy on the normalized-text fingerprint (JVM)
- ngram-jaccard  shingle inverted-index join → exact Jaccard (JVM)
- MinHash+LSH  shingle → K minhashes → B bands → band-bucket join →
               candidate verify (JVM expressions throughout; hashes are
               md5-derived so the DuckDB oracle can reproduce them)
- SimHash      64-bit majority-vote signature over token hashes;
               near-dup = Hamming distance ≤ k via bit_count(xor)
- embedding-cosine  see ann.py (shared kernel)

Scale notes: every pairwise step goes through an inverted-index
(explode → equi-join) rather than a cross join, so candidate generation
is O(postings), shuffled on shingle/band/bucket keys.  Frequent-shingle
hot keys are the skew hazard — ``max_posting`` truncates a shingle's
posting list (standard df-cap), bounding any single join key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textops import fingerprint, normalize_text

# --------------------------------------------------------------- helpers

# md5-derived 60-bit hash — reproducible in DuckDB SQL, unlike xxhash64.
def md5_long(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingles(text: Column, n: int = 5) -> Column:
    """Word n-gram shingles of the normalized text (distinct)."""
    words = F.split(normalize_text(text), " ")
    m = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(m - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(words, i + 1, n), " ")
    )
    return F.array_distinct(
        F.when(m >= n, grams).otherwise(F.array(F.array_join(words, " ")))
    )


# ----------------------------------------------------------------- exact


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Survivors of exact dedup: min id per normalized-text fingerprint."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .select(id_col, "fp", "dup_count")
    )


# --------------------------------------------------------- ngram jaccard


def _shingle_relation(df: DataFrame, n: int, id_col: str, text_col: str):
    """(id, shingle) relation + per-doc distinct-shingle sizes.

    Built with posexplode + window leads instead of array higher-order
    functions: HOF lambdas evaluate interpreted (outside whole-stage
    codegen) and measured ~15µs/shingle; this formulation is all
    codegen.  Semantics identical to ``shingles()``: word n-grams of
    the normalized text, whole text when shorter than n (concat_ws
    skips the null leads), distinct per doc.
    """
    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(normalize_text(F.col(text_col)), " ")).alias(
            "pos", "w"
        ),
    )
    win = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", i).over(win) for i in range(1, n)]
    m = F.count(F.lit(1)).over(Window.partitionBy("id"))
    grams = words.select(
        "id", "pos", F.concat_ws(" ", *leads).alias("sh"), m.alias("_m")
    )
    sh = (
        grams.where(
            (F.col("pos") <= F.col("_m") - n)
            | ((F.col("_m") < n) & (F.col("pos") == 0))
        )
        .select("id", "sh")
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    return sh, sizes


def _jaccard(pairs: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, inter) + sizes → thresholded jaccard pairs."""
    return (
        pairs.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_posting: int = 1000,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle inverted index.

    |A∩B| counted from the index join; |A∪B| = |A|+|B|−|A∩B|.  The
    posting-list cap bounds join-key skew (a shingle shared by p docs
    creates p² candidate contributions).
    """
    sh, sizes = _shingle_relation(df, n, id_col, text_col)
    # round-6: posting list per shingle as ONE capped sorted array
    # (identical survivor set to the old row_number cap — lowest ids),
    # pairs exploded i<j; one exchange + one hash aggregate instead of
    # cap window + inverted-index self-join.  |A∩B| = number of shared
    # shingles = pair multiplicity across postings, exactly as before.
    posting = (
        sh.groupBy("sh")
        .agg(
            F.slice(F.sort_array(F.collect_list("id")), 1, max_posting).alias(
                "_ids"
            )
        )
        .where(F.size("_ids") >= 2)
    )
    pairs = (
        posting.select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard(pairs, sizes, threshold)


# ------------------------------------------------------------ minhash lsh

MINHASH_PERMS = 64
LSH_BANDS = 16  # 16 bands × 4 rows
# 2^31−1: keeps a·h + b < 2^62 so the JVM's ANSI long arithmetic never
# overflows (a, h < 2^31), while 31-bit minhashes stay collision-safe
# for realistic shingle-set sizes.
_MERSENNE31 = (1 << 31) - 1


def _perm_params(k: int = MINHASH_PERMS) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation — seeded LCG constants."""
    params = []
    a, b = 0x9E3779B9, 0xC2B2AE3D
    for _ in range(k):
        a = (a * 1103515245 + 12345) % _MERSENNE31
        b = (b * 1103515245 + 12345) % _MERSENNE31
        params.append((a | 1, b))
    return params


def _cap_postings(rel: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Bound a posting list to ``cap`` ids per join key (deterministic:
    lowest ids survive).  A degenerate bucket — empty/boilerplate texts
    all hashing to one band value — otherwise contributes p² candidate
    rows in ONE join key: the classic dedup skew killer at scale.  The
    row_number shuffle reuses the same hash partitioning the candidate
    join needs, so the cap costs a sort, not an extra exchange."""
    w = Window.partitionBy(*keys).orderBy("id")
    return (
        rel.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 5,
    k: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate pairs via band-bucket join, verified with exact Jaccard
    (so precision is 1; recall is the LSH curve 1−(1−s^r)^b).

    ``max_bucket`` caps each (band, bucket) posting list — beyond-cap
    members of a degenerate bucket (mass-duplicated boilerplate) lose
    LSH recall only for pairs exact-dedup already catches."""
    r = k // bands
    # Signature via explode + K plain min-aggregates: 64 nested
    # higher-order-function expressions drop out of whole-stage codegen
    # into interpreted eval (measured ~10s on 5k docs); K codegen'd
    # aggregates over the exploded (id, h) relation run in milliseconds
    # and partial-aggregate map-side like any hash agg.
    # The shingle relation feeds four consumers (signature build, both
    # verify sides, sizes).  Deliberately NOT persisted: AQE's runtime
    # stage reuse already de-duplicates the identical shuffle subtrees,
    # and a persist() barrier forces full materialization of the
    # exploded relation where AQE otherwise pipelines it — measured 3×
    # SLOWER with persist at sf0.1 (10.5 s vs 3.0 s, interleaved A/B).
    sh_rel, sizes = _shingle_relation(df, n, id_col, text_col)
    ex = sh_rel.select(
        "id", F.pmod(md5_long(F.col("sh")), F.lit(_MERSENNE31)).alias("h")
    )
    perm_aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE31)).alias(
            f"_m{i}"
        )
        for i, (a, b) in enumerate(_perm_params(k))
    ]
    sig = (
        ex.groupBy("id")
        .agg(*perm_aggs)
        .select("id", F.array(*[F.col(f"_m{i}") for i in range(k)]).alias("sig"))
    )
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.hash(F.slice(F.col("sig"), i * r + 1, r).cast("string"))
                    for i in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    # Candidate pairs per (band, bucket) — round-6 shape: aggregate each
    # bucket into ONE sorted id array capped at max_bucket (identical
    # member set to the old row_number cap: lowest ids survive) and
    # explode the i<j pairs.  Replaces the cap window + banded self-join
    # + its duplicated subtree with one exchange + one hash aggregate;
    # measured 4.52 s → 2.9 s cumulative at sf1.0 (BENCH r6 minhash
    # profile).  Per-bucket pair fan-out is bounded by max_bucket² —
    # exactly the bound the capped join had.
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(
            F.slice(F.sort_array(F.collect_list("id")), 1, max_bucket).alias(
                "_ids"
            )
        )
        .where(F.size("_ids") >= 2)
    )
    cand = (
        buckets.select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    # verify ONLY the candidates (exact Jaccard restricted to the
    # candidate set — the whole point of LSH; an all-pairs verify would
    # re-introduce the O(n²) it avoids).  Guide §3.2: the candidate set
    # is tiny next to the shingle relation, so BROADCAST it and semi-
    # prune both shingle sides map-side before any shuffle — the old
    # plan shuffled the full shingle relation twice (once by id, once
    # by (id, sh)) to verify a few thousand pairs.  Bound: |cand| ≤
    # Σ_buckets |bucket|²/2 with |bucket| ≤ max_bucket; a corpus whose
    # candidate set outgrows broadcast (≫10⁷ pairs) should lower
    # max_bucket or raise the LSH threshold first.
    # side A needs no separate prune: the broadcast hash join below
    # streams the shingle relation once and drops non-candidate rows
    # inline; only side B (a shuffle join on (id_b, sh)) must be
    # semi-pruned BEFORE its exchange
    sh_a = sh_rel.select(F.col("id").alias("id_a"), "sh")
    sh_b = sh_rel.join(
        F.broadcast(cand.select(F.col("id_b").alias("id")).distinct()),
        "id",
        "leftsemi",
    ).select(F.col("id").alias("id_b"), "sh")
    inter = (
        F.broadcast(cand)
        .join(sh_a, "id_a")
        .join(sh_b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard(inter, sizes, threshold)


# ---------------------------------------------------------------- simhash


def simhash64(text: Column) -> Column:
    """64-bit SimHash: per-token md5-derived hash, majority vote per
    bit, built as a JVM expression tree (64 bit-count aggregations over
    the token array — codegen'd, no UDF)."""
    toks = F.split(normalize_text(text), " ")
    hs = F.transform(toks, lambda t: md5_long(t))
    n = F.size(hs)
    bits = []
    for i in range(60):  # md5_long yields 60 usable bits
        ones = F.size(
            F.filter(hs, lambda h: h.bitwiseAND(F.lit(1 << i)) != 0)
        )
        bit = F.when(ones * 2 >= n, F.lit(1 << i)).otherwise(F.lit(0))
        bits.append(bit)
    out = bits[0]
    for b in bits[1:]:
        out = out + b  # disjoint bits: sum == OR
    return out.cast("long")


def simhash_relation(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sig) SimHash relation via explode + 60 codegen'd bit-sum
    aggregates — same semantics as ``simhash64`` (token-frequency-
    weighted majority vote per bit), but whole-stage-codegen instead of
    60 interpreted higher-order filters (measured ~10× on 5k docs)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w"),
    )
    h = md5_long(F.col("w"))
    ex = toks.select("id", h.alias("h"))
    bit_aggs = [
        F.sum(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1))).alias(
            f"_b{i}"
        )
        for i in range(60)
    ]
    agg = ex.groupBy("id").agg(F.count(F.lit(1)).alias("_n"), *bit_aggs)
    sig = None
    for i in range(60):
        bit = F.when(
            F.col(f"_b{i}") * 2 >= F.col("_n"), F.lit(1 << i)
        ).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return agg.select("id", sig.cast("long").alias("sig"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs at Hamming ≤ max_hamming.  Candidates via the
    pigeonhole trick: split the 60-bit signature into max_hamming+1
    bands — any pair within the radius shares at least one exact band —
    then verify with bit_count(xor).  ``max_bucket`` caps each
    (band, key) posting list against degenerate-bucket skew (see
    ``_cap_postings``).

    ``band_bits`` defaults to 60 // nbands so every band actually
    covers signature bits (a fixed 15 with nbands > 4 would shift past
    bit 60, giving key=0 for ALL docs in the overflow bands — an
    accidental all-pairs join).  Bits beyond nbands*band_bits are
    unbanded; recall still holds — ≤max_hamming differing bits touch
    ≤max_hamming of the nbands disjoint bands, so one band matches."""
    nbands = max_hamming + 1
    if band_bits is None:
        band_bits = 60 // nbands
    sig = simhash_relation(df, id_col, text_col)
    bandcols = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("sig"), i * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .alias("key"),
        )
        for i in range(nbands)
    ]
    banded = sig.select("id", "sig", F.explode(F.array(*bandcols)).alias("bk")).select(
        "id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    banded = _cap_postings(banded, ["band", "key"], max_bucket)
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.sig").bitwiseXOR(F.col("b.sig"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def _free_local_checkpoint(df: DataFrame) -> None:
    """Immediately release the block storage of an eagerly
    ``localCheckpoint()``-ed DataFrame.  ``Dataset.unpersist()`` is a
    no-op for these (the CacheManager never registers localCheckpoint
    RDDs), so the blocks otherwise linger until JVM GC + ContextCleaner
    get around to them.  Reaches the LogicalRDD's java RDD and
    unpersists it directly.  The DataFrame is UNUSABLE afterwards
    (checkpoint data is not recomputable) — only call on a checkpoint
    that has been superseded.  Best-effort: on any reflection surprise
    it falls back to the ContextCleaner's GC-based cleanup."""
    try:
        lp = df._jdf.queryExecution().analyzed()
        if lp.getClass().getSimpleName() == "LogicalRDD":
            lp.rdd().unpersist(False)
    except Exception:
        pass


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Near-dup CLUSTER resolution: connected components over the pair
    edges, ``cluster_id`` = the smallest doc id in each component
    (singletons map to themselves).  Canonical-survivor selection for a
    training set is then ``WHERE doc_id = cluster_id``.

    Algorithm: the alternating large-star / small-star method (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014)
    — each round is two groupBy-min passes over the edge list and the
    edge set converges to per-component stars rooted at the minimum
    node in O(log n) rounds EVEN on pathological path graphs (where
    naive min-label propagation needs diameter rounds).  Iterative by
    nature: each round runs a convergence check and persists its edge
    set (documented exception to the plan-pure rule — cf. GraphX
    connected components, which uses the same shape).

    Raises if not converged within ``max_iters`` (never returns a
    silently-partial clustering); 25 rounds covers components far
    beyond any real corpus.

    Each round's edge set is ``localCheckpoint``-ed: without lineage
    truncation the logical plan doubles per round and Catalyst
    stack-overflows around round ~10 (the standard iterative-graph
    pattern — GraphFrames CC does the same).  On a real cluster swap in
    reliable ``checkpoint()`` (HDFS-backed) so executor loss during the
    loop stays recoverable.

    Superseded rounds free their block storage via
    ``_free_local_checkpoint`` — ``Dataset.unpersist()`` goes through
    the CacheManager, where localCheckpoint RDDs are never registered,
    so it silently does nothing and the loop would hold
    O(rounds × |E|) storage blocks until the ContextCleaner GCs them
    (round-4 ADVICE finding).  The FINAL edge set stays checkpointed:
    the returned labels DataFrame reads from it lazily.
    """
    ids = df.select(F.col(id_col).cast("long").alias("id")).distinct()
    # normalize: (a, b) with a > b, no self-loops — the "points to a
    # smaller node" orientation both star steps preserve
    edges = (
        pairs.select(
            F.greatest(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
            .alias("a"),
            F.least(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
            .alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    for _ in range(max_iters):
        # ---- large-star: every node u links its LARGER neighbors
        # to m(u) = min(N(u) ∪ {u}) --------------------------------
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        m = F.least(F.col("a"), F.col("mn"))
        large = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            # (v, m): v > u ≥ m, so orientation a > b is preserved
            .select(F.col("b").alias("a"), m.alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star: every node u links its smaller neighbors
        # (and itself) to its minimum smaller neighbor -------------
        mins2 = large.groupBy("a").agg(F.min("b").alias("mn"))
        joined = large.join(mins2, "a")
        new_edges = (
            mins2.select("a", F.col("mn").alias("b"))
            .unionByName(
                joined.select(F.col("b").alias("a"), F.col("mn").alias("b"))
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_count = new_edges.count()
        converged = (
            new_count == n_edges
            and new_edges.subtract(edges).count() == 0
        )
        _free_local_checkpoint(edges)
        edges, n_edges = new_edges, new_count
        if converged:
            # fixpoint = per-component stars: every non-root node
            # has a direct (node, root) edge; roots/singletons self
            labels = ids.join(
                edges.select(F.col("a").alias("id"), F.col("b").alias("label")),
                "id",
                "left",
            )
            return labels.select(
                F.col("id").alias(id_col),
                F.coalesce(F.col("label"), F.col("id")).alias("cluster_id"),
            )
    _free_local_checkpoint(edges)
    raise RuntimeError(
        f"dedup_clusters did not converge in {max_iters} "
        "large-star/small-star rounds (O(log n) expected — this "
        "indicates a bug or an astronomically large component)"
    )


# --------------------------------------------- edit-distance (FastSS)


def _deletion_variants(term: Column) -> Column:
    """All strings obtained by deleting ONE character of ``term`` —
    pure JVM array expression (sequence + substr), no Python.  Empty
    input yields an empty array (sequence(1,0) would count DOWN)."""
    return F.when(
        F.length(term) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(term)),
            lambda i: F.concat(
                term.substr(F.lit(1), i - 1),
                term.substr(i + 1, F.length(term)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def edit_distance_pairs(
    df: DataFrame,
    term_col: str = "term",
    max_dist: int = 1,
    max_posting: int = 200,
) -> DataFrame:
    """Edit-distance-similar string pairs via deletion neighborhoods —
    the FastSS / SymSpell banding scheme (Bocek et al. 2007, public
    algorithm), the typo-clustering primitive of a text pipeline
    (vocabulary normalization, near-dup titles, OCR noise).

    Candidate rule: if lev(s, t) ≤ d then deleting at most d chars
    from each yields a common string, so pairs sharing a member of the
    depth-d deletion neighborhood D_d have COMPLETE recall; the
    converse only bounds lev ≤ 2d, so candidates verify through one
    exact ``levenshtein`` (JVM codegen) before emission.  Neighborhood
    size is O(len^d) per term — linear blowup at d=1, quadratic at
    d=2 — vs the O(|V|²) brute-force cross join.

    Scale shape: explode(D_d) → inverted index on the variant string →
    capped self-equi-join (``max_posting`` bounds the p² candidate
    blowup of a hot variant — short strings share variants heavily) →
    distinct pair → verify.  One shuffle on the variant key, one on
    the pair key; both map-side combinable.  Supports d ∈ {1, 2}.

    Returns (term_a, term_b, dist), term_a < term_b.
    """
    if max_dist not in (1, 2):
        raise ValueError("edit_distance_pairs supports max_dist 1 or 2")
    base = (
        df.select(F.col(term_col).alias("id"))
        .where(F.col(term_col).isNotNull())
        .distinct()
    )
    t = F.col("id")
    vars1 = F.array_union(F.array(t), _deletion_variants(t))
    if max_dist == 2:
        variants = F.array_union(
            vars1,
            F.array_distinct(
                F.flatten(F.transform(_deletion_variants(t), _deletion_variants))
            ),
        )
    else:
        variants = vars1
    rel = base.select("id", F.explode(variants).alias("v"))
    capped = _cap_postings(rel, ["v"], max_posting)
    pairs = (
        capped.alias("a")
        .join(capped.alias("b"), "v")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("term_a"), F.col("b.id").alias("term_b"))
        .distinct()
        .withColumn("dist", F.levenshtein("term_a", "term_b"))
        .where(F.col("dist") <= max_dist)
    )
    return pairs
