"""Training-data pipeline queries (documents/embeddings tables) with
DuckDB oracles.  SQL mirrors the Spark expressions in formula and IEEE
operation order so doubles hash-match."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ann, dedup, textops
from .fanout import fan_out

# --------------------------------------------------------------- loaders


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file testdata scans as ONE split; fan the rows out before
    # the regex/shingle-heavy per-row work (measured 6.1× on
    # text_features at sf1.0 — see fanout.py).  doc_id keying keeps the
    # exchange deterministic and reusable by downstream id-keyed ops.
    from .fanout import input_size_bytes, tune_shuffle_for_input

    path = f"{sf_dir}/documents.parquet"
    tune_shuffle_for_input(spark, input_size_bytes(path))
    return fan_out(spark.read.parquet(path), "doc_id")


# The driver's embeddings tables are 64-dim at every scale factor
# (verified across sf0.001/0.01/0.1).  Stamped into the column metadata
# so LSH plan construction (ann._resolve_dim) never runs a probe job;
# a dim change would show up immediately as gate hash mismatches.
EMBEDDING_DIM = 64


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same single-split story as _docs: distribute the vector math
    from .fanout import input_size_bytes, tune_shuffle_for_input

    path = f"{sf_dir}/embeddings.parquet"
    tune_shuffle_for_input(spark, input_size_bytes(path))
    df = fan_out(spark.read.parquet(path), "vec_id")
    return df.withMetadata("embedding", {"dim": EMBEDDING_DIM})


# Planted near-duplicate pairs for the embedding_pairs gate: the
# synthetic corpus has NO cosine ≥ 0.9 pair at sf0.01 (max pairwise
# cosine ≈ 0.513 measured), so on the raw table the LSH gate is
# vacuously green (0 rows both sides — round-4 verdict finding).  Both
# the Spark query and the DuckDB oracle append these rows, making the
# recorded gate exercise bucketing + multiprobe + verify on real
# matches while the corpus supplies the ≥124k true-negative pairs.
PLANTED_SEED = 7
PLANTED_PAIRS = 8
PLANTED_BASE_ID = 10_000_000


# Planted typo terms for the typo_pairs gate: the synthetic corpus
# vocabulary (~30 distinct words) contains NO natural edit-distance-1
# pair, so without these the FastSS gate would be vacuously green.
# Each is distance 1 from a corpus word (delete/substitute/insert) or
# from its planted partner; both engines append the same literals.
PLANTED_TYPOS = [
    "tble",       # table  (delete)
    "windo",      # window (delete)
    "sparc",      # spark  (substitute)
    "quer",       # query  (delete)
    "filte",      # filter (delete)
    "merg",       # merge  (delete)
    "tokenizer",  # planted pair ...
    "tokeniser",  # ... distance 1 to each other
]


def _planted_neardups(dim: int = EMBEDDING_DIM) -> list[tuple[int, list[float]]]:
    """Deterministic near-dup vector pairs: each is a seeded unit
    vector and a ~1.5e-3 per-dim perturbation (cosine ≈ 0.99993, i.e.
    expected signature flips ≈ 0.03 of 8 bits — far inside radius-2
    multiprobe recall).  Values round through float32 so the decimal
    literal strings parse to identical bits in Spark and DuckDB."""
    import numpy as np

    rng = np.random.default_rng(PLANTED_SEED)
    rows: list[tuple[int, list[float]]] = []
    for i in range(PLANTED_PAIRS):
        base = rng.standard_normal(dim)
        base /= np.linalg.norm(base)
        noise = rng.standard_normal(dim) * 1.5e-3
        a = base.astype(np.float32)
        b = (base + noise).astype(np.float32)
        rows.append((PLANTED_BASE_ID + 2 * i, [float(x) for x in a]))
        rows.append((PLANTED_BASE_ID + 2 * i + 1, [float(x) for x in b]))
    return rows


def _embs_with_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    planted = spark.createDataFrame(
        _planted_neardups(), schema="vec_id bigint, embedding array<float>"
    )
    e = _embs(spark, sf_dir).select("vec_id", "embedding").unionByName(planted)
    return e.withMetadata("embedding", {"dim": EMBEDDING_DIM})


# ------------------------------------------------------------- text ops


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (textops.redact_pii) with planted evidence: the
    synthetic corpus contains no PII, so an md5-gated ~1/8 of docs gets
    a deterministic email + phone + IP + account number appended (a
    construction DuckDB states verbatim) — the redacted output and the
    was_redacted flag must match the oracle exactly, and the flag makes
    non-vacuity visible in the recorded row values."""
    d = _docs(spark, sf_dir)
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    pii_suffix = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-867-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" from 10.0.0.1 acct 1234567890"),
    )
    planted = d.withColumn(
        "text",
        F.when(gate, F.concat(F.coalesce(F.col("text"), F.lit("")), pii_suffix)).otherwise(
            F.col("text")
        ),
    )
    red = textops.redact_pii(F.col("text"))
    return planted.select(
        "doc_id",
        red.alias("text_redacted"),
        (~red.eqNullSafe(F.col("text"))).alias("was_redacted"),
    )


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.add_text_features(_docs(spark, sf_dir)).select(
        "doc_id",
        "ws_tokens",
        "bpe_tokens",
        "avg_word_len",
        "stopword_ratio",
        "punct_ratio",
        "digit_ratio",
        "quality",
        "lang_pred",
        "fingerprint",
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus stats — the groupBy composition over features."""
    f = textops.add_text_features(_docs(spark, sf_dir))
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("ws_tokens").alias("ws_tokens_total"),
        F.sum("bpe_tokens").alias("bpe_tokens_total"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(_docs(spark, sf_dir))


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by exact Jaccard; oracle is the full
    exact-Jaccard pair set at the same threshold — they agree because
    recall at s≥0.875 with 16 bands × 4 rows is 1−(1−s⁴)¹⁶ ≈ 1−7e-7."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.7)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs.  Oracled: the md5-derived 60-bit
    majority-vote signature, pigeonhole banding, and bit_count(xor)
    verify are all reproducible in DuckDB SQL (see _simhash_oracle)."""
    out = dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=6)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution (round-4): connected components over
    the MinHash-LSH pair edges, cluster_id = min doc id per component
    (singletons self-map) — the step that turns pair lists into
    keep-one-per-cluster training-set selection.  Oracle: DuckDB
    recursive-CTE transitive closure over the exact-Jaccard pair set at
    the same threshold (pair sets agree per the dedup_minhash_lsh
    gate's recall argument)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.7)
    return dedup.dedup_clusters(docs, pairs)


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir)
    qv = [float(x) for x in e.where("vec_id = 0").first()["embedding"]]
    return ann.cosine_topk(e, qv, k=10)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH with multiprobe.  Oracled: the DuckDB SQL
    embeds the same seeded hyperplanes as array literals and reproduces
    signature → Hamming-radius probe → exact re-rank (recall vs brute
    force additionally pinned in tests/test_dataops.py)."""
    e = _embs(spark, sf_dir)
    qv = [float(x) for x in e.where("vec_id = 0").first()["embedding"]]
    return ann.rp_lsh_topk(e, qv, k=10, nbits=12, hamming_radius=4)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (nprobe=4 of 16 deterministic centroids).
    Oracled: the DuckDB SQL reproduces centroid choice, 9-dp-rounded
    assignment, probe ranking, and exact re-rank."""
    e = _embs(spark, sf_dir)
    qv = [float(x) for x in e.where("vec_id = 0").first()["embedding"]]
    return ann.ivf_topk(e, qv, k=10, n_centroids=16, nprobe=4)


def q_ann_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-LSH-index path (round-3): build + persist the
    signature table partitioned by sig, then answer the SAME query as
    ann_lsh via a partition-pruned read + re-rank.  Shares ann_lsh's
    DuckDB oracle — the index must change the plan, never the result."""
    import os

    from . import ann_index
    from .queries_pipeline import _workdir

    e = _embs(spark, sf_dir)
    qv = [float(x) for x in e.where("vec_id = 0").first()["embedding"]]
    path = os.path.join(_workdir("annlsh", sf_dir), "idx")
    ann_index.write_lsh_index(e, path, nbits=12, seed=42)
    return ann_index.lsh_topk_indexed(spark, path, qv, k=10, hamming_radius=4)


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-IVF-index path (round-3): centroid assignment
    persisted as the cid partition column (smallest-id quantizer so the
    ann_ivf DuckDB oracle applies verbatim; the data-adaptive k-means
    quantizer is pinned by tests/test_ann_index.py's recall test)."""
    import os

    from . import ann_index
    from .queries_pipeline import _workdir

    e = _embs(spark, sf_dir)
    qv = [float(x) for x in e.where("vec_id = 0").first()["embedding"]]
    path = os.path.join(_workdir("annivf", sf_dir), "idx")
    ann_index.write_ivf_index(e, path, n_centroids=16, quantizer="smallest_id")
    return ann_index.ivf_topk_indexed(spark, path, qv, k=10, nprobe=4)


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact batch kNN join (round-3): top-5 corpus neighbors for each
    of the 8 smallest-id query vectors — per-query top-k runs as a
    WindowGroupLimit partial top-k, never shuffling the scored
    relation.  Oracle: DuckDB cross join + row_number window."""
    e = _embs(spark, sf_dir)
    return ann.knn_join(e, e.where("vec_id < 8"), k=5)


def q_knn_join_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_join with the query side split into 3 hash shards (round-4):
    bounded per-shard broadcasts, per-shard WindowGroupLimit top-k,
    unioned.  Must equal the unsharded join — shares its oracle (the
    indexed-ANN-gate pattern: same result, different plan)."""
    e = _embs(spark, sf_dir)
    return ann.knn_join(e, e.where("vec_id < 8"), k=5, query_shards=3)


def q_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate batch kNN join via multiprobe signature equi-join,
    exact re-rank per query.  Oracle: the seeded hyperplanes embedded
    as SQL literals, probe = bit_count(xor) ≤ radius (equivalent to the
    Spark side's driver-enumerated XOR-mask explode)."""
    e = _embs(spark, sf_dir)
    return ann.knn_join_lsh(
        e, e.where("vec_id < 8"), k=5, nbits=12, hamming_radius=4
    )


def q_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH buckets + radius-2
    multiprobe + exact verify, over the corpus augmented with 8 planted
    near-dup pairs (see _planted_neardups — the raw corpus has no
    cosine ≥ 0.9 pair, which made this gate vacuous in round 4).
    Oracle is the EXACT all-pairs cosine over the same augmented table:
    falsifiable in BOTH directions — a precision bug adds rows, a
    recall bug (missed planted pair) drops rows."""
    return ann.cosine_pairs(
        _embs_with_planted(spark, sf_dir), threshold=0.9, nbits=8, probe_radius=2
    )


def q_embedding_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine at 0.4 — 59 pairs at sf0.01, so this gate
    actually exercises the pair kernel (threshold chosen below the LSH
    regime on purpose; see cosine_pairs_exact docstring)."""
    return ann.cosine_pairs_exact(_embs(spark, sf_dir), threshold=0.4)


def _corpus_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per word occurrence: lowercased, alpha-only, length ≥ 3."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .select(F.regexp_replace(F.lower("w"), "[^a-z]", "").alias("term"))
        .where(F.length("term") >= 3)
    )


def _vocab_with_typos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary plus the planted typo literals — the universe
    of the typo_pairs gate."""
    planted = spark.createDataFrame([(t,) for t in PLANTED_TYPOS], "term string")
    return _corpus_words(spark, sf_dir).unionByName(planted)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k by frequency (the vocab-building pass of
    a tokenizer pipeline): exact occurrence counts — one map-side-
    combinable hash aggregate over the exploded words — then a
    deterministic rank (count DESC, term ASC; the tiebreak makes the
    k-boundary stable) via row_number over the ALREADY-AGGREGATED,
    vocabulary-bounded relation (the gapfill precedent: never a global
    sort of the occurrence stream)."""
    from pyspark.sql import Window

    counts = _corpus_words(spark, sf_dir).groupBy("term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 25)
    )


def q_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 vocabulary pairs via FastSS deletion
    neighborhoods (dedup.edit_distance_pairs) over the corpus vocab
    augmented with planted typos (see PLANTED_TYPOS — the raw vocab
    has no distance-1 pair).  Oracle is the brute-force levenshtein
    cross join over the same universe: falsifiable both ways — a
    candidate-generation recall bug drops rows, a verify bug adds."""
    return dedup.edit_distance_pairs(
        _vocab_with_typos(spark, sf_dir), "term", max_dist=1
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory frequent-items (freqItems Misra-Gries candidates
    + exact verify) over event user_ids at theta = 1/125: the 150-key
    space exceeds the m = 126 counter budget, so the per-partition
    truncation step actually fires, and the exact-recount phase must
    still reproduce the exact SQL answer."""
    from .heavyhitters import heavy_hitters

    # fan out the single-split scan so the partial Misra-Gries
    # aggregate parallelizes; the exact-recount phase makes the final answer
    # partitioning-independent, so this cannot change the result
    ev = fan_out(spark.read.parquet(f"{sf_dir}/events.parquet"), "user_id")
    return heavy_hitters(ev, "user_id", 1, 125)


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set selection composition: exact-dedup survivors that
    clear a quality threshold in the target language — the canonical
    filter chain of an LLM data pipeline (dedup → quality → lang)."""
    docs = _docs(spark, sf_dir)
    feats = textops.add_text_features(docs)
    survivors = dedup.dedup_exact(docs).select("doc_id")
    return (
        feats.join(survivors, "doc_id")
        .where((F.col("quality") >= 0.55) & (F.col("lang_pred") == "en"))
        .select("doc_id", "source", "quality", "lang_pred")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gate sample (40%): same kept set at any
    partitioning/cluster size, no shuffle — unlike df.sample."""
    from .sampling import deterministic_sample

    return deterministic_sample(_docs(spark, sf_dir), "doc_id", 40).select(
        "doc_id", "source"
    )


def q_source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus cap (sampling.capped_per_group, k=10): keep
    the 10 docs per source whose md5-rank is smallest — deterministic
    source balancing whose shuffle carries O(sources×k) rows via
    WindowGroupLimit (plan-pinned)."""
    from .sampling import capped_per_group

    return capped_per_group(
        _docs(spark, sf_dir), "source", 10, "doc_id"
    ).select("doc_id", "source")


def media_meta(docs: DataFrame) -> DataFrame:
    """Per-document media metadata as one JVM projection: UTF-8 byte
    length, sha256 hex digest, and stand-in dimensions 64 + the digest's
    first (width) and second (height) byte.  NULL text gives NULLs."""
    sha = F.sha2(F.col("text"), 256)

    def dim(pos: int) -> Column:
        return F.conv(F.substring(sha, pos, 2), 16, 10).cast("int") + 64

    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        sha.alias("sha256"),
        dim(1).alias("width"),
        dim(3).alias("height"),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_meta(_docs(spark, sf_dir))


DATA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pii_redact": q_pii_redact,
    "text_features": q_text_features,
    "token_stats": q_token_stats,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram,
    "dedup_minhash_lsh": q_dedup_minhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash": q_dedup_simhash,
    "ann_bruteforce": q_ann_bruteforce,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_lsh_indexed": q_ann_lsh_indexed,
    "ann_ivf_indexed": q_ann_ivf_indexed,
    "knn_join": q_knn_join,
    "knn_join_sharded": q_knn_join_sharded,
    "knn_join_lsh": q_knn_join_lsh,
    "embedding_pairs": q_embedding_pairs,
    "embedding_pairs_exact": q_embedding_pairs_exact,
    "typo_pairs": q_typo_pairs,
    "vocab_topk": q_vocab_topk,
    "heavy_hitters": q_heavy_hitters,
    "quality_filter": q_quality_filter,
    "stratified_sample": q_stratified_sample,
    "source_cap_sample": q_source_cap_sample,
    "multimodal_meta": q_multimodal_meta,
}

# ----------------------------------------------------------------- SQL

_FEATURES_CTE = r"""
WITH base AS (
    SELECT doc_id, source, text,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt,
           length(text) AS n_chars,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
           len(regexp_extract_all(lower(text),
               '\b(the|a|an|of|to|and|in|is|it|that|for|on|with|as)\b'))
               AS stop_hits,
           len(regexp_extract_all(text, '[^\w\s]')) AS punct,
           len(regexp_extract_all(text, '[0-9]')) AS digits,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
               AS bpe_tokens,
           len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|with|for)\b')) AS s_en,
           len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein)\b')) AS s_de,
           len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|pour|dans)\b')) AS s_fr,
           len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|por|para|como)\b')) AS s_es,
           len(regexp_extract_all(text, '[一-鿿]')) * 3 AS s_zh
    FROM documents
),
ratios AS (
    SELECT *,
        round(n_chars / CAST(greatest(n_words, 1) AS DOUBLE), 4) AS avg_word_len,
        round(stop_hits / CAST(greatest(n_words, 1) AS DOUBLE), 4) AS stopword_ratio,
        round(punct / CAST(greatest(n_chars, 1) AS DOUBLE), 4) AS punct_ratio,
        round(digits / CAST(greatest(n_chars, 1) AS DOUBLE), 4) AS digit_ratio
    FROM base
),
feats AS (
    SELECT *,
        n_words AS ws_tokens,
        round(
            (least(CAST(n_words AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
             + least(stopword_ratio * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
             + CASE WHEN avg_word_len >= 3 AND avg_word_len <= 10
                    THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END
            ) / CAST(3.0 AS DOUBLE)
            * (CAST(1.0 AS DOUBLE)
               - least(punct_ratio * CAST(2.0 AS DOUBLE)
                       + digit_ratio * CAST(2.0 AS DOUBLE),
                       CAST(1.0 AS DOUBLE))),
            4) AS quality,
        CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
             WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
             WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
             WHEN s_es > 0 AND s_es >= s_zh THEN 'es'
             WHEN s_zh > 0 THEN 'zh'
             ELSE 'und' END AS lang_pred,
        md5(nt) AS fingerprint
    FROM ratios
)"""

_SHINGLES_CTE = r"""
WITH norm AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) nt
    FROM documents
),
w AS (SELECT doc_id, regexp_split_to_array(nt, ' ') w FROM norm),
sh AS (
    SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 4), ' ') sh
    FROM w, UNNEST(generate_series(1, greatest(len(w) - 4, 1))) t(i)
),
sizes AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
pairs AS (
    SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
    FROM sh a JOIN sh b USING (sh)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT id_a, id_b,
           round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = pairs.id_a
    JOIN sizes sb ON sb.doc_id = pairs.id_b
)"""

# --------------------------------------------- generated oracle SQL
# These oracles reproduce the Spark operators' *algorithms* in DuckDB —
# legitimate because every primitive (md5-derived hashes, seeded
# hyperplanes, bit ops) was chosen to be engine-independent.


def _simhash_oracle_sql(max_hamming: int = 6) -> str:
    nbands = max_hamming + 1
    band_bits = 60 // nbands
    mask = (1 << band_bits) - 1
    bit_sums = ",\n           ".join(
        f"sum((h >> {i}) & 1) AS b{i}" for i in range(60)
    )
    sig_expr = "\n         + ".join(
        f"(CASE WHEN b{i} * 2 >= n THEN {1 << i} ELSE 0 END)"
        for i in range(60)
    )
    bands = "\n      UNION ALL ".join(
        f"SELECT id, sig, {i} AS band, (sig >> {i * band_bits}) & {mask} AS key FROM sigs"
        for i in range(nbands)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                   ' ')) AS w
        FROM documents
    ),
    hs AS (SELECT id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM toks),
    agg AS (
        SELECT id, count(*) AS n,
           {bit_sums}
        FROM hs GROUP BY id
    ),
    sigs AS (SELECT id, CAST({sig_expr} AS BIGINT) AS sig FROM agg),
    banded AS ({bands})
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM banded a JOIN banded b USING (band, key)
    WHERE a.id < b.id AND bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


_COSINE_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


def _sig_expr_sql(nbits: int, seed: int = 42, dim: int = 64, vec: str = "ve") -> str:
    """The Spark rp_signature as DuckDB SQL: the same seeded hyperplanes
    embedded as array literals, one sign-bit CASE per plane."""
    planes = ann._hyperplanes(dim, nbits, seed)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"
        dot = f"list_sum(list_transform(list_zip({vec}, {lit}), x -> x[1] * x[2]))"
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "\n         + ".join(terms)


def _ann_lsh_oracle_sql(nbits: int = 12, hamming_radius: int = 4, k: int = 10) -> str:
    sig_expr = _sig_expr_sql(nbits)
    cos = _COSINE_SQL.format(a="ve", b="qv")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    sigs AS (SELECT vec_id, ve, CAST({sig_expr} AS BIGINT) AS sig FROM v),
    q AS (SELECT ve AS qv, sig AS qsig FROM sigs WHERE vec_id = 0),
    probed AS (
        SELECT s.vec_id, s.ve, q.qv FROM sigs s, q
        WHERE bit_count(xor(s.sig, q.qsig)) <= {hamming_radius}
    )
    SELECT vec_id, round({cos}, 6) AS score
    FROM probed ORDER BY score DESC, vec_id ASC LIMIT {k}
    """


def _knn_join_oracle_sql(n_queries: int = 8, k: int = 5) -> str:
    cos = _COSINE_SQL.format(a="e.ve", b="q.qv")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < {n_queries}),
    s AS (SELECT q.query_id, e.vec_id, round({cos}, 6) AS score FROM v e, q),
    r AS (
        SELECT query_id, vec_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id ASC
               ) AS BIGINT) AS rank
        FROM s
    )
    SELECT query_id, vec_id, score, rank FROM r WHERE rank <= {k}"""


def _knn_join_lsh_oracle_sql(
    n_queries: int = 8, k: int = 5, nbits: int = 12, hamming_radius: int = 4
) -> str:
    cos = _COSINE_SQL.format(a="s.ve", b="q.qv")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    sigs AS (SELECT vec_id, ve,
                    CAST({_sig_expr_sql(nbits)} AS BIGINT) AS sig FROM v),
    q AS (SELECT vec_id AS query_id, ve AS qv, sig AS qsig
          FROM sigs WHERE vec_id < {n_queries}),
    probed AS (
        SELECT q.query_id, s.vec_id, round({cos}, 6) AS score
        FROM sigs s, q
        WHERE bit_count(xor(s.sig, q.qsig)) <= {hamming_radius}
    ),
    r AS (
        SELECT query_id, vec_id, score,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id ASC
               ) AS BIGINT) AS rank
        FROM probed
    )
    SELECT query_id, vec_id, score, rank FROM r WHERE rank <= {k}"""


def _ann_ivf_oracle_sql(
    n_centroids: int = 16, nprobe: int = 4, k: int = 10
) -> str:
    cos_vc = _COSINE_SQL.format(a="v.ve", b="c.cv")
    cos_cq = _COSINE_SQL.format(a="cv", b="qv")
    cos_vq = _COSINE_SQL.format(a="a.ve", b="qv")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    c AS (SELECT vec_id AS cid, ve AS cv FROM v ORDER BY vec_id LIMIT {n_centroids}),
    q AS (SELECT ve AS qv FROM v WHERE vec_id = 0),
    scored AS (
        SELECT v.vec_id, v.ve, c.cid, round({cos_vc}, 9) AS cs
        FROM v CROSS JOIN c
    ),
    assign AS (
        SELECT vec_id, ve,
               (array_agg(cid ORDER BY cs DESC, cid ASC))[1] AS cid
        FROM scored GROUP BY vec_id, ve
    ),
    probe AS (
        SELECT cid FROM (
            SELECT c.cid, round({cos_cq}, 9) AS cs FROM c CROSS JOIN q
        ) ORDER BY cs DESC, cid ASC LIMIT {nprobe}
    )
    SELECT a.vec_id, round({cos_vq}, 6) AS score
    FROM assign a CROSS JOIN q
    WHERE a.cid IN (SELECT cid FROM probe)
    ORDER BY score DESC, a.vec_id ASC LIMIT {k}
    """


def _pairs_exact_oracle_sql(threshold: float, planted: bool = False) -> str:
    cos = _COSINE_SQL.format(a="a.ve", b="b.ve")
    if planted:
        values = ",\n        ".join(
            "({}, [{}]::FLOAT[])".format(vid, ", ".join(repr(x) for x in vec))
            for vid, vec in _planted_neardups()
        )
        src = f"""pv(vec_id, embedding) AS (VALUES
        {values}),
    allv AS (SELECT vec_id, embedding FROM embeddings
             UNION ALL SELECT vec_id, embedding FROM pv),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM allv)"""
    else:
        src = "v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings)"
    return f"""
    WITH {src}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE round({cos}, 6) >= {threshold}
    """


DATA_ORACLES: dict[str, str] = {
    # pii_redact: identical RE2/Java-shared patterns, same rule order
    # as textops.PII_RULES; 'g' = replace every match like Spark
    "pii_redact": """
    WITH p AS (
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         IN ('0', '1')
                    THEN COALESCE(text, '')
                         || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or call 555-867-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         || ' from 10.0.0.1 acct 1234567890'
                    ELSE text END AS text
        FROM documents
    ),
    r AS (
        SELECT doc_id, text,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g'),
                     '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b',
                     '[PHONE]', 'g'),
                   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
                   '[IP]', 'g'),
                 '[0-9]{8,}', '[NUM]', 'g') AS text_redacted
        FROM p
    )
    SELECT doc_id, text_redacted,
           NOT (text_redacted IS NOT DISTINCT FROM text) AS was_redacted
    FROM r""",
    "text_features": _FEATURES_CTE
    + """
    SELECT doc_id, ws_tokens, bpe_tokens, avg_word_len, stopword_ratio,
           punct_ratio, digit_ratio, quality, lang_pred, fingerprint
    FROM feats""",
    "token_stats": _FEATURES_CTE
    + """
    SELECT source, count(*) AS docs,
           CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens_total,
           CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens_total,
           round(avg(quality), 4) AS avg_quality
    FROM feats GROUP BY source""",
    # typo_pairs: brute-force levenshtein self-join over the identical
    # vocab universe (DuckDB levenshtein == Spark's: unit-cost
    # insert/delete/substitute).  Fine at oracle scale; the engine side
    # is the deletion-neighborhood index, never the cross join.
    "typo_pairs": r"""
    WITH w AS (
        SELECT DISTINCT regexp_replace(lower(unnest(string_split(text, ' '))),
                                       '[^a-z]', '', 'g') AS term
        FROM documents
    ), v AS (
        SELECT term FROM w WHERE length(term) >= 3
        UNION
        SELECT * FROM (VALUES """
    + ", ".join(f"('{t}')" for t in PLANTED_TYPOS)
    + r""") t(term)
    )
    SELECT a.term AS term_a, b.term AS term_b,
           CAST(levenshtein(a.term, b.term) AS INTEGER) AS dist
    FROM v a JOIN v b ON a.term < b.term
    WHERE levenshtein(a.term, b.term) <= 1""",
    "heavy_hitters": """
    WITH c AS (
        SELECT CAST(user_id AS VARCHAR) AS user_id, COUNT(*) AS cnt
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ), n AS (SELECT SUM(cnt) AS total FROM c)
    SELECT user_id, cnt, CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
    FROM c, n WHERE cnt * 125 >= 1 * total""",
    "vocab_topk": r"""
    WITH w AS (
        SELECT regexp_replace(lower(unnest(string_split(text, ' '))),
                              '[^a-z]', '', 'g') AS term
        FROM documents
    ), c AS (
        SELECT term, COUNT(*) AS cnt FROM w WHERE length(term) >= 3
        GROUP BY term
    )
    SELECT term, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank
    FROM c QUALIFY rank <= 25""",
    "dedup_exact": r"""
    SELECT min(doc_id) AS doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           count(*) AS dup_count
    FROM documents GROUP BY 2""",
    "dedup_ngram_jaccard": _SHINGLES_CTE
    + """
    SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5""",
    "dedup_minhash_lsh": _SHINGLES_CTE
    + """
    SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.7""",
    # transitive closure over the same pair set; LEAST folds self in
    "dedup_clusters": _SHINGLES_CTE.replace("WITH norm", "WITH RECURSIVE norm", 1)
    + """
    , p AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.7),
    e AS (SELECT id_a AS a, id_b AS b FROM p
          UNION SELECT id_b, id_a FROM p),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
    ),
    m AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY 1)
    SELECT d.doc_id,
           CAST(LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS BIGINT)
               AS cluster_id
    FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""",
    "ann_bruteforce": """
    WITH q AS (
        SELECT embedding::DOUBLE[] qv FROM embeddings WHERE vec_id = 0
    ),
    s AS (
        SELECT vec_id,
            list_sum(list_transform(list_zip(embedding::DOUBLE[], qv),
                                    x -> x[1] * x[2])) AS dot,
            sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
                AS na,
            sqrt(list_sum(list_transform(qv, x -> x * x))) AS nb
        FROM embeddings, q
    )
    SELECT vec_id, round(dot / (na * nb), 6) AS score
    FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""",
    "multimodal_meta": """
    SELECT doc_id AS media_id,
           strlen(text) AS n_bytes,
           sha256(text) AS sha256,
           64 + ('0x' || substr(sha256(text), 1, 2))::INT AS width,
           64 + ('0x' || substr(sha256(text), 3, 2))::INT AS height
    FROM documents""",
    "quality_filter": _FEATURES_CTE + r"""
    , survivors AS (
        SELECT min(doc_id) AS doc_id
        FROM documents
        GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
    )
    SELECT f.doc_id, f.source, f.quality, f.lang_pred
    FROM feats f JOIN survivors s ON f.doc_id = s.doc_id
    WHERE f.quality >= 0.55 AND f.lang_pred = 'en'""",
    "stratified_sample": """
    SELECT doc_id, source FROM documents
    WHERE ('0x' || substr(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 100 < 40""",
    # source_cap_sample: same md5-rank order as sampling.capped_per_group
    "source_cap_sample": """
    SELECT doc_id, source FROM (
        SELECT doc_id, source, row_number() OVER (
            PARTITION BY source
            ORDER BY ('0x' || substr(md5('cap' || CAST(doc_id AS VARCHAR)),
                                     1, 15))::BIGINT,
                     doc_id
        ) AS rk
        FROM documents
    ) WHERE rk <= 10""",
    "dedup_simhash": _simhash_oracle_sql(max_hamming=6),
    "ann_lsh": _ann_lsh_oracle_sql(nbits=12, hamming_radius=4, k=10),
    "ann_ivf": _ann_ivf_oracle_sql(n_centroids=16, nprobe=4, k=10),
    # the indexed paths answer the SAME query through a persisted,
    # partition-pruned index — identical oracles by construction
    "ann_lsh_indexed": _ann_lsh_oracle_sql(nbits=12, hamming_radius=4, k=10),
    "ann_ivf_indexed": _ann_ivf_oracle_sql(n_centroids=16, nprobe=4, k=10),
    "knn_join": _knn_join_oracle_sql(n_queries=8, k=5),
    # sharding must not change results — oracle reused verbatim
    "knn_join_sharded": _knn_join_oracle_sql(n_queries=8, k=5),
    "knn_join_lsh": _knn_join_lsh_oracle_sql(
        n_queries=8, k=5, nbits=12, hamming_radius=4
    ),
    # embedding_pairs: exact all-pairs oracle over the planted-pair
    # augmented table — LSH radius-2 multiprobe recall at the planted
    # cosine (≈0.99993) is ~1-4e-6 per pair, so the sets agree; any
    # missed planted pair or spurious bucket pair breaks the hash.
    "embedding_pairs": _pairs_exact_oracle_sql(0.9, planted=True),
    "embedding_pairs_exact": _pairs_exact_oracle_sql(0.4),
}
