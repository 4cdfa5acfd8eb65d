"""All-JVM exact-tier rollup: histogram-as-array mergeable state, the
one engine every minute/hour/day tier runs on.

A Python sketch path would move every delta row through the Arrow
JVM↔Python boundary; measured, that transfer costs ~3.5 s per 10M rows
REGARDLESS of core count — a serial tax that caps scaling.  This module
keeps the mergeable per-bucket state inside the JVM as a sorted
``array<struct<v:long, c:long>>`` histogram column, so the whole
minute→hour→day cascade is expressible with built-in aggregates +
``explode`` and never leaves whole-stage codegen.

Plan (ONE lazy logical flow, two exchanges, zero Python, zero driver
actions — building the DataFrame never runs a job):

  deltas → groupBy(bucket, delta) count        [exchange 1, map-side combine]
         → window count(distinct values)/bucket [exchange 2 on bucket]
         → log-quantize values ONLY in buckets whose distinct-value
           count exceeds ``max_bins``           [pure expression]
         → re-group (bucket, value)             [no exchange: bucket
           partitioning co-locates (bucket, value)]
         → cumsum window + groupBy(bucket):     [no exchange]
             count/min/max/sum/avg   exact (carried as mergeable
                                     _xmin/_xmax/_xsum per hist row, so
                                     quantization never touches them)
             p50/p90/p99             nearest-rank: min v with cum ≥ ceil(q·n)
             hist                    sort_array(collect_list(struct(v, c)))
             err counters            summed alongside

How the plan is built: every stage is one ``selectExpr``, one
``withColumn`` or one ``groupBy().agg()`` over SQL text kept in module
constants (``_MERGE_AGGS``, ``_FINISH_AGGS``, ``_DD_QUANTIZE``, …),
not a tree of Column objects.  Each ``F.*`` call or Column operator is
a Py4J round trip to the driver JVM, and PySpark 4 wraps each one in a
call-site capture (``getActiveSession``, a conf ``get``,
``PySparkCurrentOrigin.set``/``clear`` and a Python stack walk), while
``F.expr`` of a whole aggregate is one call.  On the sf0.001 inputs of
tests/test_plans.py::test_plan_builders_make_few_py4j_calls (4 cores,
Spark 4.1) one build took, Column trees → SQL text: ``hist_cascade``
874 → 123 Py4J calls, ``hist_rollup`` 807 → 109, ``hist_sliding``
872 → 132, one ``serve.trailing_result`` 937 → 129.  The optimized
and physical plans are the ones the Column trees gave (operator trees
pinned by test_tier_plan_shapes_pinned).  Column names interpolated
into the text go through ``sqltext.ident`` and string values through
``sqltext.string``; double literals carry the ``D`` suffix, since a
bare ``0.5`` is a DECIMAL in Spark SQL.

Overflow contract (the reference's exact-≤threshold / approx-above,
/root/reference/Cargo.toml:20-21, generalized): buckets whose
distinct-value count exceeds ``max_bins`` store a DDSketch-style
log-quantized histogram instead of exact values — fixed γ = ``DD_GAMMA``
bins (bin i covers (γ^(i-1), γ^i]; representative = round(γ^(i-1/2)),
the geometric midpoint), bounding both the state and the percentile
error:

- state ≤ ``DD_MAX_BINS`` (≈21.9k) entries per sign class over the FULL
  int64 domain — a constant, independent of the data;
- p50/p90/p99 relative error ≤ (γ-1)/2 ≈ 0.1% (plus ±0.5 absolute from
  long rounding; values |v| ≲ 500 quantize to themselves exactly);
- count / min / max / sum / avg / error rates stay EXACT (carried
  state, not recomputed from quantized values);
- deterministic: unlike a merged t-digest, the quantizer is a pure
  function of the value — results never depend on partitioning or
  merge order;
- mergeable: a quantized histogram is still rows of (v, c), so cascades
  re-aggregate it through the same path (re-quantization is idempotent
  for |v| outside [~500, ~1000] and drifts at most one bin inside;
  total cascade error stays within ~2·(γ-1)/2).

Bound on the one per-bucket stage: the distinct-count window holds one
bucket's COMPRESSED (value, count) rows in a single (spillable) sort
task — O(distinct values), not O(rows); after quantization every later
per-bucket stage is ≤ max(max_bins, 2·DD_MAX_BINS+1) rows.  For
cluster-loss robustness there is deliberately NO lineage truncation
(localCheckpoint) anywhere: every stage can be recomputed from source.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import sqltext
from .deltas import DELTA_COL
from .rollup import ERR4, ERR5, error_flag_sql
from .schema import TIERS

HIST_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("v", T.LongType(), False),
            T.StructField("c", T.LongType(), False),
        ]
    )
)

HIST_ROLLUP_FIELDS = [
    T.StructField("bucket_start", T.TimestampType(), False),
    T.StructField("turn_count", T.LongType(), False),
    T.StructField("lat_min_ms", T.LongType(), True),
    T.StructField("lat_max_ms", T.LongType(), True),
    T.StructField("lat_avg_ms", T.LongType(), True),
    T.StructField("lat_p50_ms", T.LongType(), True),
    T.StructField("lat_p90_ms", T.LongType(), True),
    T.StructField("lat_p99_ms", T.LongType(), True),
    T.StructField("lat_sum_ms", T.LongType(), True),
    T.StructField("err4xx_cnt", T.LongType(), False),
    T.StructField("err5xx_cnt", T.LongType(), False),
    T.StructField("err4xx_rate", T.DoubleType(), True),
    T.StructField("err5xx_rate", T.DoubleType(), True),
    T.StructField("hist", HIST_TYPE, True),
]

_QS = {"lat_p50_ms": 0.5, "lat_p90_ms": 0.9, "lat_p99_ms": 0.99}

# Distinct values a bucket may hold exactly; buckets above it switch to
# the log-quantized histogram below.
HIST_MAX_BINS = 100_000

# Log-quantizer base: relative half-width (γ-1)/2 ≈ 0.1% per bin.
DD_GAMMA = 1.002
_DD_LOG_G = math.log(DD_GAMMA)
# Bins needed to cover 1..2^63 at this γ — the hard per-sign state bound
# for an overflow bucket, independent of max_bins and of the data.
DD_MAX_BINS = int(math.ceil(math.log(2.0**63) / _DD_LOG_G))
# Largest exactly-representable-in-double long below 2^63, used to clamp
# the top bin's representative so the double→long cast never overflows
# under ANSI arithmetic.
_LONG_CLAMP = 9.2e18


def _double(x: float) -> str:
    # a bare 0.5 is a DECIMAL literal in Spark SQL
    return f"{x!r}D"


# bin(v) = ceil(log_γ |v|), representative = round(γ^(bin-1/2)) with the
# sign restored; 0 → 0.  ``{v}`` is the (quoted) input column.
_DD_REP = (
    f"CAST(least(round(power({_double(DD_GAMMA)}, "
    f"CAST(ceil(ln(abs(CAST({{v}} AS DOUBLE))) / {_double(_DD_LOG_G)}) AS DOUBLE))"
    f" / {_double(math.sqrt(DD_GAMMA))}, 0), {_double(_LONG_CLAMP)}) AS BIGINT)"
)
_DD_QUANTIZE = (
    f"CASE WHEN {{v}} > 0 THEN {_DD_REP} WHEN {{v}} < 0 THEN -{_DD_REP} "
    "ELSE CAST(0 AS BIGINT) END"
)


def dd_quantize(col: str) -> Column:
    """DDSketch-style log quantizer over column ``col``.

    bin(v) = ceil(log_γ |v|), representative = round(γ^(bin-1/2)) with
    the sign restored; 0 → 0.  round (not floor) makes small integers
    (|v| ≲ 1/(γ-1) ≈ 500) their own representative and re-quantization
    idempotent.  Deterministic, mergeable, no state.  The finalize
    inlines the same SQL text.
    """
    return F.expr(_DD_QUANTIZE.format(v=sqltext.ident(col)))


# Combine (value, count) rows that land on the same group and value:
# counts and error counters add, exact carries keep min/max/sum.
_MERGE_AGGS = [
    "sum(_c) AS _c",
    "sum(_e4) AS _e4",
    "sum(_e5) AS _e5",
    "min(_xmin) AS _xmin",
    "max(_xmax) AS _xmax",
    "sum(_xsum) AS _xsum",
]

# One finished row per group from its sorted (value, count) rows:
# scalars from the exact carries, nearest-rank percentiles as the least
# value whose running count reaches ceil(q·n).
_FINISH_AGGS = [
    "sum(_c) AS turn_count",
    "min(_xmin) AS lat_min_ms",
    "max(_xmax) AS lat_max_ms",
    "sum(_xsum) AS lat_sum_ms",
    *[
        f"min(CASE WHEN _cum >= greatest(1, ceil({_double(q)} * _n)) THEN _v END)"
        f" AS {name}"
        for name, q in _QS.items()
    ],
    "sum(_e4) AS err4xx_cnt",
    "sum(_e5) AS err5xx_cnt",
    "sort_array(collect_list(struct(_v AS v, _c AS c))) AS hist",
]

# HIST_ROLLUP_FIELDS after bucket_start, in order
_FINISHED_COLS = [
    "turn_count",
    "lat_min_ms",
    "lat_max_ms",
    "CAST(floor(lat_sum_ms / turn_count) AS BIGINT) AS lat_avg_ms",
    "lat_p50_ms",
    "lat_p90_ms",
    "lat_p99_ms",
    "lat_sum_ms",
    "err4xx_cnt",
    "err5xx_cnt",
    "round(err4xx_cnt / turn_count, 4) AS err4xx_rate",
    "round(err5xx_cnt / turn_count, 4) AS err5xx_rate",
    "hist",
]

# A hist-state row exploded to (value, count) rows; the source bucket's
# exact carries ride on its first element only.
_EXPLODED_COLS = [
    "_e.v AS _v",
    "_e.c AS _c",
    "CASE WHEN _pos = 0 THEN err4xx_cnt ELSE 0 END AS _e4",
    "CASE WHEN _pos = 0 THEN err5xx_cnt ELSE 0 END AS _e5",
    "CASE WHEN _pos = 0 THEN lat_min_ms END AS _xmin",
    "CASE WHEN _pos = 0 THEN lat_max_ms END AS _xmax",
    "CASE WHEN _pos = 0 THEN lat_sum_ms ELSE 0 END AS _xsum",
]

_HIST_ROW_COLS = ["_c", "_e4", "_e5", "_xmin", "_xmax", "_xsum"]


def _aggs(exprs: list[str]) -> list[Column]:
    return [F.expr(e) for e in exprs]


def _finalize_from_hist_rows(
    h: DataFrame,
    max_bins: int,
    extra_keys: list[str] | None = None,
    tier: str | None = None,
) -> DataFrame:
    """(bucket_start, *extra_keys, _v, _c, _e4, _e5, _xmin, _xmax,
    _xsum) → one finished row per (bucket, keys) group, as ONE lazy
    plan; with ``tier`` given, a leading ``tier`` column holds it.

    Input contract: one row per (bucket_start, _v); the _x* columns are
    the mergeable exact carries (min/max/sum-of-products contributions —
    ``_v``/``_v``/``_v·_c`` at the leaf, a source bucket's exact
    lat_min/lat_max/lat_sum in a cascade).

    Buckets whose distinct-value count exceeds ``max_bins`` have their
    values log-quantized (see ``dd_quantize``) BEFORE any per-bucket
    ordered computation, so the cumsum window and the collect_list are
    bounded by max(max_bins, 2·DD_MAX_BINS+1) rows/entries per bucket.
    The distinct-count window itself runs over the bucket's compressed
    (value, count) rows — O(distinct), spillable, and the only stage
    proportional to a hot bucket's value domain.

    Everything is built-in expressions inside two exchanges; building
    the returned DataFrame runs NO job (plan-pinned by
    tests/test_plans.py::test_hist_plan_build_runs_no_jobs).
    """
    grp = ["bucket_start", *map(sqltext.ident, extra_keys or [])]
    by = ", ".join(grp)
    quantized = _DD_QUANTIZE.format(v="_v")
    # Re-group on the (possibly quantized) value.  Data is already
    # hash-partitioned by the group keys from the window exchange, which
    # co-locates (keys, _v) — no further exchange.
    h3 = (
        h.selectExpr("*", f"count(1) OVER (PARTITION BY {by}) AS _nd")
        .selectExpr(
            *grp,
            f"CASE WHEN _nd <= {int(max_bins)} THEN _v ELSE {quantized} END AS _v",
            *_HIST_ROW_COLS,
        )
        .groupBy(*grp, "_v")
        .agg(*_aggs(_MERGE_AGGS))
    )
    return _finalize_exact(h3, grp, tier)


def _finalize_exact(h: DataFrame, grp: list[str], tier: str | None) -> DataFrame:
    """Finalize hist rows whose per-bucket row count is already bounded:
    the cumsum window task is ≤ max(max_bins, 2·DD_MAX_BINS+1) rows per
    bucket.  Scalars come from the exact carries, percentiles from the
    (possibly quantized) values."""
    by = ", ".join(grp)
    lead = [] if tier is None else [f"{sqltext.string(tier)} AS tier"]
    # the cumsum window first, then the total: one sort serves both
    return (
        h.selectExpr(
            "*",
            f"sum(_c) OVER (PARTITION BY {by} ORDER BY _v"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum",
        )
        .selectExpr("*", f"sum(_c) OVER (PARTITION BY {by}) AS _n")
        .groupBy(*grp)
        .agg(*_aggs(_FINISH_AGGS))
        .selectExpr(*lead, *grp, *_FINISHED_COLS)
    )


_ERROR_FLAGS = [
    f"CAST({error_flag_sql(ERR4)} AS BIGINT) AS _e4",
    f"CAST({error_flag_sql(ERR5)} AS BIGINT) AS _e5",
]


def narrow_for_rollup(transcripts: DataFrame) -> DataFrame:
    """Project a raw transcript table down to the four columns the
    delta→rollup pipeline actually consumes, with the error-class flags
    precomputed as tiny longs.  Applied BEFORE clean()/with_deltas(),
    this shrinks every row carried through the conv_id window exchange
    (tool strings → 2 bytes; text/role never read).  Catalyst prunes
    unused columns by itself but will not rewrite ``tool`` into flags
    ahead of the shuffle — this helper does that explicitly for the
    ingest/bench hot path.  hist_rollup detects the precomputed flags.
    """
    return transcripts.selectExpr("conv_id", "turn_idx", "ts", *_ERROR_FLAGS)


def hist_rollup(
    deltas: DataFrame,
    tier: str = "minute",
    delta_col: str = DELTA_COL,
    max_bins: int = HIST_MAX_BINS,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Exact-tier rollup with JVM-resident mergeable histogram state.

    ``extra_keys``: optional breakdown columns (e.g. ``["role"]``) —
    every stage groups/partitions by (bucket, keys); same plan shape,
    finer groups."""
    trunc = sqltext.string(TIERS[tier].duckdb_trunc)
    keys = [sqltext.ident(k) for k in extra_keys or []]
    flags = ["_e4", "_e5"] if "_e4" in deltas.columns else _ERROR_FLAGS
    h = (
        deltas.selectExpr(
            f"date_trunc({trunc}, ts) AS bucket_start",
            *keys,
            f"{sqltext.ident(delta_col)} AS _v",
            *flags,
        )
        .where("_v IS NOT NULL")  # COUNT(measure) null-skip semantics
        .groupBy("bucket_start", *keys, "_v")
        .agg(*_aggs(["count(1) AS _c", "sum(_e4) AS _e4", "sum(_e5) AS _e5"]))
        .selectExpr("*", "_v AS _xmin", "_v AS _xmax", "_v * _c AS _xsum")
    )
    return _finalize_from_hist_rows(h, max_bins, extra_keys, tier)


def _merge_hist_state(
    rollup_df: DataFrame, bucket: str, keys: list[str], caller: str
) -> DataFrame:
    """Explode a hist tier's per-bucket state into (value, count) rows,
    re-keyed on the SQL expression ``bucket`` (a ``date_trunc`` target
    or a ``window`` struct, aliased ``bucket_start``), and merge equal
    values per new group: the shared front half of ``hist_cascade`` and
    ``hist_sliding``.  ``keys`` are quoted identifiers.

    Exact scalars ride along the exploded relation attached to each
    source bucket's first hist element (position 0), like the error
    counters, so a quantized source bucket still merges with exact
    count/min/max/sum/avg.

    Duplicate values collapse across source buckets BEFORE the
    finalize's distinct-count window (its count must be over distinct
    values).  This groupBy is a SECOND exchange on top of the finalize's
    window exchange — deliberate: its map-side combine compresses the
    exploded relation before any shuffle (a hot quantized bucket
    collapses ~source-bucket-count : 1, e.g. 60:1 for hour←minute),
    which beats the one-exchange alternative (repartition(bucket) then
    window) that would shuffle the exploded rows uncombined (measured
    equal at sf0.1; combine wins at scale).
    """
    # posexplode silently DROPS null-array rows, which would vanish a
    # bucket's counts/min/max/sum without any error — fail fast instead.
    # The guard is a lazy per-row expression: zero driver jobs at plan
    # build.  It is its own projection, below the explode: there the
    # optimizer still infers the explode's non-empty-array filter.
    null_hist = sqltext.string(
        f"{caller}: input row has hist=NULL — every tier row must carry "
        "hist state"
    )
    guarded = rollup_df.withColumn(
        "hist",
        F.expr(
            f"CASE WHEN hist IS NOT NULL THEN hist ELSE raise_error({null_hist}) END"
        ),
    )
    return (
        guarded.selectExpr(
            f"{bucket} AS bucket_start",
            *keys,
            "posexplode(hist) AS (_pos, _e)",
            "err4xx_cnt",
            "err5xx_cnt",
            "lat_min_ms",
            "lat_max_ms",
            "lat_sum_ms",
        )
        .selectExpr("bucket_start", *keys, *_EXPLODED_COLS)
        .groupBy("bucket_start", *keys, "_v")
        .agg(*_aggs(_MERGE_AGGS))
    )


def hist_sliding(
    rollup_df: DataFrame,
    length: str = "5 minutes",
    hop: str = "1 minute",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Hopping-window re-aggregation of a hist tier: full metric set
    (count/min/max/avg/sum/percentiles/error rates) for every sliding
    window of ``length`` advancing by ``hop`` — assembled by MERGING the
    tier's per-bucket histogram state, never re-reading raw data.

    This is ``hist_cascade`` with the tumbling ``date_trunc`` target
    swapped for Spark's native ``window(length, hop)`` grouping: the
    analyzer's TimeWindowing rule expands each tier bucket into its
    length/hop windows (an Expand node — map-side, no join, and the
    same rewrite Structured Streaming uses, so the plan is
    stream-portable).  Cost = (length/hop) × tier state, independent of
    raw row volume — the monitoring dashboard's "p99 over the last 5
    minutes, refreshed every minute" at 100 TB reads the minute tier,
    not the events.

    Each source bucket contributes its exact carries once to EVERY
    window that contains it.  Percentiles re-derive from the merged
    (value, count) rows — exact while every contributing bucket is
    exact, within the documented γ bound otherwise; windows whose merged
    distinct-value count exceeds ``max_bins`` re-quantize, so per-window
    state stays bounded no matter how many buckets a window spans.
    """
    keys = [sqltext.ident(k) for k in extra_keys or []]
    window = (
        f"window(bucket_start, {sqltext.string(length)}, {sqltext.string(hop)})"
    )
    h = _merge_hist_state(rollup_df, window, keys, "hist_sliding").selectExpr(
        "bucket_start.start AS bucket_start", *keys, "_v", *_HIST_ROW_COLS
    )
    return _finalize_from_hist_rows(h, HIST_MAX_BINS, extra_keys)


def hist_cascade(
    rollup_df: DataFrame, to_tier: str, extra_keys: list[str] | None = None
) -> DataFrame:
    """Re-aggregate a finer hist-rollup tier into ``to_tier`` without
    touching raw data — one lazy plan, no driver actions.

    Every input row must carry a non-null ``hist``; a NULL one fails the
    job.  Percentiles re-derive from the merged (value, count) rows —
    exact when every contributing bucket was exact, within the
    documented γ bound otherwise.
    """
    trunc = sqltext.string(TIERS[to_tier].duckdb_trunc)
    keys = [sqltext.ident(k) for k in extra_keys or []]
    h = _merge_hist_state(
        rollup_df, f"date_trunc({trunc}, bucket_start)", keys, "hist_cascade"
    )
    return _finalize_from_hist_rows(h, HIST_MAX_BINS, extra_keys, to_tier)


# Tier files are read with this schema, never inferred: inference is a
# Spark job per read, and the schema also drops columns that tier files
# written by older engine versions still carry (a since-dropped sketch
# column).
TIER_SCHEMA = T.StructType(
    [T.StructField("tier", T.StringType()), *HIST_ROLLUP_FIELDS]
)


def read_tier(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(TIER_SCHEMA).parquet(path)


def write_tiers(spark: SparkSession, finest: DataFrame, paths: dict[str, str]) -> None:
    """Write ``finest`` to the first of the ordered ``{tier: path}``
    ``paths``, then each next tier as ``hist_cascade`` of the tier file
    written just before it.

    The hist state is mergeable, so a tier cascaded from the stored
    finer tier is exact, and its plan reads a few small files instead of
    recomputing or caching the finer tier's plan."""
    prev = None
    for tier, path in paths.items():
        df = finest if prev is None else hist_cascade(read_tier(spark, prev), tier)
        df.write.mode("overwrite").parquet(path)
        prev = path
