"""Transcript storage layouts — the Iceberg write-distribution analogs.

FIXTURES.md §1 specifies Iceberg partitioning ``days(ts), bucket(16,
conv_id)``.  Without an Iceberg runtime in this sandbox, the same
physical effects come from Spark-native layouts:

- ``write_bucketed_table``: a conv_id-bucketed table, so the
  per-conversation window in clean()/with_deltas() needs no exchange.
- ``write_zorder_table``: a Morton-curve file order over (hour(ts),
  conv-hash) with the hash persisted, so both time-range and
  conversation probes prune row groups by footer stats.

Swapping to real Iceberg = ``df.writeTo(table).partitionedBy(
days(col("ts")), bucket(16, col("conv_id")))`` — readers unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import temp_conf

# Persisted 16-bit conversation hash on z-ordered tables.  The Morton
# layout localizes conv-hash per file, but parquet footers only carry
# stats for REAL columns — raw conv_id string min/max are useless under
# hash order (every file spans ~the whole id lexicon).  Persisting the
# hash the curve was built from gives readers a sargable handle: an
# ``IN (<hashes>)`` predicate on this column reaches the scan as a
# parquet In filter and prunes row groups by the very stats the layout
# sharpened.
ZORDER_HASH_COL = "conv_c16"
_ZORDER_HASH_MOD = 65536


def zorder_hash(conv_col: str = "conv_id"):
    """THE conv-hash expression: writer layout, persisted column,
    reader probes, and any bench baseline must all use this one
    definition or footer pruning silently stops matching."""
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(_ZORDER_HASH_MOD))


def write_bucketed_table(
    df: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Hash-BUCKETED table on conv_id (Spark bucketing, not directory
    partitioning): a scan of this table reports
    HashPartitioning(conv_id), so the per-conversation window in
    clean()/with_deltas() needs NO exchange — the raw pass's one big
    shuffle disappears at read time, paid once at write time instead.
    This is the parquet/metastore analog of Iceberg's
    ``bucket(N, conv_id)`` write distribution; pinned by
    tests/test_plans.py::test_bucketed_table_window_needs_no_exchange.
    """
    (
        df.repartition(n_buckets, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .mode("overwrite")
        .saveAsTable(table)
    )


def _interleave16(a, b):
    """Bit-interleave two 16-bit columns into one 32-bit Morton code
    (a's bits land in the odd positions) — a pure JVM expression tree
    (32 shift/mask terms, whole-stage-codegen'd), no UDF."""
    z = F.lit(0).cast("long")
    for i in range(16):
        z = (
            z.bitwiseOR(
                F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
            )
        )
    return z


def write_zorder_table(
    df: DataFrame,
    path: str,
    n_files: int = 64,
    ts_col: str = "ts",
    conv_col: str = "conv_id",
    mode: str = "overwrite",
    hash_col: str | None = ZORDER_HASH_COL,
) -> None:
    """Z-ORDER (Morton-curve) file layout over (hour(ts), conv-hash) —
    the OPTIMIZE ZORDER BY analog for this engine's two query axes.

    Directory partitioning prunes exactly ONE dimension; a query
    filtered on the other reads everything.  Sorting files along the
    Morton interleave of epoch-hour and conv-hash localizes BOTH
    dimensions per file (each spans ~1/√n_files of either axis), so
    parquet row-group min/max stats prune time-range scans AND
    per-conversation scans of the same table — no second copy of the
    data.  The curve key is layout-only: readers are ordinary
    ``spark.read.parquet`` + their own predicates; correctness never
    depends on it (pinned by the round-trip test).

    The time dimension is RANGE-NORMALIZED to the table's own [min,
    max] span before interleaving (one bounded agg action at write
    time).  Raw epoch-hours would vary only in their LOW bits over any
    realistic span (a month of data = 720 of 65536 values), leaving the
    curve's high bits to the hash dimension alone — the classic Z-order
    pitfall where one axis silently degenerates to a plain sort (the
    first version of this writer did exactly that; the layout test
    caught it).

    ``hash_col`` (default ``conv_c16``) persists the 16-bit conv hash
    the curve interleaves, so conv-axis pruning is sargable at read
    time (see ``read_zorder_convs``); pass None to skip it.
    """
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    lo, hi = (
        df.agg(
            F.min(t_us).alias("lo"), F.max(t_us).alias("hi")
        ).first()
    )
    if lo is None:
        # empty (or all-null-ts) input: min/max come back NULL and the
        # range normalization below would TypeError (round-6, r5
        # ADVICE).  There is no layout to optimize — fail with a clear
        # contract error instead of a crash deep in the arithmetic.
        raise ValueError(
            "write_zorder_table: input has no rows with a non-null "
            f"{ts_col!r}; nothing to lay out"
        )
    width = float(max(hi - lo, 1))
    hour16 = F.least(
        F.floor((t_us - F.lit(lo)).cast("double") / F.lit(width) * 65536.0),
        F.lit(65535),
    ).cast("long")
    conv16 = zorder_hash(conv_col)
    z = df
    if hash_col is not None:
        # persist the SAME value the curve interleaves — the reader's
        # predicate column and the layout's locality axis must agree
        z = z.withColumn(hash_col, conv16)
        conv16 = F.col(hash_col)
    z = z.withColumn("_z", _interleave16(hour16, conv16))
    # Spark's legacy INT96 timestamp encoding writes NO min/max stats,
    # which silently disables the row-group pruning this whole layout
    # exists for — force the annotated int64 encoding for this write.
    with temp_conf(
        df.sparkSession, "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    ):
        (
            z.repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode(mode)
            .parquet(path)
        )


def read_zorder_convs(
    spark: SparkSession,
    path: str,
    conv_ids: list[str],
    conv_col: str = "conv_id",
    hash_col: str = ZORDER_HASH_COL,
) -> DataFrame:
    """Conversation-pruned scan of a z-ordered table.

    The 16-bit hashes of the requested ids are computed with the SAME
    expression the writer interleaved (one tiny len(conv_ids)-row job,
    read-setup cost of the same class as the ANN query-vector fetch);
    the resulting ``conv_c16 IN (<literals>)`` predicate reaches
    parquet as an In filter, so row-group min/max stats — which the
    Morton layout made selective on this axis — skip most of the file
    bytes.  The exact ``conv_id IN`` filter then removes 16-bit hash
    collisions; correctness never depends on the pruning.
    """
    df = spark.read.parquet(path)
    if hash_col not in df.columns:
        raise ValueError(
            f"z-ordered table at {path} has no {hash_col!r} column — "
            "was it written with write_zorder_table(hash_col=None)? "
            "Pass the name it was written with."
        )
    hashes = [
        r[0]
        for r in spark.createDataFrame(
            [(c,) for c in conv_ids], f"{conv_col} string"
        )
        .select(zorder_hash(conv_col))
        .collect()
    ]
    return df.where(
        F.col(hash_col).isin(hashes) & F.col(conv_col).isin(conv_ids)
    ).drop(hash_col)
