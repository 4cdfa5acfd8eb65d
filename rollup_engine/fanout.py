"""Scale-adaptive scan fan-out (guide §2.5 input skew / §1.2 step 1).

The driver's testdata tables are single parquet files with ONE row
group, so Spark's scan plans exactly one non-empty split: every
map-side expression (regex features, text normalization, shingling,
vector math) runs on one core no matter how many the session has.
Measured at sf1.0/local[32]: text_features 7.08 s single-split vs
1.16 s fanned out (6.1×) — the whole gap is serial regex work.

``fan_out`` repartitions such a scan to the session's shuffle
parallelism BEFORE heavy per-row compute.  It is a no-op whenever the
scan already has at least ``cores`` splits — i.e. on any real
multi-file table (a 100 TB input has thousands of splits), so nothing
is shuffled at scale; only pathological low-split inputs pay the one
tiny exchange (the whole file, a few MB, moved once).

Keying the repartition by the downstream join/window/group key (and
matching ``spark.sql.shuffle.partitions``) lets Catalyst reuse the
partitioning for the next keyed operator, so the fan-out exchange
REPLACES the exchange that operator would have inserted instead of
adding one.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

# Target bytes of (compressed) input per reduce partition.  The guide's
# 100 MB–1 GB post-shuffle-partition rule, applied to the compressed
# source size (shuffled rows are narrower than source rows here — the
# engine projects before every exchange): 64 MB of parquet ≈ 100-200 MB
# of raw rows.
TARGET_PARTITION_BYTES = 64 << 20

# Never ask for more initial shuffle partitions than this: AQE coalesces
# downward at runtime, but the map side still writes one block per
# initial partition (M × R block growth, guide §2.2).
MAX_SHUFFLE_PARTITIONS = 32_768


def scan_splits(df: DataFrame) -> int:
    """Number of planned input splits for a (scan-rooted) DataFrame.

    Exact w.r.t. Spark's split planning (maxPartitionBytes /
    openCostInBytes packing); cheap — builds the physical scan, runs no
    job.
    """
    return df.rdd.getNumPartitions()


def tune_shuffle_for_input(spark: SparkSession, input_bytes: int) -> int:
    """Derive ``spark.sql.shuffle.partitions`` from the INPUT SIZE
    instead of a constant (guide §2.2 "fewer, larger reduce
    partitions"; the round brief's scale-adaptive-partitioning rule).

    partitions = clamp(input_bytes / 64 MB, cores, 32768): small inputs
    get exactly the session's parallelism (measured at sf1.0/local[32]:
    the minute rollup runs 2.77 s with the old 4×cores=128 constant vs
    1.96 s at 32 — 128 reduce partitions of ~230 KB each are pure
    per-task/per-block overhead), while large inputs scale the initial
    partition count with the data and let AQE coalesce to the advisory
    size at runtime.  Called at plan-build time by the table loaders;
    returns the chosen count.

    An ``input_bytes`` of 0 means the size is unknown (``input_size_bytes``
    cannot stat object-store paths): the session setting is left as it
    is and returned, so a submit-time value survives every loader.
    """
    if input_bytes <= 0:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    want = max(cores, math.ceil(input_bytes / TARGET_PARTITION_BYTES))
    want = min(want, MAX_SHUFFLE_PARTITIONS)
    spark.conf.set("spark.sql.shuffle.partitions", str(want))
    return want


def input_size_bytes(*paths: str) -> int:
    """Total on-disk bytes of the given files/directories on the local
    FS; paths it cannot stat (``s3a://…`` and other object stores)
    count 0, which ``tune_shuffle_for_input`` reads as unknown."""
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition ``df`` to the session's shuffle parallelism when
    its scan would otherwise run (nearly) serially.

    ``key_cols``: the downstream partitioning key (e.g. the id column a
    later window/groupBy keys on) — keyed fan-out is deterministic (no
    round-robin sort, SPARK-23207) and reusable by the next keyed
    operator.  Falls back to round-robin when no key is given.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    target = int(spark.conf.get("spark.sql.shuffle.partitions", str(cores)))
    if scan_splits(df) >= min(cores, target):
        return df
    if key_cols:
        return df.repartition(target, *key_cols)
    return df.repartition(target)
