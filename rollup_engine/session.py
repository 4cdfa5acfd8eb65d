"""SparkSession factory with scale-honest defaults.

Defaults chosen for the 100 TB target, not just local tests:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Arrow on (every Python stage in this engine is Arrow-vectorized;
  per-row Python UDFs are banned by design — BASELINE.json input_hint).
- shuffle partitions sized to the local core count; on a real cluster
  this is overridden by AQE's coalescing + ``--conf`` at submit time.
- under spark-submit every setting here is a default: a ``--master``
  or ``--conf`` given at submit time wins (``_submit_conf``).
- the generated-code cache holds 1,000 classes, not Spark's default 100.
  The engine's steady state is append → incremental refresh → scrape.
  Under the default, every warm refresh recompiled 118-124 Janino
  classes and every new scrape minute 7
  (``CodegenMetrics.METRIC_COMPILATION_TIME().getCount()`` at local[4]):
  one cycle's working set is larger than the cache, so the cycle evicted
  its own classes.  With 1,000 entries a warm refresh compiles none.
  The cache is per JVM and sized once, by the first session that
  generates code.
- generated class names carry no whole-stage codegen id.  AQE numbers
  codegen stages in the order it plans its query stages, which follows
  which shuffle finished first, so the same refresh could get other
  ids and, with the id in the class name, other code: 2 of 33 warm
  refreshes recompiled 10 classes each (local[4]).  Without the id,
  identical stages hit the cache whatever their id: 0 of 90.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _submit_conf() -> dict[str, str] | None:
    """The launch conf when spark-submit started this process, else
    None.  spark-submit starts the JVM first and passes its gateway in
    ``PYSPARK_GATEWAY_PORT``; its ``--master`` / ``--conf`` values are
    that JVM's system properties, which ``SparkConf()`` reads only once
    attached to it (before, it is a plain dict that holds nothing).  A
    plain ``python`` start has no JVM yet: its driver options must
    reach the JVM launch, so ``get_spark`` applies all of them."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "rollup_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for a plain ``python`` start; on a real cluster pass ``None`` at
    spark-submit time and let the submit config win.  Under
    spark-submit every setting here is a default that the submitted
    ``--master`` / ``--conf`` override; explicit arguments override
    both.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    launched = _submit_conf()
    if master is None and launched is None:
        from pyspark import SparkConf

        master = (
            None if SparkConf().contains("spark.master") else f"local[{cpus}]"
        )
    # the ACTUAL core count of this session's master (not the sandbox
    # env) drives both shuffle-partition and heap sizing
    m = master or (launched or {}).get("spark.master", "")
    if m.startswith("local[") and m[6:-1].isdigit():
        cores = int(m[6:-1])
    else:
        cores = cpus

    conf = {
        "spark.app.name": app_name,
        # 4× the core count: balances stragglers/skew without tiny-task
        # overhead.  Sizing from env regardless of master gave local[1]
        # 128 shuffle partitions — per-task overhead paid serially
        # (measured: 8 partitions beat 128 by 17% even at local[4]).
        "spark.sql.shuffle.partitions": str(max(4 * cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Don't let AQE coalesce below the core count: a 64 MB advisory
        # target turns a ~400 MB shuffle into ~6 partitions and
        # serializes every window/sort stage (measured 2× slowdown).
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Keep scans reasonable on local FS; on a cluster this bounds
        # per-task input so partitions fit in executor memory.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Local mode runs every task inside the driver JVM.  8g is the
        # measured sweet spot on this VM even at local[32] (same job,
        # same window: 8g → 7.5 s, 24g → 8.8 s, 64g → 14-55 s erratic —
        # huge heaps trade work for GC/page-fault pauses here).  On a
        # real cluster executor memory is a submit-time concern.
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # above the refresh + scrape working set (module docstring)
        "spark.sql.codegen.cache.maxEntries": "1000",
        # codegen ids follow AQE's stage order (module docstring)
        "spark.sql.codegen.useIdInClassName": "false",
    }
    if launched is not None:
        # spark-submit's --master / --conf win over every default above
        conf = {k: v for k, v in conf.items() if k not in launched}
    if master is not None:
        conf["spark.master"] = master
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
