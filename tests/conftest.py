from __future__ import annotations

import datetime as dt
import itertools
from typing import Any, NamedTuple

import pytest
from py4j.java_gateway import JavaMember

from rollup_engine.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rollup_engine-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def make_transcript(spark, rows):
    """rows: list of (conv_id, turn_idx, role, text, tool, ts_str|None)."""
    from rollup_engine.schema import TRANSCRIPT_SCHEMA

    parsed = []
    for conv, idx, role, text, tool, ts in rows:
        t = (
            dt.datetime.fromisoformat(ts)
            if isinstance(ts, str)
            else ts
        )
        parsed.append((conv, idx, role, text, tool, t))
    return spark.createDataFrame(parsed, TRANSCRIPT_SCHEMA)


def ts_seq(base: str, deltas_ms: list[int]) -> list[str]:
    """Timestamps starting at base, then each subsequent = prev + delta."""
    t = dt.datetime.fromisoformat(base)
    out = [t.isoformat()]
    for d in deltas_ms:
        t = t + dt.timedelta(milliseconds=d)
        out.append(t.isoformat())
    return out


class SparkWork(NamedTuple):
    result: Any
    jobs: list[int]  # ids of the Spark jobs the callable ran
    compiles: int  # classes the code generator compiled meanwhile
    py4j_calls: int  # Python→JVM method calls the callable made


_probe_ids = itertools.count()


def spark_work(spark, fn) -> SparkWork:
    """Run ``fn()`` and report the Spark work it caused.

    Jobs are the ones tagged with a job group set for the call (jobs
    inherit the calling thread's group).  Compiles come from Spark's
    JVM-wide codegen compilation counter, so nothing else may run
    Spark code meanwhile — a compile is a generated class missing from
    the codegen cache.  Py4J calls are the ``JavaMember.__call__``
    invocations ``fn`` makes, from any thread: each is one round trip
    to the driver JVM.
    """
    sc = spark.sparkContext
    counter = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    group = f"spark-work-{next(_probe_ids)}"
    before = counter.getCount()
    sc.setJobGroup(group, "")
    calls = itertools.count()
    call_jvm = JavaMember.__call__

    def counted(self, *args):
        next(calls)
        return call_jvm(self, *args)

    JavaMember.__call__ = counted
    try:
        result = fn()
    finally:
        JavaMember.__call__ = call_jvm
        sc.setJobGroup("idle", "")
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    return SparkWork(result, jobs, counter.getCount() - before, next(calls))
