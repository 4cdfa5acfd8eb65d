"""Physical-plan assertions: the optimizations we rely on at 100 TB
must actually appear in the plan, not just in docstrings."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from rollup_engine.deltas import with_deltas
from rollup_engine.rollup import rollup
from rollup_engine.transcripts import from_events, load_events

from .conftest import spark_work

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    """A ts predicate on the raw scan must appear in PushedFilters —
    at scale this is partition pruning + row-group skipping."""
    ev = load_events(spark, SF).where(F.col("ts") >= "2024-01-15")
    plan = _plan(ev)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(ts" in plan


def test_column_pruning_drops_text(spark):
    """The minute rollup never touches the text payload (props) —
    ReadSchema must exclude it (at 100 TB text dominates bytes)."""
    r = rollup(with_deltas(from_events(spark, SF)), "minute")
    plan = _plan(r)
    read_schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema_lines
    assert all("props" not in l for l in read_schema_lines)


def test_partial_aggregation_present(spark):
    """count/min/max/avg must run as partial (map-side) + final hash
    aggregation — the distributed analog of the reference's streaming
    accumulator."""
    r = rollup(with_deltas(from_events(spark, SF)), "minute")
    plan = _plan(r)
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial_min" in plan


def test_single_exchange_for_clean_plus_deltas(spark):
    """clean() and with_deltas() share one hash exchange on conv_id
    (the dedupe window was deliberately re-keyed to make this true)."""
    from rollup_engine.generate import synthetic_transcripts
    from rollup_engine.transcripts import clean

    t = synthetic_transcripts(spark, n_convs=10, turns_per_conv=5)
    # count exchanges between the scan and the delta projection
    d = with_deltas(clean(t.select("conv_id", "turn_idx", "role", "text", "tool", "ts")))
    plan = _plan(d)
    n_exchanges = plan.count("Exchange hashpartitioning")
    # generator itself uses one window (cumsum) on conv_id; clean+lag
    # must NOT add more than one further exchange on top
    assert n_exchanges <= 2, plan


def test_gapfill_spine_join_is_small_side(spark):
    from rollup_engine.gapfill import gapfill

    g = gapfill(rollup(with_deltas(from_events(spark, SF)), "minute"), "minute")
    plan = _plan(g)
    assert "Join" in plan  # spine left join exists


def test_vectorized_scan_and_two_phase_agg(spark):
    """Parquet scan must be the vectorized (Batched) reader, and the
    percentile sketch aggregate must still split partial/final around
    the exchange (ObjectHashAggregate pair)."""
    r = rollup(with_deltas(from_events(spark, SF)), "minute")
    plan = _plan(r)
    assert "Batched: true" in plan
    agg_nodes = plan.count("HashAggregate")
    exchanges = plan.count("Exchange")
    assert agg_nodes >= 2 and exchanges >= 2

def test_deterministic_sample_is_map_side(spark):
    """Hash-gate sampling must add NO exchange — a pure scan-side
    filter (df.sample would be the same shape, but is partition-seeded;
    the hash gate also reaches the scan as a data filter)."""
    from rollup_engine.sampling import deterministic_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(deterministic_sample(docs, "doc_id", 40))
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_narrow_projection_prunes_scan(spark):
    """The bench/engine hot path reads exactly four physical columns:
    conv_id, turn_idx, ts, tool (flags derive from tool at projection;
    text/role never leave the parquet footer)."""
    from rollup_engine.deltas import with_deltas
    from rollup_engine.generate import synthetic_transcripts
    from rollup_engine.hist_rollup import narrow_for_rollup
    from rollup_engine.transcripts import clean

    t = synthetic_transcripts(spark, n_convs=10, turns_per_conv=5)
    import tempfile

    d = tempfile.mkdtemp(prefix="narrow_plan_")
    t.write.mode("overwrite").parquet(d)
    raw = spark.read.parquet(d)
    compress = (
        with_deltas(clean(narrow_for_rollup(raw)))
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("b"), "delta_ms")
        .count()
    )
    plan = _plan(compress)
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines
    for l in schema_lines:
        assert "text" not in l and "role" not in l


def test_bucketed_table_window_needs_no_exchange(spark):
    """The 100 TB killer optimization: over a conv_id-BUCKETED table,
    clean() + with_deltas() run with ZERO exchanges — the scan itself
    satisfies the window's ClusteredDistribution(conv_id).  (Over plain
    parquet the same plan has one hash exchange.)"""
    from rollup_engine.generate import synthetic_transcripts
    from rollup_engine.ingest import write_bucketed_table
    from rollup_engine.transcripts import clean

    t = synthetic_transcripts(spark, n_convs=30, turns_per_conv=10)
    write_bucketed_table(t, "bucketed_turns_test", n_buckets=4)
    try:
        bt = spark.table("bucketed_turns_test")
        d = with_deltas(clean(bt))
        plan = _plan(d)
        assert "Exchange" not in plan, plan
        assert "Window" in plan
        # parity: same rows as the unbucketed path
        base = with_deltas(clean(t))
        assert d.count() == base.count()
        assert (
            d.selectExpr("sum(delta_ms) s").first().s
            == base.selectExpr("sum(delta_ms) s").first().s
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_turns_test")


def test_hist_plan_build_runs_no_jobs(spark):
    """Plan construction must be FREE: building the minute tier, both
    cascades, and a trailing-window merge runs zero Spark jobs (round-2
    verdict: the eager localCheckpoint + isEmpty/first probes made plan
    build execute upstream jobs — the wrong default shape at 100×)."""
    from rollup_engine.hist_rollup import hist_cascade, hist_rollup
    from rollup_engine.serve import trailing_result  # noqa: F401 (import ok)

    d = with_deltas(from_events(spark, SF))

    def build():
        minute = hist_rollup(d, "minute")
        hour = hist_cascade(minute, "hour")
        day = hist_cascade(hour, "day")
        for df in (minute, hour, day):
            _ = df.columns          # force analysis
            _ = _plan(df)           # force full physical planning

    jobs = spark_work(spark, build).jobs
    assert jobs == [], f"plan build ran Spark jobs: {jobs}"


def test_hist_rollup_no_python_no_lineage_truncation(spark):
    """The hist tier + cascade path stays entirely JVM-side (no Arrow
    stage, no UDF) and keeps full lineage (no checkpointed LogicalRDD
    scan — executor loss must be recoverable on a real cluster)."""
    from rollup_engine.hist_rollup import hist_cascade, hist_rollup

    d = with_deltas(from_events(spark, SF))
    plan = _plan(hist_cascade(hist_rollup(d, "minute"), "hour"))
    for marker in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
                   "Scan ExistingRDD"):
        assert marker not in plan, f"unexpected {marker} in hist plan"


def test_cube_rollup_single_expand_single_exchange(spark):
    """CUBE(role, day) must compile to ONE Expand feeding a partial +
    final hash aggregate around ONE exchange — all four grouping sets
    in a single scan, never a union of per-set scans."""
    import re

    d = with_deltas(from_events(spark, SF)).withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    out = d.cube("role", "day").agg(
        F.count("delta_ms").alias("turn_count"),
        (F.grouping("role") * 2 + F.grouping("day")).cast("int").alias("gid"),
    )
    plan = _plan(out)
    assert len(re.findall(r"^\(\d+\) Expand", plan, re.M)) == 1, plan
    # exchanges: ONE shared transcript window exchange (row_number and
    # lag both key on conv_id — round-5 single-exchange fix) plus
    # exactly ONE for the cube aggregation
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2, plan
    # final agg ← exchange ← partial agg ← expand, adjacent in the tree
    simple = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert re.search(
        r"HashAggregate[^\n]*\n[^\n]*Exchange[^\n]*\n[^\n]*HashAggregate"
        r"[^\n]*\n[^\n]*Expand",
        simple,
    ), simple


def test_pivot_single_pass(spark):
    """pivot(role, pinned values) must compile to ONE scan and ONE
    aggregation exchange (conditional aggregates), not a scan or a
    shuffle per pivot value."""
    import re

    d = with_deltas(from_events(spark, SF)).withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    out = d.groupBy("day").pivot("role", ["click", "view"]).agg(
        F.count("delta_ms").alias("cnt")
    )
    plan = _plan(out)
    scans = len(re.findall(r"FileScan parquet|^\(\d+\) Scan parquet", plan, re.M))
    assert scans == 1, plan
    # Catalyst compiles pivot to (day, role) partial+final count, then a
    # pivotfirst aggregate on day: 2 agg exchanges + the ONE shared
    # transcript-window exchange — constant in pivot values, one pass.
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 3, plan
    assert "pivotfirst" in plan, plan


def test_events_deltas_fused_matches_composition(spark):
    """Round-6: the fused events→deltas pipeline (row_number AND lag in
    ONE window over (conv_id, ts, event_id)) must be row-identical to
    the generic with_deltas(from_events(...)) composition, and its plan
    must contain exactly ONE Sort and ONE Window node (the composition
    pays a second sort by turn_idx and a second Window pass)."""
    import re

    from rollup_engine.transcripts import events_deltas

    fused = events_deltas(spark, SF)
    composed = with_deltas(from_events(spark, SF))
    assert fused.columns == composed.columns
    assert fused.schema == composed.schema
    assert fused.exceptAll(composed).count() == 0
    assert composed.exceptAll(fused).count() == 0

    plan = _plan(fused)
    assert len(re.findall(r"^\(\d+\) Sort", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    # keep_first_turn variant too (conv_profile input)
    fused_all = events_deltas(spark, SF, keep_first_turn=True)
    composed_all = with_deltas(from_events(spark, SF), keep_first_turn=True)
    assert fused_all.exceptAll(composed_all).count() == 0
    assert composed_all.exceptAll(fused_all).count() == 0


def test_events_deltas_filtered_matches_composition(spark):
    """Round-6: the filter-between-the-windows pipeline (turn_idx over
    ALL events, deltas over the SURVIVORS) must match the generic
    composition row-for-row while planning only ONE Sort — the lag
    window reorders by the same (ts, event_id) carrier the first sort
    established, so the filter costs no re-sort."""
    import re

    from rollup_engine import filters as flt
    from rollup_engine.queries import FILTER_MINUTES, FILTER_NOW
    from rollup_engine.transcripts import events_deltas_filtered

    cond = flt.conditions(
        exclude=["signup"], now=FILTER_NOW, latest_minutes=FILTER_MINUTES
    )
    fused = events_deltas_filtered(spark, SF, cond)
    composed = with_deltas(from_events(spark, SF).where(cond))
    assert fused.columns == composed.columns
    assert fused.exceptAll(composed).count() == 0
    assert composed.exceptAll(fused).count() == 0
    plan = _plan(fused)
    assert len(re.findall(r"^\(\d+\) Sort", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_fan_out_is_noop_on_multi_split_input(spark, tmp_path):
    """Round-6: fan_out must repartition a single-split scan to the
    session's shuffle parallelism and leave an already-parallel scan
    untouched (the 100 TB no-op guarantee)."""
    from rollup_engine.fanout import fan_out, scan_splits

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert scan_splits(docs) == 1
    fanned = fan_out(docs, "doc_id")
    assert fanned.rdd.getNumPartitions() == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert fanned.count() == docs.count()

    many = spark.range(0, 1000, 1, 64).withColumn("doc_id", F.col("id"))
    assert fan_out(many, "doc_id") is many  # already-parallel: no-op


def test_unknown_input_size_keeps_session_shuffle_partitions(spark):
    """An object-store path cannot be stat'ed, so its size is unknown:
    the loaders' sizing must leave a submit-time
    spark.sql.shuffle.partitions alone, not clamp it to the cores."""
    from rollup_engine.fanout import input_size_bytes, tune_shuffle_for_input

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "123")
    try:
        tune_shuffle_for_input(
            spark, input_size_bytes("s3a://bucket/documents.parquet")
        )
        assert spark.conf.get(key) == "123"
    finally:
        spark.conf.set(key, prev)


def test_from_events_single_exchange(spark):
    """The events→transcripts mapping window and the downstream delta
    window must share ONE conv exchange (the gate/headline input path;
    a mis-keyed mapping window silently doubles the suite's shuffle —
    the round-5 PLANS.md audit finding)."""
    import re

    d = with_deltas(from_events(spark, SF))
    plan = _plan(d)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "hashpartitioning(conv_id" in plan, plan


def _operator_shape(df) -> str:
    """Run ``df`` and return its executed (final adaptive) physical plan
    as its operator names, root first: no expressions, attribute ids or
    codegen stage ids, so two plans match iff their operator trees do."""
    df.collect()
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    final = text.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    nodes = [
        re.match(r"([ :+\-]*)(?:\*\(\d+\) )?([A-Za-z]+)", line)
        for line in final.splitlines()
    ]
    nodes = [m for m in nodes if m]
    # every case below is a single-child chain: one name per depth
    assert [len(m.group(1)) for m in nodes] == [
        3 * (i + 1) for i in range(len(nodes))
    ], text
    return " > ".join(m.group(2) for m in nodes)


def _shape_cases(spark, tmp) -> dict:
    from rollup_engine.hist_rollup import (
        hist_cascade,
        hist_rollup,
        hist_sliding,
        narrow_for_rollup,
    )
    from rollup_engine.serve import trailing_merge
    from rollup_engine.transcripts import clean

    turns = from_events(spark, SF)
    d = with_deltas(clean(turns))
    path = f"{tmp}/minute"
    hist_rollup(d, "minute").write.parquet(path)
    tier = spark.read.parquet(path)
    return {
        "rollup": hist_rollup(d, "minute"),
        "rollup_role": hist_rollup(d, "minute", extra_keys=["role"]),
        "rollup_flags": hist_rollup(
            with_deltas(clean(narrow_for_rollup(turns))), "minute"
        ),
        "cascade": hist_cascade(tier, "hour"),
        "sliding": hist_sliding(tier),
        "scrape_merge": trailing_merge(tier, dt.datetime(2024, 1, 31), 43_200),
    }


# The finalize all six plans end in (root first): the finishing
# aggregate over the cumsum windows, the re-group of the possibly
# quantized values and the distinct-count window.
_FINALIZE = (
    "ResultQueryStage > Project > ObjectHashAggregate > ObjectHashAggregate"
    " > Window > Window > Sort > HashAggregate > HashAggregate > Project"
    " > Window"
)
# events → transcripts → clean → with_deltas → first hist group
_RAW_ROLLUP = (
    _FINALIZE + " > Sort > AQEShuffleRead > ShuffleQueryStage > Exchange"
    " > Project > HashAggregate > AQEShuffleRead > ShuffleQueryStage"
    " > Exchange > HashAggregate > Project > Filter > Window > Project"
    " > Filter > Window > Sort > Project > Filter > Window > Sort"
    " > AQEShuffleRead > ShuffleQueryStage > Exchange > Project > Filter"
    " > ColumnarToRow > FileScan"
)
# hist-state merge over a tier file, ``{bucket}`` the re-keying nodes
_MERGE = (
    " > HashAggregate > AQEShuffleRead > ShuffleQueryStage > Exchange"
    " > HashAggregate > Project > Generate{bucket} > Project > Filter"
    " > ColumnarToRow > FileScan"
)
PLAN_SHAPES = {
    "rollup": _RAW_ROLLUP,
    "rollup_role": _RAW_ROLLUP,
    "rollup_flags": _RAW_ROLLUP,
    "cascade": _FINALIZE
    + " > Sort > AQEShuffleRead > ShuffleQueryStage > Exchange"
    + _MERGE.format(bucket=""),
    "sliding": _FINALIZE
    + " > Sort > AQEShuffleRead > ShuffleQueryStage > Exchange"
    + _MERGE.format(bucket=" > Expand"),
    # one output key, merged in the one partition the in-window rows are
    # coalesced to: no exchange, one stage
    "scrape_merge": _FINALIZE
    + " > HashAggregate > HashAggregate > Project > Generate > Project"
    " > Coalesce > Project > Filter > ColumnarToRow > FileScan",
}


def test_tier_plan_shapes_pinned(spark, tmp_path):
    """The executed operator tree of every hist plan builder — the leaf
    rollup (plain, with a breakdown key, over precomputed error flags),
    the cascade, the hopping window and the scrape merge — is pinned:
    how the plans are built may change, what Spark runs may not."""
    cases = _shape_cases(spark, str(tmp_path))
    assert cases.keys() == PLAN_SHAPES.keys()
    for name, df in cases.items():
        assert _operator_shape(df) == PLAN_SHAPES[name], name


def test_plan_builders_make_few_py4j_calls(spark, tmp_path):
    """Each tier plan builder costs a few dozen Python→JVM round trips:
    every stage is one ``selectExpr`` or one ``groupBy().agg()`` over
    SQL text.  Each must stay at or below a fifth of what the
    Column-tree builders it replaced made on these inputs: 874 calls
    for ``hist_cascade``, 807 for ``hist_rollup``, 195 for ``clean`` +
    ``with_deltas``, 872 for ``hist_sliding`` and 937 for one
    ``trailing_result`` (plan build plus its collect)."""
    from rollup_engine.hist_rollup import hist_cascade, hist_rollup, hist_sliding
    from rollup_engine.serve import trailing_result
    from rollup_engine.transcripts import clean

    turns = from_events(spark, SF)
    d = with_deltas(clean(turns))
    path = str(tmp_path / "minute")
    hist_rollup(d, "minute").write.parquet(path)
    tier = spark.read.parquet(path)
    now = dt.datetime(2024, 1, 31)
    builds = {
        "hist_cascade": lambda: hist_cascade(tier, "hour"),
        "hist_rollup": lambda: hist_rollup(d, "minute"),
        "clean+with_deltas": lambda: with_deltas(clean(turns)),
        "hist_sliding": lambda: hist_sliding(tier),
        "trailing_result": lambda: trailing_result(tier, now, 43_200),
    }
    column_trees = {
        "hist_cascade": 874,
        "hist_rollup": 807,
        "clean+with_deltas": 195,
        "hist_sliding": 872,
        "trailing_result": 937,
    }
    calls = {name: spark_work(spark, fn).py4j_calls for name, fn in builds.items()}
    assert all(calls[k] * 5 <= column_trees[k] for k in builds), calls
