"""Misra–Gries heavy hitters: exactness of the final answer, the
candidate-superset guarantee under adversarial partitioning, and the
bounded summary Spark plans for the candidates."""

from __future__ import annotations

import random
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from rollup_engine.heavyhitters import _candidates, heavy_hitters


THRESHOLDS = [(1, 3), (1, 7), (1, 20), (2, 41), (3, 100), (1, 125)]


def _zipf_df(spark, n_heavy=5, n_tail=2000, reps_heavy=500, parts=7):
    """n_heavy keys with reps_heavy occurrences each + n_tail singleton
    keys, shuffled across `parts` partitions by a hash that separates
    key space from partition space."""
    heavy = spark.range(n_heavy * reps_heavy).select(
        F.concat(F.lit("H"), (F.col("id") % n_heavy)).alias("k")
    )
    tail = spark.range(n_tail).select(
        F.concat(F.lit("t"), F.col("id")).alias("k")
    )
    return heavy.unionAll(tail).repartition(parts, F.crc32(F.col("k")))


def _expected(n_heavy, n_tail, reps_heavy, num, den):
    total = n_heavy * reps_heavy + n_tail
    return {
        f"H{i}" for i in range(n_heavy) if reps_heavy * den >= num * total
    }


def test_exact_answer_under_skew(spark):
    df = _zipf_df(spark)
    got = {
        r["k"]: r["cnt"] for r in heavy_hitters(df, "k", 1, 10).collect()
    }
    assert got == {f"H{i}": 500 for i in range(5)}


def test_partitioning_does_not_change_answer(spark):
    base = _zipf_df(spark, parts=3)
    a = sorted(heavy_hitters(base, "k", 1, 10).collect())
    b = sorted(
        heavy_hitters(base.repartition(13, "k"), "k", 1, 10).collect()
    )
    c = sorted(heavy_hitters(base.coalesce(1), "k", 1, 10).collect())
    assert a == b == c


def test_candidates_are_superset_of_true_hitters(spark):
    """Phase 1 alone (no verify) must retain every true heavy hitter
    even when the tail floods the counter budget, and holds at most
    m items."""
    df = _zipf_df(spark, n_heavy=3, n_tail=5000, reps_heavy=800)
    cands = [r["k"] for r in _candidates(df, "k", 1, 10).collect()]
    assert {"H0", "H1", "H2"} <= set(cands)
    assert len(cands) == len(set(cands)) <= 10 // 1 + 1


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_summary_size_bounded(spark):
    """The candidates are one JVM aggregate: a partial
    ``collect_frequent_items`` per partition and one final merge, each
    holding at most ``size`` counters with size ≥ den // num (the
    Misra–Gries bound that keeps every item at ≥ num/den).  No Python
    node anywhere in the plan."""
    df = _zipf_df(spark, n_heavy=3, n_tail=5000, reps_heavy=800, parts=4)
    for num, den in [(1, 10), (1, 125), (3, 100), (2, 41)]:
        plan = _plan(heavy_hitters(df, "k", num, den))
        partial = re.findall(r"partial_collect_frequent_items\(k#\d+, (\d+),", plan)
        final = re.findall(r"[^_]collect_frequent_items\(k#\d+, (\d+),", plan)
        assert len(partial) == 1 and len(final) == 1, plan
        assert int(partial[0]) == int(final[0]) >= den // num, plan
        assert "ObjectHashAggregate" in plan, plan
        assert not re.search(r"InPandas|EvalPython|InArrow", plan), plan


def test_input_scanned_twice(spark, tmp_path):
    """Two scans of the input: the candidate aggregate and the exact
    recount, which also counts N (rows matching no candidate fall into
    one NULL group).  A separate count of N made it three."""
    path = str(tmp_path / "keys")
    _zipf_df(spark, n_heavy=3, n_tail=500, reps_heavy=200).write.parquet(path)
    hh = heavy_hitters(spark.read.parquet(path), "k", 1, 10)
    plan = _plan(hh)
    assert len(re.findall(r"\bFileScan parquet\b", plan)) == 2, plan
    got = {r["k"]: r["cnt"] for r in hh.collect()}
    assert got == {"H0": 200, "H1": 200, "H2": 200}


def test_bad_threshold_rejected(spark):
    df = _zipf_df(spark, n_heavy=1, n_tail=1, reps_heavy=2)
    with pytest.raises(ValueError):
        heavy_hitters(df, "k", 3, 2)
    # below Spark's freqItems support floor of 1e-4
    with pytest.raises(ValueError):
        heavy_hitters(df, "k", 1, 10_000)
    heavy_hitters(df, "k", 1, 9_999)


def test_random_reference_various_thresholds(spark):
    """Seeded random frequency mixes at several θ: the operator must
    equal the exact frequency-table answer every time."""
    rng = random.Random(20260817)
    vals = []
    for i in range(60):
        vals += [f"v{i}"] * rng.randint(1, 120)
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "k string").repartition(5)
    exact = Counter(vals)
    n = len(vals)
    for num, den in [(1, 50), *THRESHOLDS]:
        want = {k: c for k, c in exact.items() if c * den >= num * n}
        got = {
            r["k"]: r["cnt"]
            for r in heavy_hitters(df, "k", num, den).collect()
        }
        assert got == want, (num, den)


def test_no_heavy_hitter_lost_on_seeded_mixes(spark):
    """The no-false-negative bound as a property: 30 seeded skewed
    mixes, each split over 1 to 16 partitions, at six thresholds.  The
    candidates must hold every item a Python ``Counter`` puts at or
    above θ·N, with at most m = den // num + 1 items; the exact verify
    then turns them into the exact answer (pinned above)."""
    rng = random.Random(8)
    for mix in range(30):
        vals = []
        for i in range(rng.randint(5, 60)):
            # a few planted heavy keys over a long tail of light ones
            vals += [f"k{i}"] * (rng.randint(20, 400) if i < 4 else rng.randint(1, 12))
        rng.shuffle(vals)
        parts = rng.randint(1, 16)
        df = spark.createDataFrame([(v,) for v in vals], "k string").repartition(parts)
        tagged = [
            _candidates(df, "k", num, den).select(
                F.lit(f"{num}/{den}").alias("t"), "k"
            )
            for num, den in THRESHOLDS
        ]
        rows = tagged[0]
        for t in tagged[1:]:
            rows = rows.unionByName(t)
        got = {}
        for r in rows.collect():
            got.setdefault(r["t"], []).append(r["k"])
        exact = Counter(vals)
        n = len(vals)
        for num, den in THRESHOLDS:
            cands = got.get(f"{num}/{den}", [])
            want = {k for k, c in exact.items() if c * den >= num * n}
            assert want <= set(cands), (mix, parts, num, den)
            assert len(cands) <= den // num + 1, (mix, parts, num, den)
