"""Every queries() entry must match its oracle_sql() in DuckDB at
sf0.001 (the driver runs the same check at sf0.01)."""

from __future__ import annotations

import re

import pytest

from rollup_engine.queries import ORACLES, QUERIES

from .oracle_harness import compare, run_oracle

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_oracle_parity(spark, name):
    assert name in QUERIES, f"oracle without query: {name}"
    sdf = QUERIES[name](spark, SF_DIR)
    opdf = run_oracle(ORACLES[name], SF_DIR)
    problems = compare(sdf, opdf)
    assert not problems, f"{name}: {problems}"


# Queries whose physical plan holds a Python/Arrow stage: the Gorilla
# chunk decode and the Misra-Gries candidate pass.  The streaming
# queries' state functions run inside the stream, not in the relation
# the query returns.
PYTHON_STAGE_QUERIES = {"heavy_hitters", "rollup_compacted", "rollup_from_chunks"}

# MapInPandas, FlatMapGroupsInPandas(WithState), ArrowEvalPython,
# BatchEvalPython and the other Python exec nodes
_PYTHON_NODE = re.compile(r"InPandas|EvalPython|InArrow")


def test_every_query_runs(spark):
    with_python = set()
    for name, fn in QUERIES.items():
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if _PYTHON_NODE.search(plan):
            with_python.add(name)
        assert df.count() >= 0, name
    assert with_python == PYTHON_STAGE_QUERIES
