"""The north rule's launch contract: the job must run via
``spark-submit --py-files`` (package shipped as a zip, no install).
This exercises the REAL spark-submit binary end to end on a tiny
transcript table — packaging bugs (missing module, relative-import
breakage in scripts/submit_job.py) don't show up under plain pytest
imports."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def _package_zip(tmp_path) -> str:
    """The package as the --py-files zip a submit ships."""
    zip_path = str(tmp_path / "rollup_engine.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        pkg = os.path.join(REPO, "rollup_engine")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, REPO))
    return zip_path


def _submit_env() -> dict[str, str]:
    env = dict(os.environ)
    # a clean PYTHONPATH proves the zip (not the repo checkout) supplies
    # the package inside the submitted job
    env.pop("PYTHONPATH", None)
    env["SPARK_GRAFT_CPUS"] = "2"
    return env


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    from rollup_engine.generate import synthetic_transcripts

    tdir = str(tmp_path / "turns")
    synthetic_transcripts(spark, n_convs=20, turns_per_conv=10).write.parquet(tdir)

    zip_path = _package_zip(tmp_path)
    out = str(tmp_path / "rollups")
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[2]",
            "--conf",
            "spark.ui.enabled=false",
            "--py-files",
            zip_path,
            os.path.join(REPO, "scripts", "submit_job.py"),
            "--transcripts",
            tdir,
            "--tiers",
            "minute,hour",
            "--out",
            out,
            "-q",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=_submit_env(),
        cwd=str(tmp_path),  # NOT the repo root — the zip must suffice
    )
    assert r.returncode == 0, r.stderr[-2000:]
    found = {
        name: spark.read.parquet(os.path.join(out, name)).count()
        for name in os.listdir(out)
        if not name.startswith(("_", "."))
    }
    assert found and all(n > 0 for n in found.values()), (r.stdout, found)


_PROBE = """
import json
from rollup_engine.session import get_spark
spark = get_spark()
keys = ("spark.sql.shuffle.partitions",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.session.timeZone")
print("PROBE " + json.dumps(
    {"master": spark.sparkContext.master,
     **{k: spark.conf.get(k) for k in keys}}))
spark.stop()
"""


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_conf_wins_over_session_defaults(tmp_path):
    """A --master and --conf given at submit time survive get_spark():
    its settings are defaults that fill only the keys the launch conf
    lacks.  The master and both values differ from what get_spark
    would pick itself (local[$SPARK_GRAFT_CPUS], 4×cores, 16m)."""
    probe = tmp_path / "probe.py"
    probe.write_text(_PROBE)
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[3]",
            "--conf",
            "spark.ui.enabled=false",
            "--conf",
            "spark.sql.shuffle.partitions=7",
            "--conf",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes=64m",
            "--py-files",
            _package_zip(tmp_path),
            str(probe),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=_submit_env(),
        cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = next(x for x in r.stdout.splitlines() if x.startswith("PROBE "))
    got = json.loads(line[len("PROBE ") :])
    assert got == {
        "master": "local[3]",
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        # a key the submit did not set still gets the engine default
        "spark.sql.session.timeZone": "UTC",
    }
