"""The scripts/run_pipeline.py orchestration entry must produce a lake
equal to the batch pipeline and route exactly the alert rows."""

from __future__ import annotations

import glob
import os
import re
import shutil
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from weather_bigdata_project_spark import weather_domain as wd

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)


@pytest.fixture(scope="module")
def pipeline_run(spark):
    """One run_pipeline drain at sf0.001 into a fresh work dir: (dir, counts)."""
    from scripts.run_pipeline import run

    work = tempfile.mkdtemp(prefix="pipeline_")
    try:
        yield work, run(SF_SMOKE, work, cpus=8)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _digest(df):
    """Order-insensitive content hash over the enriched columns."""
    return df.select(
        F.sum(F.xxhash64(*wd.ENRICHED_COLUMNS).cast("decimal(38,0)"))
    ).first()[0]


def test_run_pipeline_end_to_end(spark, pipeline_run):
    work, out = pipeline_run
    want = wd.enriched_frame(spark, SF_SMOKE)
    assert out["wire_rows"] == out["lake_rows"] == want.count()
    assert out["alert_rows"] == wd.alerts_frame(spark, SF_SMOKE).count()
    assert out["cities"] == 8

    # the feed is exactly 8 equal JSON files ...
    parts = sorted(glob.glob(os.path.join(work, "wire", "part-*.json")))
    assert len(parts) == 8
    rows = []
    for p in parts:
        with open(p) as f:
            rows.append(sum(1 for _ in f))
    assert max(rows) - min(rows) <= 1, rows
    # ... so maxFilesPerTrigger=4 drains each query in 2 micro-batches
    for q in ("enriched", "alerts"):
        commits = os.listdir(os.path.join(work, "checkpoints", q, "commits"))
        assert len([c for c in commits if c.isdigit()]) == 2, (q, commits)

    lake = spark.read.parquet(os.path.join(work, "lake", "weather_enriched"))
    assert _digest(lake.select(*wd.ENRICHED_COLUMNS)) == _digest(want)


def test_run_pipeline_refuses_used_work_dir(spark, pipeline_run):
    """A second run into the same work dir would append a new feed to the
    checkpointed lake; it raises instead and leaves the lake as it was."""
    from scripts.run_pipeline import run

    work, out = pipeline_run
    with pytest.raises(FileExistsError, match=re.escape(os.path.join(work, "lake"))):
        run(SF_SMOKE, work, cpus=8)
    lake = os.path.join(work, "lake", "weather_enriched")
    assert spark.read.parquet(lake).count() == out["lake_rows"]


def test_dashboard_script_runs():
    """The CLI dashboard (streamlit surface replacement) prints every
    requested panel header against the smoke fixtures."""
    import subprocess
    import sys

    out = subprocess.run(
        [
            sys.executable,
            os.path.join(_REPO_ROOT, "scripts", "run_dashboard.py"),
            "--panels",
            "weather_global_stats,weather_alert_counts",
            "--rows",
            "3",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "== weather_global_stats ==" in out.stdout
    assert "== weather_alert_counts ==" in out.stdout
