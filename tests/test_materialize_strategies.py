"""The reuse-materialization strategy knob (SCALE.md materialization
section) must be a pure performance/durability choice: both strategies
return identical results on the materialize-heavy dedup chain, the
reliable-checkpoint path actually writes to the checkpoint dir, and an
unknown strategy fails loudly."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMOKE
from weather_bigdata_project_spark import registry
from weather_bigdata_project_spark.operators import textops

registry.load()


def _run_lsh(spark):
    textops.release_pins(spark)
    rows = registry.QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    return sorted((r["doc1"], r["doc2"], r["jaccard"]) for r in rows)


@pytest.mark.parametrize("strategy", ["checkpoint"])
def test_strategy_matches_default_persist(spark, tmp_path, strategy, monkeypatch):
    want = _run_lsh(spark)  # default: persist
    assert len(want) > 0
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    # a prior test may have pinned a dir on the shared context;
    # force re-resolution from the env for this test
    spark.sparkContext.setCheckpointDir(ckpt)
    monkeypatch.setattr(textops, "_STRATEGY", strategy)
    got = _run_lsh(spark)
    assert got == want
    # the reliable checkpoint actually landed on the configured dir
    assert os.path.isdir(ckpt) and len(os.listdir(ckpt)) > 0


def test_cut_lineage_truncates_plan(spark, monkeypatch):
    """cut_lineage=True must return a LEAF-rooted frame under the
    default strategy (the iterative-loop contract): its logical plan
    cannot keep growing with whatever produced it."""
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        "id", (F.col("id") * 2).alias("v")
    ).groupBy((F.col("id") % 7).alias("k")).agg(F.sum("v").alias("s"))
    monkeypatch.setattr(textops, "_STRATEGY", "persist")
    cut = textops.materialize(df, cut_lineage=True)
    plan = cut._jdf.queryExecution().logical().toString()
    assert "Aggregate" not in plan, f"lineage not truncated:\n{plan}"
    assert sorted(r["s"] for r in cut.collect()) == sorted(
        r["s"] for r in df.collect()
    )


def test_unknown_strategy_raises_at_import():
    """An unrecognised SPARK_GRAFT_MATERIALIZE (here the removed
    `local`) fails the import and names the accepted values, instead of
    silently running the default."""
    import subprocess
    import sys

    res = subprocess.run(
        [sys.executable, "-c",
         "import weather_bigdata_project_spark.operators.textops"],
        env={**os.environ, "SPARK_GRAFT_MATERIALIZE": "local"},
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
    )
    assert res.returncode != 0
    err = res.stderr.strip().splitlines()[-1]
    assert err.startswith("ValueError") and "'local'" in err
    assert "persist" in err and "checkpoint" in err


def test_release_pins_between_queries(spark):
    """The pin lifecycle: pinning queries run back to back in one
    session, and after each one `release_pins` leaves no persistent RDD
    and no memo entry behind (a memo entry that outlives its unpersisted
    blocks is the CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND hazard). The final
    re-run checks that the shared pin rebuilds after a release and
    returns the first run's rows."""
    jsc = spark.sparkContext._jsc

    def rows(name):
        return sorted(
            repr(tuple(r))
            for r in registry.QUERIES[name](spark, SF_SMOKE).collect()
        )

    textops.release_pins(spark)
    first = None
    for name in (
        "dedup_minhash_lsh", "corpus_filter_pipeline", "events_user_features"
    ):
        got = rows(name)
        assert len(got) > 0, name
        assert jsc.getPersistentRDDs().size() > 0, f"{name} pinned nothing"
        if first is None:
            first = got
            assert textops._GRAM_MEMO, "shared shingle pin not memoized"
        textops.release_pins(spark)
        assert jsc.getPersistentRDDs().size() == 0, name
        assert not textops._GRAM_MEMO, name
    assert rows("dedup_minhash_lsh") == first
    textops.release_pins(spark)
