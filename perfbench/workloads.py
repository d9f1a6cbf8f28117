"""The three product workloads: ingest, dashboard and batch.

Each is a closed loop with one client: the next operation starts only
after the previous one returned. Each drives the product entry points
exactly as they stand:

- ``ingest``: ``scripts/run_pipeline.run`` drains (wire JSON feed ->
  Structured Streaming -> parquet lake + JSON alerts -> lake query);
- ``dashboard``: ``registry.QUERIES[name]`` for the
  ``scripts/run_dashboard.PANELS`` set, round-robin in one long-lived
  session, each result collected into Python as the app renders it;
- ``batch``: one pass over heavy registered queries in fixed order, one
  session, no cleanup between queries.

A workload runs in three steps: a warm pass of ``warm_units`` units on
the timed inputs (part of set-up: the JVM's JIT reaches steady state
only after a few units), ``window`` (the timed operations) and ``check``
(outside the timed window: every operation's output against an
independent result). A *unit* is one drain, one dashboard lap or one
batch pass; ``lap`` runs one.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import functions as F

#: the shuffle-, window-, pin- and Python-boundary-heavy registered
#: queries the batch workload runs, in this order
BATCH_QUERIES = [
    "tpch_q9_product_profit",
    "tpch_q21_waiting_suppliers",
    "events_user_features",
    "join_geo_nearest_station",
    "graph_triangle_brands",
    "sql_recursive_brand_reach",
    "dedup_minhash_lsh",
    "dedup_minhash_band_tuning",
    "dedup_prefix_filter_jaccard",
    "dedup_cluster_canonical_quality",
    "embed_semdedup_prune",
    "corpus_filter_pipeline",
    "multimodal_phash_neardup",
    "multimodal_audio_segments",
]


@dataclass
class Op:
    """One timed operation and what its check needs."""

    name: str
    wall_s: float
    rows: list | None = None  # collected result (queries)
    columns: list | None = None
    out: dict | None = None  # run_pipeline.run's counts (ingest)
    work_dir: str | None = None
    error: str | None = None
    problems: list = field(default_factory=list)
    t0: float = 0.0  # perf_counter at start, for spans
    split_ms: dict = field(default_factory=dict)  # build/compile/exec
    pins: tuple = ()  # (live RDDs, MB) after the query, when traced
    sink: tuple = (0, 0)  # (data files, bytes) the drain's sinks wrote


class _Rows:
    """Stands in for a DataFrame already collected in the timed window,
    so ``check_oracle.compare`` checks those rows without re-running."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def _failed(name: str, t0: float) -> Op:
    traceback.print_exc(file=sys.stderr)
    return Op(name, time.perf_counter() - t0, t0=t0,
              error=traceback.format_exc(limit=2))


class Ctx:
    """Everything a workload needs: the session, inputs and scratch."""

    def __init__(self, spark, cpus: int, sf_dir: str, scratch: str):
        self.spark = spark
        self.cpus = cpus
        self.sf_dir = sf_dir  # the generated inputs
        self.scratch = scratch
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.scratch, f"{tag}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path


# --- registered queries (dashboard + batch) -------------------------------

def run_query(ctx: Ctx, name: str, tracer=None) -> Op:
    """Plan one registered query and collect its rows. Traced calls split
    the wall into build (the ``QUERIES[name](spark, dir)`` call), compile
    (forcing the executed plan) and exec (the collect)."""
    from weather_bigdata_project_spark import registry

    t0 = time.perf_counter()
    try:
        df = registry.QUERIES[name](ctx.spark, ctx.sf_dir)
        t1 = time.perf_counter()
        if tracer is not None:
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
    except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
        return _failed(name, t0)
    op = Op(name, t3 - t0, rows=rows, columns=df.columns, t0=t0)
    if tracer is not None:
        op.split_ms = {"plan.build_ms": (t1 - t0) * 1e3,
                       "plan.compile_ms": (t2 - t1) * 1e3,
                       "exec.ms": (t3 - t2) * 1e3}
    return op


class _Queries:
    """Workloads of registered queries, checked against their oracles."""

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        """Each query result against its DuckDB oracle."""
        from tools.check_oracle import compare, duck_connect

        from weather_bigdata_project_spark import registry

        con = duck_connect(ctx.sf_dir)
        try:
            for op in ops:
                if op.error is None:
                    op.problems = compare(
                        op.name, _Rows(op.columns, op.rows),
                        registry.ORACLES[op.name], con,
                    )
        finally:
            con.close()


class Dashboard(_Queries):
    name = "dashboard"
    shape = "sf0.1"
    warm_units = 1

    def __init__(self):
        sys_path_scripts()
        from run_dashboard import PANELS

        self.panels = list(PANELS)

    def lap(self, ctx: Ctx, tracer=None) -> list[Op]:
        return [run_query(ctx, p, tracer) for p in self.panels]

    def window(self, ctx: Ctx, seconds: float) -> list[Op]:
        """One lap, whatever `seconds` says: every panel weighs the same
        in the percentiles."""
        return self.lap(ctx)


class Batch(_Queries):
    name = "batch"
    shape = "sf0.01"
    warm_units = 0  # measured cold, as a fresh submission runs

    def lap(self, ctx: Ctx, tracer=None) -> list[Op]:
        ops = []
        for q in BATCH_QUERIES:
            ops.append(run_query(ctx, q, tracer))
            if tracer is not None:
                t = time.perf_counter()
                ops[-1].pins = tracer.probe.pins()
                tracer.self_s += time.perf_counter() - t
        return ops

    def window(self, ctx: Ctx, seconds: float) -> list[Op]:
        """One pass, whatever `seconds` says: a second pass would start
        on the first pass's leftover pins and measure a different job."""
        return self.lap(ctx)


def sys_path_scripts() -> None:
    """Make ``scripts/`` importable (``run_pipeline``, ``run_dashboard``)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)


# --- ingest ----------------------------------------------------------------

def _tree_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a sink directory, skipping metadata."""
    n = size = 0
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _digest(df):
    """(rows, order-insensitive content hash) of a frame."""
    cols = sorted(df.columns)
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), str(r["h"])


class Ingest:
    name = "ingest"
    shape = "sf0.1"
    warm_units = 2

    def __init__(self):
        sys_path_scripts()

    def drain(self, ctx: Ctx, cpus: int | None = None) -> Op:
        import run_pipeline

        work = ctx.fresh_dir("drain")
        t0 = time.perf_counter()
        try:
            with redirect_stdout(sys.stderr):
                out = run_pipeline.run(ctx.sf_dir, work, cpus or ctx.cpus)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            return _failed("drain", t0)
        return Op("drain", time.perf_counter() - t0, out=out, work_dir=work, t0=t0)

    def lap(self, ctx: Ctx, tracer=None) -> list[Op]:
        return [self.drain(ctx)]

    def window(self, ctx: Ctx, seconds: float) -> list[Op]:
        ops, end = [], time.perf_counter() + seconds
        while not ops or time.perf_counter() < end:
            ops.append(self.drain(ctx))
        return ops

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        """Lake, wire and event rows equal; alert count and lake content
        hash equal to the batch pipeline on the same input."""
        import pyarrow.parquet as pq

        from weather_bigdata_project_spark import weather_domain as wd

        sf_dir, spark = ctx.sf_dir, ctx.spark
        events = pq.read_metadata(os.path.join(sf_dir, "events.parquet")).num_rows
        ref = _digest(wd.enriched_frame(spark, sf_dir))
        ref_alerts = wd.alerts_frame(spark, sf_dir).count()
        for op in ops:
            if op.error is not None:
                continue
            o = op.out
            if not (o["wire_rows"] == o["lake_rows"] == events):
                op.problems.append(
                    f"rows: wire={o['wire_rows']} lake={o['lake_rows']} events={events}"
                )
            if o["alert_rows"] != ref_alerts:
                op.problems.append(f"alerts: {o['alert_rows']} != batch {ref_alerts}")
            lake = spark.read.parquet(
                os.path.join(op.work_dir, "lake", "weather_enriched")
            ).select(*wd.ENRICHED_COLUMNS)
            got = _digest(lake)
            if got != ref:
                op.problems.append(f"lake digest {got} != batch {ref}")
            op.sink = _tree_files(os.path.join(op.work_dir, "lake"))
            shutil.rmtree(op.work_dir, ignore_errors=True)


WORKLOADS = {"ingest": Ingest, "dashboard": Dashboard, "batch": Batch}
