"""Product benchmark for weather_bigdata_project_spark.

Generates seeded inputs, runs one workload on ``local[<cpus>]``, checks
every operation's output outside the timed window, and prints the
metrics by name and unit. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

  python3 perfbench/run.py --workload ingest --seed 7 --seconds 15 --trace 0
  python3 perfbench/run.py --workload all --seed 7 --seconds 15

Workloads (closed loop, one client; see ``workloads.py``):

  ingest     ``run_pipeline.run`` drains over sf0.03-shape events (30k
             wire rows), repeated until ``--seconds`` have passed
  dashboard  one lap of the 12 dashboard panels at sf0.1 shape
  batch      one cold pass over 14 heavy registered queries at sf0.01 shape

End-to-end metrics, the same three for every workload: ``setup_s``,
``op_p50_ms`` (the median operation: a drain, a panel call or a batch
query) and ``items_per_s`` (wire rows per second of drain; panel calls
or queries per second). The product-level names (``ingest_rows_per_s``,
``dash_panel_p50_ms``, ``dash_panel_p90_ms``, ``batch_suite_s``,
``peak_rss_mb``, ``failed_ops_frac``) are printed on the ``# named``
line. ``BENCHMARK.json`` gates ingest and batch;
dashboard runs the same way but is left out of the gated set to keep the
gated runs inside their time budget.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the
separate traced run: it reports the per-layer metrics (per unit: one
drain, one dashboard lap, one batch pass), the tracing overhead, and
writes its spans to ``.perfbench_work/trace-<workload>-seed<seed>.json``.
``--workload all`` runs the three workloads one after another, each in
its own process, and prints the product-level metrics side by side.

Set-up is measured as the median of three session start-ups (the first
includes process start, package import and the JVM launch; the other
two are fresh sessions on the running JVM) plus the workload's warm
pass on the timed inputs, in the session the timed window then uses.
Batch has no warm pass: a batch job is a fresh submission, so its pass
is measured cold, with the JIT, codegen and Python-worker start-up every
submission pays. Input generation is cached per (seed, shape) under
``.perfbench_work/data`` and is in no metric.

Session settings, derived from the machine the benchmark runs on:
``SPARK_GRAFT_CPUS`` = usable CPUs, ``SPARK_DRIVER_MEMORY`` = a quarter
of physical RAM capped at 4 GiB, ``SPARK_LOCAL_DIRS`` and temporary
files inside ``.perfbench_work``, and ``PYTHONPATH`` = the checkout root
so Python workers import the package from any working directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # process start, for the cold set-up sample

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: input directories kept in the cache; older ones are removed
KEEP_INPUTS = 16
#: gen_tables scale per shape (scale 1.0 is the sf0.01 gate shape)
SHAPES = {"sf0.01": 1.0, "sf0.1": 10.0}
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
}

#: per-layer metrics, each per unit (one drain / lap / pass) unless the
#: name says per call; a layer a workload does not exercise reads 0
PER_LAYER = {
    "mem.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warm_s": "s",
    "plan.build_ms": "ms",
    "plan.compile_ms": "ms",
    "exec.ms": "ms",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.overhead_share": "ratio",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "task.skew_max": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "spill.disk_mb": "MB",
    "pin.calls": "count",
    "pin.live_rdds": "count",
    "pin.live_mb": "MB",
    "python.cpu_s": "s",
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.rows_read": "count",
    "stream.reads_per_wire_row": "ratio",
    "ingest.feed_s": "s",
    "ingest.stream_s": "s",
    "ingest.lake_query_s": "s",
    "ingest.local1_rows_per_s": "1/s",
    "sink.files": "count",
    "sink.mb": "MB",
    "result.rows": "count",
    "trace.overhead_share": "ratio",
    "trace.self_ms": "ms",
    "count.drifts": "count",
}
#: one wall per batch query, in pass order
BATCH_Q_METRIC = "batch.q.{}_s"

#: counts that must repeat exactly between units and between runs
EXACT_COUNTS = [
    "sched.jobs", "sched.stages", "sched.tasks", "stream.batches",
    "stream.rows_read", "pin.calls", "pin.live_rdds", "result.rows",
]


def configure_env() -> int:
    """Session settings that fit the machine; returns the CPU count."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    heap_mb = min(4096, mem_kb // 1024 // 4)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        TMPDIR=tmp,
        # every JVM spark-submit starts keeps its files in the work dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    return cpus


def inputs(seed: int, shape: str) -> str:
    """The generated star schema for (seed, shape), made once."""
    from tools.fixture_fuzz import gen_tables

    data = os.path.join(WORK, "data")
    path = os.path.join(data, f"seed{seed}-{shape}")
    if not os.path.exists(os.path.join(path, ".done")):
        os.makedirs(data, exist_ok=True)
        old = sorted((os.path.join(data, d) for d in os.listdir(data)),
                     key=os.path.getmtime)
        for d in old[: max(0, len(old) - KEEP_INPUTS + 1)]:
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables(seed, tmp, scale=SHAPES[shape], scale_docs=True)
        open(os.path.join(tmp, ".done"), "w").close()
        os.replace(tmp, path)
    return path


def quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def stop_spark() -> None:
    """Stop the session, the JVM and every process they started, and
    wait for each to end."""
    from pyspark import SparkContext

    from tracer import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# --- count cross-check -------------------------------------------------------

def cross_check(units: list[dict], key: str) -> list[str]:
    """Names of exact counts that differ between units of this run or
    from an earlier traced run with the same key (workload, shape and
    seed)."""
    drifts = []
    first = {k: units[0][k] for k in EXACT_COUNTS}
    for i, u in enumerate(units[1:], 2):
        drifts += [f"{k}: unit 1 {first[k]} vs unit {i} {u[k]}"
                   for k in EXACT_COUNTS if u[k] != first[k]]
    path = os.path.join(WORK, "counts", f"{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
        drifts += [f"{k}: earlier run {prev[k]} vs this run {first[k]}"
                   for k in EXACT_COUNTS if prev.get(k) != first[k]]
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(first, fh)
    return drifts


# --- one workload ------------------------------------------------------------

def set_up(wl, cpus: int, sf_dir: str, gen_s: float):
    """Three session start-ups, then the warm pass in the last session,
    which the timed window goes on using. Returns the context and the
    set-up figures."""
    from weather_bigdata_project_spark import registry
    from weather_bigdata_project_spark.session import get_spark
    from workloads import Ctx

    registry.load()
    spark = get_spark("perfbench", cpus=cpus)
    starts = [time.perf_counter() - T_START - gen_s]
    for _ in range(SETUPS - 1):
        spark.stop()
        t = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        starts.append(time.perf_counter() - t)
    scratch = os.path.join(WORK, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    ctx = Ctx(spark, cpus, sf_dir, scratch)
    t = time.perf_counter()
    for _ in range(wl.warm_units):
        for op in wl.lap(ctx):
            shutil.rmtree(op.work_dir or "", ignore_errors=True)
    warm_s = time.perf_counter() - t
    log(f"session start-ups {[round(x, 2) for x in starts]}, "
        f"warm pass {warm_s:.2f}s")
    return ctx, {"starts": starts, "warm_s": warm_s,
                 "setup_s": statistics.median(starts) + warm_s}


def end_to_end(wl, ctx, seconds: float, setup: dict):
    from tracer import RssSampler

    with RssSampler() as rss:
        ops = wl.window(ctx, seconds)
    log(f"window: {len(ops)} ops {[round(op.wall_s, 2) for op in ops]}")
    wl.check(ctx, ops)
    log("checked")
    ok = [op for op in ops if op.error is None]
    walls = [op.wall_s for op in ok] or [0.0]
    if wl.name == "ingest":
        items = statistics.median(
            [op.out["wire_rows"] / op.wall_s for op in ok] or [0.0]
        )
    else:
        items = len(ops) / sum(op.wall_s for op in ops)
    metrics = {
        "setup_s": setup["setup_s"],
        "op_p50_ms": statistics.median(walls) * 1e3,
        "items_per_s": items,
    }
    named = {"setup_s": metrics["setup_s"], "peak_rss_mb": rss.peak_mb}
    if wl.name == "ingest":
        named["ingest_rows_per_s"] = items
    elif wl.name == "dashboard":
        named["dash_panel_p50_ms"] = metrics["op_p50_ms"]
        named["dash_panel_p90_ms"] = quantile(walls, 0.9) * 1e3
    else:
        named["batch_suite_s"] = sum(op.wall_s for op in ops)
    return ops, metrics, named, END_TO_END


def per_layer(wl, ctx, seconds: float, setup: dict, seed: int):
    """The traced run. Ingest and dashboard run untraced and traced units
    in ABBA order, so the tracing overhead is traced minus untraced
    within one run. Batch runs its one pass traced."""
    from tracer import RssSampler, Tracer
    from workloads import BATCH_QUERIES

    tracer = Tracer(ctx.spark, ctx.cpus)
    units = tracer.units
    untraced_walls, in_unit_self, all_ops = [], [], []

    def untraced():
        t = time.perf_counter()
        all_ops.extend(wl.lap(ctx))
        return time.perf_counter() - t

    def traced():
        with tracer.unit(wl.name) as rec:
            s0 = tracer.self_s
            rec["ops"] = wl.lap(ctx, tracer)
            in_unit_self.append(tracer.self_s - s0)
        all_ops.extend(rec["ops"])

    end = time.perf_counter() + seconds
    with RssSampler() as rss:
        if wl.name == "batch":
            traced()
        while wl.name != "batch" and (not units or time.perf_counter() < end):
            if len(units) % 2 == 0:
                untraced_walls.append(untraced())
                traced()
            else:
                traced()
                untraced_walls.append(untraced())
    wl.check(ctx, all_ops)

    local1 = 0.0
    if wl.name == "ingest":
        # the single-thread baseline of the same drain
        from weather_bigdata_project_spark.session import get_spark

        ctx.spark.stop()
        ctx.spark = get_spark("perfbench", cpus=1)
        op = wl.drain(ctx, cpus=1)
        wl.check(ctx, [op])
        all_ops.append(op)
        if op.error is None:
            local1 = op.out["wire_rows"] / op.wall_s

    # spans for every op of every traced unit (build/compile/exec, or
    # the ingest phases the hooks marked)
    for rec in units:
        for op in rec["ops"]:
            tracer.spans.append({"id": len(tracer.spans), "parent": rec["span"],
                                 "name": op.name, "start": op.t0,
                                 "end": op.t0 + op.wall_s})
            parent, t = tracer.spans[-1]["id"], op.t0
            marks = [(k, v / 1e3) for k, v in op.split_ms.items()]
            if op.name == "drain":
                ph = rec["phase_t"]
                marks = [("ingest.feed_s", ph.get("feed_end", t) - t),
                         ("ingest.stream_s", ph.get("stream_end", t) - ph.get("feed_end", t)),
                         ("ingest.lake_query_s", op.t0 + op.wall_s - ph.get("stream_end", t))]
                for k, v in marks:
                    rec[k] = v
            for k, dur in marks:
                tracer.spans.append({"id": len(tracer.spans), "parent": parent,
                                     "name": k, "start": t, "end": t + dur})
                t += dur
        ok = [op for op in rec["ops"] if op.error is None]
        rec["result.rows"] = sum(
            op.out["lake_rows"] if op.out else len(op.rows) for op in ok
        )
        if wl.name == "ingest" and ok:
            rec["sink.files"], rec["sink.mb"] = ok[0].sink[0], ok[0].sink[1] / 1e6
            rec["stream.reads_per_wire_row"] = (
                rec["stream.rows_read"] / ok[0].out["wire_rows"]
            )

    def mean(key):
        return statistics.fmean(u.get(key, 0.0) for u in units)

    metrics = {k: mean(k) for k in PER_LAYER}
    calls = [op for u in units for op in u["ops"] if op.split_ms]
    for k in ("plan.build_ms", "plan.compile_ms", "exec.ms"):
        metrics[k] = statistics.fmean(op.split_ms[k] for op in calls) if calls else 0.0
    metrics["task.skew_max"] = max(u["task.skew_max"] for u in units)
    metrics["mem.peak_rss_mb"] = rss.peak_mb
    metrics["session.start_s"] = setup["starts"][0]
    metrics["session.warm_s"] = setup["warm_s"]
    metrics["ingest.local1_rows_per_s"] = local1
    traced_mean = statistics.fmean(u["wall_s"] for u in units)
    if untraced_walls:
        base = statistics.fmean(untraced_walls)
        metrics["trace.overhead_share"] = (traced_mean - base) / base
    else:  # batch: a second pass would not be the same job; use self time
        metrics["trace.overhead_share"] = statistics.fmean(in_unit_self) / traced_mean
    metrics["trace.self_ms"] = tracer.self_s * 1e3 / len(units)
    drifts = cross_check(units, f"{wl.name}-{wl.shape}-seed{seed}")
    metrics["count.drifts"] = len(drifts)
    for q in BATCH_QUERIES:
        walls = [op.wall_s for u in units for op in u["ops"] if op.name == q]
        metrics[BATCH_Q_METRIC.format(q)] = statistics.fmean(walls) if walls else 0.0

    for u in units:  # keep the trace file to plain figures
        u["ops"] = [{"name": op.name, "wall_s": op.wall_s,
                     "rows": len(op.rows) if op.rows is not None else None,
                     "split_ms": op.split_ms, "pins": op.pins,
                     "error": op.error}
                    for op in u["ops"]]
    tracer.write(
        os.path.join(WORK, f"trace-{wl.name}-seed{seed}.json"),
        {"workload": wl.name, "seed": seed, "setup": setup,
         "untraced_unit_walls_s": untraced_walls, "count_drifts": drifts,
         "settings": settings()},
    )
    units_spec = dict(PER_LAYER)
    units_spec.update({BATCH_Q_METRIC.format(q): "s" for q in BATCH_QUERIES})
    named = {"count drifts": "; ".join(drifts) or "none"}
    return all_ops, metrics, named, units_spec


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def settings() -> dict:
    keys = ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS", "PYTHONPATH")
    return {k: os.environ.get(k) for k in keys}


def run_one(args) -> int:
    from workloads import WORKLOADS

    cpus = configure_env()
    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    sf_dir = inputs(args.seed, wl.shape)
    gen_s = time.perf_counter() - t
    log(f"inputs ready ({gen_s:.1f}s)")
    try:
        ctx, setup = set_up(wl, cpus, sf_dir, gen_s)
        run = per_layer if args.trace else end_to_end
        extra = (args.seed,) if args.trace else ()
        ops, metrics, named, units = run(wl, ctx, args.seconds, setup, *extra)
    finally:
        stop_spark()
        log("stopped")
    failed = [op for op in ops if op.error or op.problems]
    for op in failed:
        print(f"FAILED {op.name}: {op.error or op.problems}", file=sys.stderr)
    named["failed_ops_frac"] = len(failed) / len(ops)
    print(f"# workload={wl.name} seed={args.seed} ops={len(ops)} "
          f"settings={json.dumps(settings())}")
    print("# named " + json.dumps(named))
    for k, v in metrics.items():
        print(f"  {k:40s} {v:14.4f} {units[k]}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own process; the product metrics side by side."""
    named, results = {}, {}
    for w in ("ingest", "dashboard", "batch"):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=True,
        ).stdout.splitlines()
        results[w] = json.loads(out[-1])
        named[w] = json.loads(next(l for l in out if l.startswith("# named "))[8:])
    units = {"setup_s": "s", "peak_rss_mb": "MB", "failed_ops_frac": "ratio",
             "ingest_rows_per_s": "rows/s", "dash_panel_p50_ms": "ms",
             "dash_panel_p90_ms": "ms", "batch_suite_s": "s"}
    for w, m in named.items():
        for k, v in m.items():
            if k in units:
                print(f"  {w:10s} {k:20s} {v:14.4f} {units[k]}")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items()
                    for k, v in r["metrics"].items()},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "dashboard", "batch", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, "weather_bigdata_project_spark")):
        print("perfbench: package weather_bigdata_project_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
