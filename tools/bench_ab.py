"""In-session interleaved A/B for cross-round bench regressions.

Round-5 verdict, task 3: BENCH_r05 showed 11 queries >1.3x normalized
vs BENCH_r04, all on per-query code git-diff-identical between rounds —
attributed to session drift (this box swings ~40% between sessions and
the fixed-work calibration only partially divides that out). Drift vs
code must be settled by measurement, not faith: the confound is
BETWEEN-session machine state, so run both code versions in ONE
session, interleaved rep by rep (the first arm alternates: A B, B A,
...), and compare per-query bests.

Arms are git trees: A = the round-4 record commit (extracted with
`git archive`), B = the current HEAD. Each rep spawns a fresh worker
process pinned to one tree (sys.path isolation — two versions of the
package cannot share one interpreter), builds the SAME tuned session
the bench uses, warms at sf0.001, runs the fixed-work calibration
loop, then best-of-2 per query at sf0.1 with the bench's session
hygiene. Process-level interleaving inside one hour is exactly the
control the verdict asked for: any slow-box phase hits both arms.

Verdict rule per query: the RAW best-of-reps ratio w_B / w_A decides
(> 1.15 -> `code`, else `drift`) — inside one session the interleaving
itself is the control, and BENCH_AB.md's round-5 reading note showed
that dividing by the calibration ratio re-imports the calibration
loop's own rep noise (a single fast cal draw once flipped
git-identical queries to `code`). The calibration-normalized ratio is
still recorded per row for cross-checking.

Round-8 verdict, watch item 1 / task 1: the comparison the driver
actually grades is the committed BENCH_r{N}.json record, whose
normalized flag list can differ from any local run's (different
session, different calibration draw). `--from-bench BENCH_r08.json`
keys the A/B to the RECORD: it recomputes the driver record's own
normalized ratios against the previous record (same formula as
bench.py: (t_N / t_{N-1}) / (cal_N / cal_{N-1}), flag > 1.3),
resolves arm A to the PREVIOUS round's record commit (the `round
{N-1}: verdict/...` driver commit — the tree the previous record
measured), and interleave-tests exactly that flag list. This makes
the per-round ritual: `python3 tools/bench_ab.py --from-bench
BENCH_r{N}.json` after each driver bench lands.

`--pipeline` A/Bs the product path instead of registry queries: each
worker imports its arm's `scripts/run_pipeline.run`, does WARM_DRAINS
warm drains and then TIMED_DRAINS timed drains, each into a fresh work
dir, checks wire rows == lake rows == event rows on every drain and
prints the walls. Arms interleave per process as above; the report is
the per-arm median wall and how many (rep, drain) pairs arm B won.

Usage:
    python3 tools/bench_ab.py --ref 63e2eff [--reps 3] [names...]
    python3 tools/bench_ab.py --from-bench BENCH_r08.json [--reps 2]
    python3 tools/bench_ab.py --pipeline --ref <commit> [--reps 5]
        [--sf-dir DIR]
    python3 tools/bench_ab.py --worker <tree> <sf_dir> <names...>
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections.abc import Callable
from contextlib import redirect_stdout

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the 11 queries BENCH_r05 flagged >1.3x normalized vs BENCH_r04
REGRESSED_R5 = [
    "tpch_q5_regional_revenue",
    "tpch_q6_forecast_revenue",
    "text_langid_confusion",
    "window_moving_avg_events",
    "events_cohort_retention",
    "graph_triangle_brands",
    "lineitem_bloom_join_prune",
    "events_sliding_window",
    "join_asof_purchase_last_click",
    "events_user_sessions",
    "weather_enrich",
]

#: drains per --pipeline worker: untimed warm-up, then timed
WARM_DRAINS = 2
TIMED_DRAINS = 2


def worker(tree: str, sf_dir: str, names: list[str]) -> None:
    """Run one arm: import the package from `tree`, measure, print one
    JSON line {calibration_s, queries:{name: best_of_2}}."""
    sys.path.insert(0, tree)
    from weather_bigdata_project_spark import registry
    from weather_bigdata_project_spark.session import get_spark

    registry.load()
    spark = get_spark("bench-ab")
    spark.range(1000).count()
    warm = "/root/testdata/sf0.001"
    for n in names:
        registry.QUERIES[n](spark, warm).write.format("noop").mode(
            "overwrite"
        ).save()

    def clear() -> None:
        from weather_bigdata_project_spark.operators import textops

        if hasattr(textops, "release_pins"):
            textops.release_pins(spark)
            return
        # inline copy for arm A's historical trees, which predate
        # release_pins (the r4 tree predates clear_shingle_memo too)
        spark.catalog.clearCache()
        for rdd in list(
            spark.sparkContext._jsc.getPersistentRDDs().values()
        ):
            rdd.unpersist()
        if hasattr(textops, "clear_shingle_memo"):
            textops.clear_shingle_memo()
        spark.sparkContext._jvm.System.gc()

    cal = None
    for _ in range(2):
        t0 = time.time()
        spark.range(12_800_000_000).selectExpr(
            "sum(((id % 1048576) * 2654435761) % 1000003) AS s"
        ).collect()
        d = time.time() - t0
        cal = d if cal is None else min(cal, d)

    times: dict[str, float] = {}
    for n in names:
        best = None
        for _ in range(2):
            clear()
            t0 = time.time()
            registry.QUERIES[n](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            d = time.time() - t0
            best = d if best is None else min(best, d)
        times[n] = round(best, 3)
    print(json.dumps({"calibration_s": round(cal, 3), "queries": times}))
    spark.stop()


def pipeline_worker(tree: str, sf_dir: str) -> None:
    """Run one pipeline arm: `tree`'s scripts/run_pipeline.run on every
    usable CPU, WARM_DRAINS warm drains then TIMED_DRAINS timed ones,
    each into a fresh work dir. Prints one JSON line {walls: [...]}
    (timed drains only)."""
    import importlib.util

    import pyarrow.parquet as pq

    # run_pipeline.py puts its own tree first on sys.path when loaded
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", os.path.join(tree, "scripts", "run_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    events = pq.read_metadata(os.path.join(sf_dir, "events.parquet")).num_rows
    cpus = len(os.sched_getaffinity(0))
    base = tempfile.mkdtemp(prefix="bench_ab_drain_")
    walls = []
    try:
        for i in range(WARM_DRAINS + TIMED_DRAINS):
            work = os.path.join(base, str(i))
            t0 = time.perf_counter()
            with redirect_stdout(sys.stderr):
                out = mod.run(sf_dir, work, cpus)
            d = time.perf_counter() - t0
            if not out["wire_rows"] == out["lake_rows"] == events:
                raise SystemExit(f"drain {i}: {out} vs {events} events")
            shutil.rmtree(work, ignore_errors=True)
            if i >= WARM_DRAINS:
                walls.append(round(d, 3))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"walls": walls}))


def record_flags(bench_path: str) -> tuple[str, list[str], dict]:
    """Recompute the driver record's own normalized flag list.

    Reads BENCH_r{N}.json (driver records nest the parsed bench line
    under "parsed"), finds BENCH_r{N-1}.json next to it, applies
    bench.py's exact normalization — per-query wall ratio divided by
    the calibration ratio, flag > 1.3 — and resolves arm A to the
    previous round's driver record commit (`round {N-1}: verdict/...`),
    i.e. the tree the previous record measured. Returns (ref_a,
    flagged_names_desc, detail)."""
    import re

    def load(p: str) -> dict:
        with open(p) as f:
            rec = json.load(f)
        if "queries" not in rec and isinstance(rec.get("parsed"), dict):
            rec = rec["parsed"]
        return rec

    m = re.search(r"r(\d+)", os.path.basename(bench_path))
    if not m:
        raise SystemExit(f"cannot parse round number from {bench_path}")
    n = int(m.group(1))
    prev_path = os.path.join(
        os.path.dirname(os.path.abspath(bench_path)) or _REPO_ROOT,
        f"BENCH_r{n-1:02d}.json",
    )
    cur, prev = load(bench_path), load(prev_path)
    cal_ratio = cur["calibration_s"] / prev["calibration_s"]
    ratios = {
        q: (cur["queries"][q] / prev["queries"][q]) / cal_ratio
        for q in cur["queries"]
        if isinstance(prev["queries"].get(q), (int, float))
        and prev["queries"][q] > 0
    }
    flagged = sorted(
        (q for q, r in ratios.items() if r > 1.3),
        key=lambda q: -ratios[q],
    )
    out = subprocess.run(
        ["git", "log", "--format=%h", "-1", "--fixed-strings",
         f"--grep=round {n-1}: verdict"],
        cwd=_REPO_ROOT, capture_output=True, text=True, check=True,
    )
    ref_a = out.stdout.strip()
    if not ref_a:
        raise SystemExit(f"no 'round {n-1}: verdict' commit found")
    detail = {
        "record": os.path.basename(bench_path),
        "prev_record": os.path.basename(prev_path),
        "record_cal_ratio": round(cal_ratio, 3),
        "record_norm": {q: round(ratios[q], 3) for q in flagged},
    }
    return ref_a, flagged, detail


def arm_a_tree(ref: str) -> str:
    """Arm A's source tree: `git archive <ref>` extracted once under
    $TMPDIR."""
    tree = os.path.join(tempfile.gettempdir(), f"bench_ab_tree_{ref}")
    if not os.path.isdir(tree):
        archive = subprocess.run(
            ["git", "archive", ref], cwd=_REPO_ROOT,
            capture_output=True, check=True,
        )
        # extract beside the final name and rename on success, so an
        # interrupted extraction is never reused as arm A
        part = tree + ".part"
        shutil.rmtree(part, ignore_errors=True)
        os.makedirs(part)
        subprocess.run(["tar", "-x", "-C", part], input=archive.stdout,
                       check=True)
        os.rename(part, tree)
    return tree


def _interleave(
    arms: dict[str, str],
    reps: int,
    worker_args: Callable[[str], list[str]],
    describe: Callable[[dict], str],
) -> dict[str, list[dict]]:
    """Run `reps` worker processes per arm, interleaved rep by rep with
    the first arm alternating (A B, B A, ...) so no order effect always
    favours one arm. `worker_args(tree)` is the worker's argv after
    this script; its last stdout line is its JSON record. Returns
    {arm: [record per rep]}."""
    runs: dict[str, list[dict]] = {a: [] for a in arms}
    order = list(arms)
    for rep in range(reps):
        for arm in order if rep % 2 == 0 else order[::-1]:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 *worker_args(arms[arm])],
                capture_output=True, text=True, cwd=arms[arm],
            )
            if out.returncode:
                sys.stderr.write(out.stderr[-3000:])
                raise SystemExit(f"rep {rep} arm {arm} failed")
            rec = json.loads(out.stdout.strip().splitlines()[-1])
            runs[arm].append(rec)
            print(f"== rep {rep} arm {arm}: {describe(rec)}", flush=True)
    return runs


def pipeline_ab(args) -> None:
    """Interleaved A/B of run_pipeline drains: `reps` worker processes
    per arm; per-arm median wall and pairwise wins."""
    arms = {"A": arm_a_tree(args.ref), "B": _REPO_ROOT}
    runs = _interleave(
        arms, args.reps,
        lambda tree: ["--pipeline-worker", tree, args.sf_dir],
        lambda rec: f"walls {rec['walls']}",
    )
    walls = {a: [r["walls"] for r in runs[a]] for a in runs}
    flat = {a: [x for w in walls[a] for x in w] for a in walls}
    pairs = list(zip(flat["A"], flat["B"]))
    med = {a: statistics.median(flat[a]) for a in flat}
    print(json.dumps({
        "ref_a": args.ref, "sf_dir": args.sf_dir,
        "cpus": len(os.sched_getaffinity(0)), "reps": args.reps,
        "drains": TIMED_DRAINS,
        "walls_a": walls["A"], "walls_b": walls["B"],
        "median_a_s": round(med["A"], 3), "median_b_s": round(med["B"], 3),
        "ratio_b_a": round(med["B"] / med["A"], 3),
        "b_faster_pairs": f"{sum(b < a for a, b in pairs)}/{len(pairs)}",
    }, indent=1))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", default="63e2eff",
                    help="git ref for arm A (round-4 record commit)")
    ap.add_argument("--from-bench", metavar="BENCH_rNN.json",
                    help="key the A/B to a committed driver bench "
                         "record: A/B its own normalized flag list "
                         "(>1.3) against the previous round's record "
                         "commit")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--pipeline", action="store_true",
                    help="A/B scripts/run_pipeline.run drains, not queries")
    ap.add_argument("--worker", nargs="+", metavar="ARG",
                    help="(internal) tree sf_dir names...")
    ap.add_argument("--pipeline-worker", nargs=2, metavar="ARG",
                    help="(internal) tree sf_dir")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    if args.worker:
        worker(args.worker[0], args.worker[1], args.worker[2:])
        return
    if args.pipeline_worker:
        pipeline_worker(*args.pipeline_worker)
        return
    if args.pipeline:
        pipeline_ab(args)
        return

    detail = None
    if args.from_bench:
        args.ref, flagged, detail = record_flags(args.from_bench)
        names = args.names or flagged
        print(f"== record {detail['record']}: {len(flagged)} flags "
              f">1.3 vs {detail['prev_record']}, arm A = {args.ref}",
              flush=True)
    else:
        names = args.names or REGRESSED_R5
    arms = {"A": arm_a_tree(args.ref), "B": _REPO_ROOT}
    runs = _interleave(
        arms, args.reps,
        lambda tree: ["--worker", tree, args.sf_dir, *names],
        lambda rec: f"cal {rec['calibration_s']} "
                    f"total {round(sum(rec['queries'].values()), 2)}",
    )

    cal = {a: min(r["calibration_s"] for r in runs[a]) for a in runs}
    cal_ratio = cal["B"] / cal["A"]
    rows = []
    for n in names:
        w = {a: min(r["queries"][n] for r in runs[a]) for a in runs}
        # BENCH_AB.md's reading note, now enforced where it matters:
        # inside ONE session the interleaving IS the control, so the
        # verdict uses the RAW best-of-reps ratio; dividing by the
        # calibration ratio only re-imports the calibration loop's own
        # rep noise (a 0.87 cal draw once flipped six git-identical
        # queries to `code`). The normalized ratio stays recorded for
        # cross-checking, it just doesn't decide.
        raw = w["B"] / w["A"]
        norm = raw / cal_ratio
        rows.append((n, w["A"], w["B"], round(raw, 3), round(norm, 3),
                     "code" if raw > 1.15 else "drift"))
    payload = {
        "ref_a": args.ref, "reps": args.reps, "cal_a": cal["A"],
        "cal_b": cal["B"], "cal_ratio": round(cal_ratio, 3),
        "columns": ["query", "best_a_s", "best_b_s", "raw_ratio",
                    "norm_ratio", "verdict"],
        "rows": rows,
    }
    if detail is not None:
        payload["from_bench"] = detail
    print(json.dumps(payload, indent=1))
    with open(os.path.join(_REPO_ROOT, "BENCH_AB.json"), "w") as f:
        json.dump(payload, f, indent=1)
    print("wrote BENCH_AB.json")


if __name__ == "__main__":
    main()
