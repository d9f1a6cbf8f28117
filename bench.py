"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized through the `noop` sink (whole plan
executes, no driver-side collect/serialization cost polluting the
measurement).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: best-of-N reps for the fixed-work calibration loop; recorded in the
#: payload so normalized_vs_prev can detect a cross-round policy change
#: (best-of-2 through round 5, best-of-3 since round 6 — best-of-3 is
#: systematically lower, which biases exactly one comparison)
CAL_REPS = 3

# Representative slice of every query family. KEEP THIS LIST SHORT
# ENOUGH THAT THE FINAL JSON LINE STAYS UNDER ~1800 CHARS: the driver
# captures only a bounded stdout tail and failed to parse round 1's
# 93-query line (BENCH_r01.json: "parsed": null). A guard below refuses
# to print an over-long line. The full 300+ suite is still runnable via
# SPARK_GRAFT_QUERIES=all.
#
# Round-2 advisor note, addressed: round 2 cut this list 93 -> 48 while
# keeping the metric name "headline_suite_wall", making wall values
# look 2x faster across rounds. The metric is now named for its suite
# size and the payload records n_queries explicitly, so cross-round
# comparison is per-query (BENCH files carry the per-query dict), never
# by the wall value's name alone.
HEADLINE = [
    "weather_enrich",
    "weather_city_stats",
    "weather_temp_histogram",
    "weather_heatwave_runs",
    "tpch_q1_pricing_summary",
    "tpch_q3_order_revenue",
    "tpch_q5_regional_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q18_large_volume_orders",
    "tpch_q21_waiting_suppliers",
    "window_moving_avg_events",
    "events_hourly_window",
    "events_user_sessions",
    "events_sliding_window",
    "events_cohort_retention",
    "events_funnel_conversion",
    "events_session_paths",
    "events_json_extract",
    "events_user_features",
    "join_asof_purchase_last_click",
    "join_range_clicks_before_purchase",
    "join_point_in_time_customer_value",
    "join_geo_nearest_station",
    "join_session_overlap",
    "scd2_customer_value_history",
    "profile_lineitem_columns",
    "orders_rfm_segments",
    "graph_triangle_brands",
    "sql_recursive_brand_reach",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_band_tuning",
    "dedup_prefix_filter_jaccard",
    "dedup_embedding_cosine",
    "dedup_cluster_canonical_quality",
    "embed_semdedup_prune",
    "embed_knn_bruteforce",
    "embed_binary_quantize_recall",
    "embed_kmeans_assign",
    "embed_ivf_search",
    "text_fingerprint",
    "text_langid_confusion",
    "contamination_ngram_overlap",
    "corpus_filter_pipeline",
    "corpus_split_leakage",
    "corpus_token_budget",
    "events_cms_frequency",
    "lineitem_bloom_join_prune",
    "multimodal_phash_neardup",
    "multimodal_audio_segments",
]


def normalized_vs_prev(
    times: dict[str, float], calibration_s: float, sf=None
) -> dict | None:
    """Machine-drift-corrected comparison with the newest committed
    BENCH_r*.json: per-query wall ratio divided by the calibration
    ratio (this box swings ~40% between sessions; the fixed-work
    calibration loop measures that swing, so a NORMALIZED ratio > 1.3
    is code drift, not box drift). Returns a compact summary block for
    the bench line — previous round id, calibration ratio, median
    normalized ratio, regression count, and the worst 3 offenders —
    and prints the full per-query detail to stderr. None when no
    comparable previous record exists (missing file, no calibration,
    no per-query dict, or an sf/suite mismatch)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    # only the per-round records: a variant such as BENCH_r10_c8.json
    # (another core count) shares its round number and would otherwise
    # tie with BENCH_r10.json, leaving the pick to glob's listing order
    rounds = [
        m
        for m in (
            re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
            for p in glob.glob(os.path.join(here, "BENCH_r[0-9]*.json"))
        )
        if m
    ]
    if not rounds:
        return None
    newest = max(rounds, key=lambda m: int(m.group(1)))
    try:
        with open(os.path.join(here, newest.group(0))) as f:
            prev = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    # driver records may nest the parsed line under "parsed"
    if "queries" not in prev and isinstance(prev.get("parsed"), dict):
        prev = prev["parsed"]
    pq = prev.get("queries")
    pcal = prev.get("calibration_s")
    if not isinstance(pq, dict) or not pcal or not calibration_s:
        return None
    if sf is not None and prev.get("sf") not in (None, sf):
        return None  # different data scale: ratios would be meaningless
    common = [n for n in times if isinstance(pq.get(n), (int, float))
              and pq[n] > 0]
    if len(common) < 5:
        return None
    cal_ratio = calibration_s / pcal
    # Calibration-policy guard (round-5 ADVICE): the calibration moved
    # from best-of-2 (rounds <= 5) to best-of-3 in round 6. Best-of-3
    # is systematically lower, so dividing by an old best-of-2 number
    # biases cal_ratio low and every normalized ratio high for exactly
    # one cross-round comparison. The payload now records cal_reps;
    # when the previous record carries none (pre-round-6) or a
    # different value, flag the mismatch instead of silently comparing.
    cal_policy_mismatch = prev.get("cal_reps") != CAL_REPS
    ratios = {
        n: round((times[n] / pq[n]) / cal_ratio, 3) for n in common
    }
    for n in sorted(ratios, key=ratios.get):
        print(f"# norm {n}: {ratios[n]:.3f}", file=sys.stderr)
    ordered = sorted(ratios.values())
    raw = sorted(times[n] / pq[n] for n in common)
    regressed = {n: r for n, r in ratios.items() if r > 1.3}
    worst = dict(
        sorted(regressed.items(), key=lambda kv: -kv[1])[:3]
    )
    return {
        "prev": f"r{newest.group(1)}",
        "cal_ratio": round(cal_ratio, 3),
        "n_common": len(common),
        # read BOTH medians: the calibration loop itself carries
        # run-to-run noise (measured +-20% across same-day runs), so a
        # median_norm_ratio far from median_raw_ratio means the
        # NORMALIZER moved, not the queries — trust the flag list only
        # when the two medians roughly agree
        "median_norm_ratio": round(ordered[len(ordered) // 2], 3),
        "median_raw_ratio": round(raw[len(raw) // 2], 3),
        "n_regressed": len(regressed),
        "regressed": worst,
        **(
            {"cal_policy_mismatch": True} if cal_policy_mismatch else {}
        ),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # optional focused run: SPARK_GRAFT_QUERIES="tpch_q1_...,tpch_q3_..."
    # (or "tpch" to run every registered tpch_* query)
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    from weather_bigdata_project_spark.session import get_spark
    from weather_bigdata_project_spark import registry
    from weather_bigdata_project_spark.operators import textops

    registry.load()
    headline = HEADLINE
    if subset:
        if subset.strip() == "tpch":
            headline = sorted(
                n for n in registry.QUERIES if n.startswith("tpch_")
            )
        elif subset.strip() == "all":
            headline = sorted(registry.QUERIES)
        else:
            headline = [n.strip() for n in subset.split(",") if n.strip()]

    spark = get_spark("bench")
    # Warm-up: run every headline query once at sf0.001 (trivial data) so
    # the measured loop reports steady-state throughput — JVM/janino
    # whole-stage-codegen compilation and parquet reader init are one-time
    # session costs, not per-query costs at scale.
    spark.range(1000).count()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in headline:
            registry.QUERIES[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()

    # Fixed-work calibration: a constant CPU-bound JVM loop (no I/O, no
    # shuffle) whose wall time measures THIS BOX on THIS RUN. Cross-round
    # bench comparisons divide by it to separate machine drift (this box
    # swings ~40% between sessions) from code drift. Best-of-3 (the
    # loop itself swings ~20% between same-day runs; consumers should
    # also compare median_norm_ratio vs median_raw_ratio).
    def calibration() -> float:
        best = None
        for _ in range(CAL_REPS):  # best-of-N: the loop swings ~20%
            t0 = time.time()
            spark.range(12_800_000_000).selectExpr(
                "sum(((id % 1048576) * 2654435761) % 1000003) AS s"
            ).collect()
            d = time.time() - t0
            best = d if best is None else min(best, d)
        return round(best, 3)

    calibration_s = calibration()
    print(f"# calibration: {calibration_s:.3f}s", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # SPARK_GRAFT_REPS: best-of-N per query (N=2 default — the round-7
    # A/B found half the suite is sub-second, where single-run walls
    # sit below the box's drift floor; builder-local records use this
    # to start cross-round comparisons from a stabler statistic). The
    # FIRST run's wall is recorded too (queries_raw) so a reader can
    # see both the raw and the damped number side by side.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "2")))
    times: dict[str, float] = {}
    raws: dict[str, float] = {}
    total = 0.0
    for name in headline:
        fn = registry.QUERIES[name]
        # best of N measured runs: reports steady-state throughput, damps
        # GC/compilation jitter (every run executes the full plan —
        # clearing per RUN also drops the shared-shingle memo, so no
        # run measures another run's cached frames)
        dt = None
        for r in range(reps):
            textops.release_pins(spark)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            d = round(time.time() - t0, 3)
            if r == 0:
                raws[name] = d
            dt = d if dt is None else min(dt, d)
        times[name] = dt
        total += dt
        print(f"# {name}: {dt:.3f}s (raw {raws[name]:.3f}s)", file=sys.stderr)

    payload = {
        # "b" suffix: round-3 composition swap (4 family-redundant
        # entries replaced by the sketch/ANN additions) — the suffix keeps
        # the wall value non-comparable-by-name with the pre-swap suite;
        # cross-round comparison stays per-query via the queries dict.
        "metric": f"headline{len(times)}b_suite_wall",
        "value": round(total, 3),
        "unit": "sec",
        "n_queries": len(times),
        "calibration_s": calibration_s,
        "cal_reps": CAL_REPS,
        "queries": times,
        "reps": reps,
        "queries_raw": raws,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    norm = normalized_vs_prev(times, calibration_s, payload["sf"])
    if norm:
        payload["normalized_vs_prev"] = norm
    # builder-local records: dump the FULL payload (nothing shed by the
    # stdout line guard below — both walls, all normalized detail) to a
    # file, so BENCH_local_r*.json carries best-of-N alongside raw even
    # when the driver line can't
    out_path = os.environ.get("SPARK_GRAFT_OUT")
    if out_path:
        with open(out_path, "w") as f:
            json.dump(payload, f, indent=1)
    # compact separators: ~2 chars/entry headroom under the line guard.
    # Shed order matters: the per-query dict is the driver's
    # cross-round comparison substrate and goes LAST — the raw
    # first-run dict (a builder-local statistic, also on stderr) sheds
    # before anything else, then the normalized block, detail then
    # whole.
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1800:
        del payload["queries_raw"]
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1800 and norm:
        # shed the per-name regression detail first (stderr has it)
        payload["normalized_vs_prev"] = {
            k: v for k, v in norm.items() if k != "regressed"
        }
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1800:
        # per-query times at 2 decimals: ~1 char per entry, keeps BOTH
        # the cross-round dict and the normalized summary on the line
        payload["queries"] = {n: round(t, 2) for n, t in times.items()}
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1800 and norm:
        payload["normalized_vs_prev"] = {
            k: norm[k]
            for k in ("prev", "cal_ratio", "median_norm_ratio",
                      "n_regressed", "cal_policy_mismatch")
            if k in norm
        }
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1800 and norm:
        del payload["normalized_vs_prev"]
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1800:
        # driver's bounded stdout-tail capture would truncate the line
        # (round-1 failure mode) — drop per-query detail rather than
        # emit an unparseable record; detail already went to stderr.
        # Applied UNCONDITIONALLY (round-2 advisor: the subset escape
        # hatch reintroduced the exact failure it was meant to prevent).
        payload["queries"] = {"_omitted_n": len(times)}
        line = json.dumps(payload, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
