"""Regenerate PLANS.md: formatted physical plans for the headline
queries at sf0.1 — the checkable evidence behind SCALE.md's claims
(pushdown, pruning, broadcast strategy, codegen coverage).

With --tag, capture optimization evidence instead: write the FULL
`.explain("formatted")` output of each named query (default: the bench
HEADLINE list) to DIR/<query>_<TAG>.txt, so before/after plan claims are
checkable without running Spark. Cores come from $SPARK_GRAFT_CPUS
(default 8), so the captured plans embed the partition counts of the
benchmarked config.

Usage:
    python3 tools/dump_plans.py
    python3 tools/dump_plans.py --tag before --out-dir plans/r11 [names...]
"""

from __future__ import annotations

import argparse
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SHOW = [
    "weather_enrich",
    "weather_city_stats",
    "tpch_q3_order_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q5_regional_revenue",
    "window_moving_avg_events",
    "events_user_sessions",
    "dedup_minhash_lsh",
    "embed_knn_bruteforce",
    "corpus_filter_pipeline",
    "text_repetition_metrics",
    "contamination_ngram_overlap",
    "corpus_sequence_pack",
    "tpch_q19_or_predicate_revenue",
    "tpch_q17_small_quantity_revenue",
    "tpch_q21_waiting_suppliers",
    "events_moment_stats",
    "events_pivot_daily_types",
    "events_daily_gapfill",
    "events_session_paths",
    "dedup_prefix_filter_jaccard",
    "join_session_overlap",
    "events_user_features",
    "orders_backlog_sweepline",
    "dedup_minhash_band_tuning",
    "events_periodogram",
    "events_survival_km",
    "events_bootstrap_ci",
    "part_skyline_frontier",
    "geo_zorder_cells",
    "events_rolling_median",
    "weather_pressure_tendency",
    "embed_semdedup_prune",
    "embed_pq_adc_search",
    "embed_ivfpq_search",
    "multimodal_phash_neardup",
    "multimodal_audio_segments",
    "dedup_band_tuning_sampled",
    "embed_signbucket_neardup",
    "corpus_dedup_funnel",
    "corpus_dsir_importance",
    "dedup_incremental_snapshot",
    "corpus_global_shuffle",
    "dedup_chunk_scrub",
    "corpus_decontaminate",
    "retrieval_rrf_fusion",
    # corpus_cluster_split deliberately absent: like dedup_clusters, its
    # un-executed label-propagation loop unrolls 20 rounds of lineage in
    # a cold dump (at runtime materialize(cut_lineage=True) truncates it)
    "embed_sq8_quantize",
    "dedup_duplicated_spans",
    "retrieval_hybrid_morelikethis",
    "corpus_gopher_rules",
    "weather_step_spike_qc",
    "embed_matryoshka_recall",
    # round-8 crawl bookends: the canonical-keyed window (the family's
    # only shuffle) and the composed zero-shuffle parser chain
    "corpus_url_canonicalize",
    "corpus_crawl_extract_stats",
    # round-8b training-objective op: windowing, id_mix hashing, and
    # sentinel assembly as ONE narrow in-row projection (zero shuffle)
    "corpus_span_corruption",
    # round-8b CDC dedup: in-row content-defined chunking feeding the
    # two 60-bit-id shuffles (frequency agg + join back)
    "dedup_cdc_chunks",
    # round-9 link graph: one Arrow extraction stage (pinned once) +
    # id-keyed degree shuffles; PageRank itself is excluded like the
    # other iterative loops (a cold dump unrolls 8 rounds of lineage
    # that materialize(cut_lineage=True) truncates at runtime)
    "corpus_link_graph",
    # round-9 fixed-point DSP: the packed-BIGINT resonator fold —
    # whole-stage codegen, zero Exchange, no Python boundary
    "multimodal_goertzel_tone",
    # round-9 tokenizer inference: trained merge table broadcast into
    # an in-row left-to-right fold
    "text_bpe_encode",
    # round-9b Viterbi tokenizer: vocab broadcast + per-word packed-
    # BIGINT DP fold (no shuffle beyond the word/piece hash-aggs)
    "text_unigram_viterbi",
    # round-9b crawl discovery: synthesized sitemap XML parsed in one
    # Arrow stage over a spread scan — zero shuffle
    "corpus_sitemap_xml",
    # round-9b fixed-point STFT: synthesis crosses a Generate boundary
    # as a value (the CollapseProject lesson), folds read the carried
    # array — zero shuffle beyond the doc agg
    "multimodal_spectrogram_flux",
    # round-9b exact rational resampler: same Generate-boundary shape
    "multimodal_audio_resample",
    # round-9b LZ77: one Arrow codec stage, zero shuffle
    "multimodal_lz77_roundtrip",
    # round-9b greedy/Viterbi segmenter pair on the shared trained
    # vocab: both folds on one cfw frame
    "text_wordpiece_greedy",
]


def capture(spark, sf_dir: str, names: list[str], tag: str, out_dir: str):
    from weather_bigdata_project_spark import registry
    from weather_bigdata_project_spark.plans import checks as C

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        plan = C.formatted_plan(registry.QUERIES[name](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", help="capture full plans as <query>_<TAG>.txt")
    ap.add_argument("--out-dir", default=os.path.join(_REPO, "plans"))
    ap.add_argument("--sf", help="data dir (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.names and not args.tag:
        ap.error("query names need --tag (PLANS.md always dumps SHOW)")

    from weather_bigdata_project_spark import registry
    from weather_bigdata_project_spark.plans import checks as C
    from weather_bigdata_project_spark.session import get_spark

    registry.load()
    # PLANS.md keeps its fixed 8-core layout; captures follow the bench env
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 8) if args.tag else 8
    spark = get_spark("plans", cpus=cpus)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args.sf:
        sf_dir = args.sf
    if args.tag:
        import bench

        capture(spark, sf_dir, args.names or list(bench.HEADLINE),
                args.tag, args.out_dir)
        spark.stop()
        return

    out = [
        "# PLANS — physical plans of the headline queries\n",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}` "
        "(before AQE runtime re-optimization; tests/test_plans.py asserts "
        "the structural properties).\n",
    ]
    for name in SHOW:
        plan = C.formatted_plan(registry.QUERIES[name](spark, sf_dir))
        # keep the operator tree + scan details, drop the verbose
        # per-operator footnotes
        tree = plan.split("\n\n")[0]
        scans = [
            ln.strip()
            for ln in plan.splitlines()
            if "PushedFilters:" in ln or "ReadSchema:" in ln
        ]
        out.append(f"\n## {name}\n\n```\n{tree}\n```\n")
        if scans:
            out.append("Scan details:\n\n```\n" + "\n".join(scans) + "\n```\n")
    with open(os.path.join(_REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
