#!/usr/bin/env python3
"""Generate INDEX.md — the one-page operator → query → spec → scale-point
map (VERDICT r11 ask #8). The operator inventory lives HERE as data; every
query name is validated against the query registry (the `QueryDef("…"`
declarations in src/main/scala/graft/queries/*.scala, which `SparkEntry.all`
concatenates; a name declared twice fails the generator), specs are
discovered by grepping the test sources for the operator's impl objects,
and scale points are pulled from BENCH_SCALE.json — so the page cannot
drift silently: a renamed query or deleted spec fails the generator.

Run: python3 tools/gen_index.py   (rewrites INDEX.md; exits non-zero on
any stale mapping)
"""
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (family, operator, impl file(s), [query names], [battery op names])
# Query names must be declared as a QueryDef. "sbt" in the query list
# marks operators whose correctness proof is a spec pin (the documented
# iterative-optimizer boundary), not a SQL oracle.
OPS = [
    # --- §2.1 sources / sinks ---
    ("2.1 sources/sinks", "series ingest (Forecaster init)", "core/SeriesFrame.scala",
     ["ts_build_monthly", "ts_build_star", "ts_build_brand_weekly", "mv_build_segments"], []),
    ("2.1 sources/sinks", "ingest_Xvars_df (join+dummies+pad)", "core/SeriesFrame.scala",
     ["ts_ingest_xvars"], []),
    ("2.1 sources/sinks", "add_series / export_Xvars_df", "core/SeriesFrame.scala", ["sbt"], []),
    ("2.1 sources/sinks", "missing-value strategies (9) + date spine", "operators/Imputer.scala",
     ["ts_impute"], []),
    ("2.1 sources/sinks", "export model_summaries/lvl_fcsts/test preds", "results/ResultsStore.scala",
     ["ts_model_summaries"], []),
    ("2.1 sources/sinks", "export_fitted_vals", "results/ResultsStore.scala", ["ts_export_fitted"], []),
    ("2.1 sources/sinks", "export_validation_grid", "eval/Evaluation.scala", ["ts_validation_grid"], []),
    ("2.1 sources/sinks", "pipeline persistence round-trip", "results/PipelineStore.scala", ["sbt"], []),
    ("2.1 sources/sinks", "freq inference + generic horizon", "core/SeriesFrame.scala",
     ["ts_weekly_naive"], []),
    # --- §2.2 row-range ops ---
    ("2.2 row-range", "chop/keep/restore/pop/round/order_fcsts (9 ops)",
     "core/SeriesFrame.scala", ["ts_history_ops", "ts_model_summaries"], []),
    # --- §2.3 feature generators ---
    ("2.3 features", "AR/seasonal lags, lagged xregs", "functions/FeatureOps.scala",
     ["ts_ar_terms"], []),
    ("2.3 features", "trend/seasonal (raw, Fourier, dummy), cycles, intervals",
     "functions/FeatureOps.scala", ["ts_calendar", "ts_ingest_xvars"], []),
    ("2.3 features", "poly/exp/log/power transforms + combos", "operators/Transforms.scala",
     ["ts_detrend_poly", "ts_yeojohnson"], []),
    ("2.3 features", "signals (model-output features)", "models/Stacking.scala", ["ts_signals"], []),
    # --- §2.4 reversible transforms ---
    ("2.4 transforms", "pointwise/scalers/train-only/diff/detrend/deseason",
     "operators/Transforms.scala",
     ["ts_pointwise", "ts_scalers", "ts_train_only", "ts_diff", "ts_detrend", "ts_deseason"], []),
    ("2.4 transforms", "decompose + STL (closed-form LOWESS replay)", "operators/Transforms.scala",
     ["ts_decompose", "ts_stl"], []),
    ("2.4 transforms", "find stat/opt transformation", "operators/Transforms.scala",
     ["ts_stat_transform", "ts_opt_transform"], []),
    # --- §2.5 estimators ---
    ("2.5 estimators", "sklearn linear/tree family + closed-form OLS/ridge routing",
     "models/Estimators.scala models/OlsModel.scala models/Knn.scala",
     ["ts_ar1_mlr", "ts_trend_seasonal"], []),
    ("2.5 estimators", "svr / mlp (deterministic fits)", "models/Svr.scala models/MlpNet.scala",
     ["sbt"], ["svr_by_series", "mlp_by_series"]),
    ("2.5 estimators", "rnn / lstm (BPTT vs finite differences)", "models/RnnNet.scala",
     ["sbt"], ["rnn_by_series"]),
    ("2.5 estimators", "recursive dynamic predict (one walk, one wavefront) + dynamic_testing=k + SQL surface",
     "models/Recursive.scala functions/ForecastGenerator.scala",
     ["ts_ar3_dynamic", "ts_mlr_dynk4", "ts_seg_dynamic", "ts_sql_forecast"], []),
    ("2.5 estimators", "arima (HR ARMA/SARMA) + auto_arima",
     "models/Arima.scala eval/AutoSelect.scala", ["ts_arma", "ts_sarma", "ts_auto_arima"], []),
    ("2.5 estimators", "hwes/SES + grid", "models/Smoothing.scala",
     ["ts_ses", "ts_holtwinters", "ts_hw_opt"], []),
    ("2.5 estimators", "naive / seasonal naive / combo", "models/Baselines.scala",
     ["ts_naive", "ts_weekly_naive", "ts_combo"], []),
    ("2.5 estimators", "prophet_like (changepoint hinges)", "models/ProphetLike.scala",
     ["ts_prophet_like", "ts_prophet_cp"], []),
    ("2.5 estimators", "theta", "models/Theta.scala", ["ts_theta"], []),
    ("2.5 estimators", "tbats_like + ARMA error correction", "models/TbatsLike.scala",
     ["ts_tbats_like", "ts_tbats_arma"], []),
    ("2.5 estimators", "vecm + Johansen", "models/Vecm.scala", ["mv_vecm", "mv_coint_rank"], []),
    ("2.5 estimators", "SKLearnMV: coupled cross-lag OLS, or BlockedVar + ANN screen",
     "models/MvForecast.scala models/BlockedVar.scala",
     ["mv_xlags", "mv_dynamic", "mv_blocked_var", "mv_blocked_dynamic", "mv_screen_approx",
      "mv_star_fit"], ["blockedvar_screen_fit"]),
    ("2.5 estimators", "mlp_stack / synthesize_models", "models/Stacking.scala",
     ["ts_synthesize"], []),
    ("2.5 estimators", "transfer_predict / transfer_cis", "Forecaster.scala", ["ts_transfer"], []),
    # --- §2.6 metrics ---
    ("2.6 metrics", "registry metrics (10) + MASE/MSIS M4 denominators",
     "functions/Metrics.scala", ["ts_metrics", "ts_mase_msis"], []),
    # --- §2.7 validation / tuning ---
    ("2.7 validation", "manual/auto forecast, test, tune/CV, grids",
     "eval/Evaluation.scala eval/Grids.scala",
     ["ts_cv_rolling", "ts_validation_grid", "ts_hw_opt"], []),
    ("2.7 validation", "conformal CIs (+ by-series, per-step dynamic)",
     "operators/Conformal.scala",
     ["ts_conformal", "ts_conformal_by_series", "ts_dynamic_ci", "ts_dynamic_ci_by_series"],
     ["conformal_by_series"]),
    ("2.7 validation", "backtest + backtest_metrics", "eval/Evaluation.scala",
     ["ts_backtest", "ts_backtest_metrics", "mv_backtest"], []),
    # --- §2.8 search meta-operators ---
    ("2.8 search", "auto_Xvar_select (+ by-series fused scorer)",
     "eval/AutoSelect.scala models/GroupedOls.scala",
     ["ts_auto_xvar", "ts_auto_xvar_by_series"], ["auto_xvar_by_series"]),
    ("2.8 search", "reduce_Xvars + feature importance", "eval/AutoSelect.scala",
     ["ts_reduce_xvars", "ts_feature_imp"], []),
    ("2.8 search", "best series length / seasonal length (+ by-series)",
     "eval/AutoSelect.scala",
     ["ts_best_length", "ts_seasonal_length", "ts_seasonal_length_by_series"],
     ["seasonal_length_by_series"]),
    ("2.8 search", "find stat/opt transformation by-series", "eval/AutoSelect.scala",
     ["ts_opt_transform_by_series"], []),
    ("2.8 search", "optimal lag order / coint rank", "eval/AutoSelect.scala",
     ["mv_var_order", "mv_coint_rank"], []),
    ("2.8 search", "infer/apply Xvar selection replay", "eval/AutoSelect.scala",
     ["ts_xvar_replay"], []),
    ("2.8 search", "grouped OLS fit-by-series", "models/GroupedOls.scala",
     ["ts_auto_xvar_by_series"], ["fit_by_series"]),
    # --- §2.9 diagnostics ---
    ("2.9 diagnostics", "ADF / normality / ACF / PACF / periodogram",
     "functions/Diagnostics.scala",
     ["ts_adf", "ts_normality", "ts_acf", "ts_pacf", "ts_periodogram"], []),
    ("2.9 diagnostics", "corr / corr_lags", "MvForecaster.scala", ["mv_corr", "mv_corr_lags"], []),
    # --- LLM-pipeline: dedup tier ---
    ("LLM dedup", "exact dedup (digest groupBy)", "operators/Dedup.scala",
     ["doc_dedup_exact"], ["dedup_exact"]),
    ("LLM dedup", "n-gram Jaccard pairs (df-capped inverted index)", "operators/Dedup.scala",
     ["doc_jaccard_pairs", "doc_pipeline"], ["jaccard_pairs"]),
    ("LLM dedup", "MinHash-LSH (auto geometry + Bloom-pruned join-backs)",
     "operators/Dedup.scala", ["doc_minhash_lsh"], ["minhash_lsh", "minhash_lsh_r8"]),
    ("LLM dedup", "SimHash + 64-bit Hamming banding", "operators/Dedup.scala",
     ["doc_simhash", "doc_simhash_pairs"], []),
    ("LLM dedup", "winnowing fingerprints (60-bit gram digest) + MOSS pairs",
     "functions/WinnowSelect.scala operators/Dedup.scala",
     ["doc_fingerprints", "doc_fingerprint_pairs"],
     ["fingerprint_pairs", "fingerprint_pairs_w12"]),
    ("LLM dedup", "duplicated-span detect / strip", "operators/Dedup.scala",
     ["doc_dup_spans", "doc_strip_spans"], ["dup_spans", "strip_spans"]),
    ("LLM dedup", "cluster dedup via distributed CC", "operators/Graph.scala",
     ["doc_dedup_clusters"], ["cc_clusters", "cc_clusters_lsh"]),
    ("LLM dedup", "incremental batch-vs-reference dedup", "operators/Dedup.scala",
     ["doc_dedup_incremental"], []),
    ("LLM dedup", "streaming dedup + curation ledger", "streaming/",
     ["events_dedup_stream", "doc_stream_curate"], []),
    # --- LLM-pipeline: similarity / ANN ---
    ("LLM ANN", "cosine near-dup (hyperplane LSH, native dot)",
     "operators/Similarity.scala functions/DotProduct.scala", ["doc_neardup_cosine"], []),
    ("LLM ANN", "kNN: brute / IVF / PQ / IVF-PQ / LSH",
     "operators/Similarity.scala",
     ["emb_knn", "emb_knn_ivf", "emb_knn_pq", "emb_knn_ivfpq", "emb_knn_lsh",
      "emb_lsh_buckets"], []),
    ("LLM ANN", "SemDeDup centroid prune", "operators/Similarity.scala",
     ["emb_semdedup", "emb_centroids", "emb_norms"], []),
    ("LLM ANN", "cross-corpus embedding decontamination", "operators/Similarity.scala",
     ["doc_cross_decontaminate"], []),
    # --- LLM-pipeline: decontamination / quality / text ---
    ("LLM text", "n-gram decontamination (+ self-sizing Bloom tier)",
     "operators/Decontaminate.scala",
     ["doc_decontaminate", "doc_decontaminate_bloom"], ["decontam_exact", "decontam_bloom"]),
    ("LLM text", "quality gates (Gopher/C4), language id, stats, quantiles",
     "operators/Quality.scala",
     ["doc_gopher_repetition", "doc_langid", "doc_text_stats", "doc_quality_quantiles",
      "doc_corpus_summary"], []),
    ("LLM text", "PII detect/redact (codegen regex)", "operators/Pii.scala",
     ["doc_pii_redact"], []),
    ("LLM text", "token counts, TF-IDF, BM25, bigram perplexity", "functions/TextOps.scala",
     ["doc_token_counts", "doc_tfidf_top_terms", "doc_bm25", "doc_perplexity"], []),
    ("LLM text", "Kneser-Ney n-gram LM perplexity (n=2..5, train/score split)",
     "functions/TextOps.scala",
     ["doc_kn_perplexity", "doc_kn_perplexity_heldout"], ["kn_perplexity"]),
    ("LLM text", "NB quality classifier (hashed n-gram features, train/score split)",
     "operators/Quality.scala",
     ["doc_quality_classifier"], ["nb_classifier"]),
    ("LLM text", "BPE vocabulary training (iterative top-pair merges)",
     "operators/Bpe.scala",
     ["doc_bpe_vocab"], ["bpe_vocab"]),
    ("LLM text", "hash / stratified / temperature / token-budget sampling",
     "operators/Sampling.scala",
     ["doc_sample_hash", "doc_mixture_temp", "doc_token_budget", "doc_token_budget_sample"], []),
    ("LLM text", "sequence packing", "operators/Packing.scala", ["doc_pack_chunks"], []),
    ("LLM text", "curation chain + lineage audit + span leakage/profile", "Corpus.scala",
     ["doc_curation_chain", "doc_curation_audit", "doc_span_leakage", "doc_span_profile"], []),
    # --- LLM-pipeline: multimodal ---
    ("LLM multimodal", "header decode (PNG/JPEG/GIF/WAV/MP4) + plumbing",
     "operators/Multimodal.scala", ["doc_multimodal", "doc_multimodal_real"], []),
    ("LLM multimodal", "pixel image dHash + banded Hamming pairs",
     "operators/Multimodal.scala", ["doc_image_phash", "doc_image_phash_pairs"], []),
    ("LLM multimodal", "PCM audio features + envelope fingerprint pairs",
     "operators/Multimodal.scala", ["doc_audio_features", "doc_audio_fp_pairs"], []),
    ("LLM multimodal", "video keyframe tier (stss/stsz/stsc/stco walk + kf dHash)",
     "operators/Multimodal.scala", ["doc_video_keyframes", "doc_video_kf_pairs"], []),
    ("2.1 sources/sinks", "SQL surface + star-schema rollups", "sources/ functions/",
     ["ts_sql_surface", "sales_region_share", "sales_inactive_suppliers",
      "doc_source_rollup"], []),
    ("2.7 validation", "hierarchical reconciliation (bottom-up / top-down)",
     "operators/Hierarchy.scala", ["ts_reconcile"], []),
    ("2.8 search", "stat-recipe search by-series", "eval/AutoSelect.scala",
     ["ts_stat_recipes_by_series"], []),
    # --- LLM-pipeline: events tier ---
    ("LLM events", "sessionize / funnel / retention / top-k / sketches",
     "Events.scala functions/KmvSketch.scala functions/TopK.scala",
     ["events_sessionize", "events_funnel", "events_retention", "events_topk_users",
      "events_kmv_users", "events_value_sketch", "events_hourly", "events_props_agg",
      "events_session_window"], ["sessionize", "funnel", "retention", "topk_users", "kmv_distinct_users", "hourly"]),
    ("LLM events", "as-of / interval joins", "operators/AsOf.scala operators/IntervalJoin.scala",
     ["events_asof_view", "events_interval_join"], []),
    ("LLM events", "anomaly / level shift / top paths", "Events.scala",
     ["events_anomaly", "events_level_shift", "events_top_paths"], ["top_paths"]),
    ("LLM events", "streaming joins + windowed aggs + forecast bridge",
     "streaming/", ["events_hourly_stream", "events_stream_join", "events_stream_enrich",
                    "events_sessionize_stream", "events_kmv_stream", "ts_stream_forecast",
                    "events_forecast"], []),
]


def scala(path):
    return open(os.path.join(ROOT, path)).read()


def declared_queries():
    """Names of every QueryDef in the registry's family files; a name
    declared twice is an error (SparkEntry.all would refuse it too)."""
    qdir = os.path.join(ROOT, "src/main/scala/graft/queries")
    names = []
    for f in sorted(os.listdir(qdir)):
        if f.endswith(".scala"):
            names += re.findall(r'QueryDef\("([a-z0-9_]+)"', scala(os.path.join(qdir, f)))
    dups = sorted({n for n in names if names.count(n) > 1})
    if dups:
        sys.exit("duplicate query names: " + ", ".join(dups))
    return set(names)


def main():
    queries = declared_queries()
    bench = json.load(open(os.path.join(ROOT, "BENCH_SCALE.json")))
    series_pts = bench.get("points", [])
    corpus_pts = bench.get("corpus_points", [])
    event_pts = bench.get("event_points", [])

    specdir = os.path.join(ROOT, "src/test/scala/graft")
    specs = {f: open(os.path.join(specdir, f)).read()
             for f in sorted(os.listdir(specdir)) if f.endswith(".scala")}

    def spec_hits(impls, qnames):
        toks = set()
        for impl in impls.split():
            base = os.path.basename(impl).replace(".scala", "")
            if base:
                toks.add(base)
        hits = []
        for f, body in specs.items():
            if any(re.search(r"\b%s\b" % re.escape(t), body) for t in toks) or \
               any(q in body for q in qnames if q != "sbt"):
                hits.append(f.replace("Spec.scala", ""))
        return hits

    def scale_cell(ops):
        cells = []
        for op in ops:
            for pts, key in ((series_pts, "n_series"), (corpus_pts, "n_docs"),
                             (event_pts, "n_events")):
                have = [(p[key], p["ops"][op]) for p in pts if op in p.get("ops", {})]
                if have:
                    n, sec = max(have)
                    cells.append(f"{op} @{n:.0e}: {sec:.0f}s")
        return "; ".join(cells)

    errors = []
    lines = [
        "# INDEX — operator → query → spec → scale point",
        "",
        "GENERATED by `tools/gen_index.py` — do not edit by hand. Every query",
        "name is validated against the query registry, `SparkEntry.all`: one",
        "`QueryDef(name, build, oracle)` per query in its family file under",
        "`src/main/scala/graft/queries/` (the generator fails on a stale row",
        "or a duplicate name). Every query carries its DuckDB SQL oracle (the",
        "dual-SF hash gate); `sbt` marks the documented iterative-optimizer",
        "boundary where correctness is a ScalaTest parity pin instead. Scale",
        "cells quote the LARGEST measured battery point per op from",
        "`BENCH_SCALE.json`.",
        "",
        "| family | operator | impl | queries | specs | largest scale point |",
        "|---|---|---|---|---|---|",
    ]
    for fam, op, impl, qs, bops in OPS:
        qcells = []
        for q in qs:
            if q == "sbt":
                qcells.append("sbt-pinned")
                continue
            if q not in queries:
                errors.append(f"{op}: query '{q}' is not a declared QueryDef")
                continue
            qcells.append(q)
        hits = spec_hits(impl, qs)
        lines.append("| %s | %s | `%s` | %s | %s | %s |" % (
            fam, op, impl, ", ".join(qcells),
            ", ".join(hits[:6]) + ("…" if len(hits) > 6 else ""),
            scale_cell(bops)))

    mapped = {q for _, _, _, qs, _ in OPS for q in qs if q != "sbt"}
    unmapped = sorted(queries - mapped)
    lines += ["", f"Queries declared: {len(queries)}; mapped above: "
              f"{len(mapped & queries)}; not yet mapped to a row: "
              f"{len(unmapped)}."]
    if unmapped:
        lines += ["", "Unmapped queries (covered by SURVEY §2 prose): " +
                  ", ".join(unmapped)]

    if errors:
        for e in errors:
            print("STALE:", e, file=sys.stderr)
        sys.exit(1)
    open(os.path.join(ROOT, "INDEX.md"), "w").write("\n".join(lines) + "\n")
    print(f"INDEX.md: {len(OPS)} rows, {len(queries)} queries, "
          f"{len(unmapped)} unmapped")


if __name__ == "__main__":
    main()
