package graft

import graft.core.{SeriesFrame, Tables}
import graft.Events
import graft.core.SeriesFrame._
import graft.functions.{FeatureOps, Metrics, TextOps}
import graft.models.Baselines
import graft.operators.{Conformal, Decontaminate, Dedup, Multimodal, Quality, Sampling, Similarity, Transforms}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query has a matching DuckDB oracle in [[oracleSql]]. Floating-point
  * discipline (so hashes match across engines): the base series rounds its
  * SUM to cents (bit-identical inputs both sides), per-row ops are IEEE-exact,
  * and any cross-row aggregate output is rounded on BOTH sides at a precision
  * where engine summation-order noise can't straddle a rounding boundary.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: monthly revenue series → test split →
    * trend+seasonal OLS → 12-step horizon forecast → conformal 95% CIs. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val base = withTestFlag(withMonthlyHorizon(ordersMonthly(spark, dir), 12), 12)
    Conformal.withIntervals(Baselines.trendSeasonal(base))
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_build_monthly"   -> ((s, d) => SeriesFrame.ordersMonthly(s, d)),
    "mv_build_segments"  -> ((s, d) => SeriesFrame.segmentMonthly(s, d).orderBy(SeriesId, Ds)),
    "ts_build_star"      -> ((s, d) => SeriesFrame.nationMonthly(s, d).orderBy(SeriesId, Ds)),
    "mv_star_fit"        -> ((s, d) => qMvStarFit(s, d)),
    "ts_reconcile"       -> ((s, d) => qReconcile(s, d)),
    "ts_build_brand_weekly" -> ((s, d) => qBuildBrandWeekly(s, d)),
    "sales_inactive_suppliers" -> ((s, d) => qInactiveSuppliers(s, d)),
    "sales_region_share" -> ((s, d) => qRegionShare(s, d)),
    "events_kmv_users"   -> ((s, d) => qEventsKmvUsers(s, d)),
    "doc_source_rollup"  -> ((s, d) => qDocSourceRollup(s, d)),
    "emb_centroids"      -> ((s, d) => qEmbCentroids(s, d)),
    "emb_semdedup"       -> ((s, d) => qEmbSemdedup(s, d)),
    "events_stream_join" -> ((s, d) => qEventsStreamJoin(s, d)),
    "events_kmv_stream"  -> ((s, d) => qEventsKmvStream(s, d)),
    "events_value_sketch" -> ((s, d) => qEventsValueSketch(s, d)),
    "events_session_window" -> ((s, d) => qSessionWindow(s, d)),
    "events_stream_enrich" -> ((s, d) => qEventsStreamEnrich(s, d)),
    "events_anomaly"     -> ((s, d) => qEventsAnomaly(s, d)),
    "events_level_shift" -> ((s, d) => qEventsLevelShift(s, d)),
    "ts_ar_terms"        -> ((s, d) => qArTerms(s, d)),
    "ts_calendar"        -> ((s, d) => qCalendar(s, d)),
    "ts_naive"           -> ((s, d) => qNaive(s, d)),
    "ts_metrics"         -> ((s, d) => qMetrics(s, d)),
    "ts_scalers"         -> ((s, d) => qScalers(s, d)),
    "ts_pointwise"       -> ((s, d) => qPointwise(s, d)),
    "ts_diff"            -> ((s, d) => qDiff(s, d)),
    "ts_detrend"         -> ((s, d) => qDetrend(s, d)),
    "ts_deseason"        -> ((s, d) => qDeseason(s, d)),
    "ts_trend_seasonal"  -> ((s, d) => qTrendSeasonal(s, d)),
    "ts_conformal"       -> ((s, d) => qConformal(s, d)),
    "ts_conformal_by_series" -> ((s, d) => qConformalBySeries(s, d)),
    "mv_corr"            -> ((s, d) => qMvCorr(s, d)),
    "mv_coint_rank"      -> ((s, d) => qMvCointRank(s, d)),
    "mv_vecm"            -> ((s, d) => qMvVecm(s, d)),
    "events_sessionize"  -> ((s, d) => qSessionize(s, d)),
    "events_top_paths"   -> ((s, d) => qTopPaths(s, d)),
    "events_hourly"      -> ((s, d) => qEventsHourly(s, d)),
    "events_hourly_stream" -> ((s, d) => qEventsHourlyStream(s, d)),
    "events_sessionize_stream" -> ((s, d) => qSessionizeStream(s, d)),
    "events_dedup_stream" -> ((s, d) => qDedupStream(s, d)),
    "doc_stream_curate"  -> ((s, d) => qDocStreamCurate(s, d)),
    "doc_text_stats"     -> ((s, d) => qTextStats(s, d)),
    "doc_langid"         -> ((s, d) => qLangId(s, d)),
    "doc_dedup_exact"    -> ((s, d) => qDedupExact(s, d)),
    "doc_jaccard_pairs"  -> ((s, d) => qJaccardPairs(s, d)),
    "doc_dedup_clusters" -> ((s, d) => qDedupClusters(s, d)),
    "doc_dup_spans"      -> ((s, d) => qDupSpans(s, d)),
    "doc_strip_spans"    -> ((s, d) => qStripSpans(s, d)),
    "doc_span_profile"   -> ((s, d) => qSpanProfile(s, d)),
    "doc_span_leakage"   -> ((s, d) => qSpanLeakage(s, d)),
    "doc_dedup_incremental" -> ((s, d) => qDedupIncremental(s, d)),
    "doc_minhash_lsh"    -> ((s, d) => qMinhashLsh(s, d)),
    "doc_simhash"        -> ((s, d) => qSimhash(s, d)),
    "doc_simhash_pairs"  -> ((s, d) => qSimhashPairs(s, d)),
    "doc_multimodal"     -> ((s, d) => qMultimodal(s, d)),
    "doc_multimodal_real" -> ((s, d) => qMultimodalReal(s, d)),
    "doc_image_phash"    -> ((s, d) => qImagePhash(s, d)),
    "doc_image_phash_pairs" -> ((s, d) => qImagePhashPairs(s, d)),
    "doc_audio_features" -> ((s, d) => qAudioFeatures(s, d)),
    "doc_audio_fp_pairs" -> ((s, d) => qAudioFpPairs(s, d)),
    "doc_video_keyframes" -> ((s, d) => qVideoKeyframes(s, d)),
    "doc_video_kf_pairs" -> ((s, d) => qVideoKfPairs(s, d)),
    "emb_knn"            -> ((s, d) => qEmbKnn(s, d)),
    "emb_knn_lsh"        -> ((s, d) => qEmbKnnLsh(s, d)),
    "emb_lsh_buckets"    -> ((s, d) => qEmbLshBuckets(s, d)),
    "ts_ar1_mlr"         -> ((s, d) => qAr1Mlr(s, d)),
    "ts_ses"             -> ((s, d) => qSes(s, d)),
    "ts_impute"          -> ((s, d) => qImpute(s, d)),
    "ts_cv_rolling"      -> ((s, d) => qCvRolling(s, d)),
    "ts_backtest"        -> ((s, d) => qBacktest(s, d)),
    "ts_mase_msis"       -> ((s, d) => qMaseMsis(s, d)),
    "ts_holtwinters"     -> ((s, d) => qHoltWinters(s, d)),
    "ts_ar3_dynamic"     -> ((s, d) => qAr3Dynamic(s, d)),
    "ts_mlr_dynk4"       -> ((s, d) => qMlrDynK4(s, d)),
    "ts_weekly_naive"    -> ((s, d) => qWeeklyNaive(s, d)),
    "ts_detrend_poly"    -> ((s, d) => qDetrendPoly(s, d)),
    "ts_theta"           -> ((s, d) => qTheta(s, d)),
    "ts_dynamic_ci"      -> ((s, d) => qDynamicCi(s, d)),
    "ts_dynamic_ci_by_series" -> ((s, d) => qDynamicCiBySeries(s, d)),
    "ts_stream_forecast" -> ((s, d) => qStreamForecast(s, d)),
    "ts_history_ops"     -> ((s, d) => qHistoryOps(s, d)),
    "ts_yeojohnson"      -> ((s, d) => qYeoJohnson(s, d)),
    "ts_acf"             -> ((s, d) => qAcf(s, d)),
    "ts_model_summaries" -> ((s, d) => qModelSummaries(s, d)),
    "ts_synthesize"      -> ((s, d) => qSynthesize(s, d)),
    "mv_xlags"           -> ((s, d) => qMvXlags(s, d)),
    "doc_pipeline"       -> ((s, d) => qDocPipeline(s, d)),
    "events_forecast"    -> ((s, d) => qEventsForecast(s, d)),
    "ts_arma"            -> ((s, d) => qArma(s, d)),
    "emb_norms"          -> ((s, d) => qEmbNorms(s, d)),
    "doc_neardup_cosine" -> ((s, d) => qDocNearDupCosine(s, d)),
    "ts_prophet_like"    -> ((s, d) => qProphetLike(s, d)),
    "ts_prophet_cp"      -> ((s, d) => qProphetCp(s, d)),
    "ts_tbats_arma"      -> ((s, d) => qTbatsArma(s, d)),
    "ts_sql_surface"     -> ((s, d) => qSqlSurface(s, d)),
    "ts_sql_forecast"    -> ((s, d) => qSqlForecast(s, d)),
    "ts_backtest_metrics" -> ((s, d) => qBacktestMetrics(s, d)),
    "ts_hw_opt"          -> ((s, d) => qHwOpt(s, d)),
    "mv_dynamic"         -> ((s, d) => qMvDynamic(s, d)),
    "mv_backtest"        -> ((s, d) => qMvBacktest(s, d)),
    "ts_seg_dynamic"     -> ((s, d) => qSegDynamic(s, d)),
    "ts_validation_grid" -> ((s, d) => qValidationGrid(s, d)),
    "ts_adf"             -> ((s, d) => qAdf(s, d)),
    "ts_normality"       -> ((s, d) => qNormality(s, d)),
    "ts_pacf"            -> ((s, d) => qPacf(s, d)),
    "ts_combo"           -> ((s, d) => qCombo(s, d)),
    "mv_corr_lags"       -> ((s, d) => qMvCorrLags(s, d)),
    "ts_train_only"      -> ((s, d) => qTrainOnly(s, d)),
    "ts_ingest_xvars"    -> ((s, d) => qIngestXvars(s, d)),
    "ts_export_fitted"   -> ((s, d) => qExportFitted(s, d)),
    "doc_token_counts"   -> ((s, d) => qDocTokenCounts(s, d)),
    "emb_knn_ivf"        -> ((s, d) => qEmbKnnIvf(s, d)),
    "emb_knn_pq"         -> ((s, d) => qEmbKnnPq(s, d)),
    "emb_knn_ivfpq"      -> ((s, d) => qEmbKnnIvfPq(s, d)),
    "ts_stat_transform"  -> ((s, d) => qStatTransform(s, d)),
    "ts_best_length"     -> ((s, d) => qBestLength(s, d)),
    "ts_auto_arima"      -> ((s, d) => qAutoArma(s, d)),
    "ts_transfer"        -> ((s, d) => qTransfer(s, d)),
    "ts_signals"         -> ((s, d) => qSignals(s, d)),
    "ts_reduce_xvars"    -> ((s, d) => qReduceXvars(s, d)),
    "ts_sarma"           -> ((s, d) => qSarma(s, d)),
    "ts_periodogram"     -> ((s, d) => qPeriodogram(s, d)),
    "ts_seasonal_length" -> ((s, d) => qSeasonalLength(s, d)),
    "ts_feature_imp"     -> ((s, d) => qFeatureImportance(s, d)),
    "mv_var_order"       -> ((s, d) => qMvVarOrder(s, d)),
    "ts_auto_xvar"       -> ((s, d) => qAutoXvar(s, d)),
    "ts_opt_transform"   -> ((s, d) => qOptTransform(s, d)),
    "ts_decompose"       -> ((s, d) => qDecompose(s, d)),
    "ts_stl"             -> ((s, d) => qStl(s, d)),
    "ts_seasonal_length_by_series" -> ((s, d) => qSeasonalLengthBySeries(s, d)),
    "ts_stat_recipes_by_series"    -> ((s, d) => qStatRecipesBySeries(s, d)),
    "ts_xvar_replay"     -> ((s, d) => qXvarReplay(s, d)),
    "ts_tbats_like"      -> ((s, d) => qTbatsLike(s, d)),
    "doc_gopher_repetition" -> ((s, d) => qGopherRepetition(s, d)),
    "doc_decontaminate"  -> ((s, d) => qDecontaminate(s, d)),
    "doc_decontaminate_bloom" -> ((s, d) => qDecontaminateBloom(s, d)),
    "doc_sample_hash"    -> ((s, d) => qSampleHash(s, d)),
    "doc_mixture_temp"   -> ((s, d) => qMixtureTemp(s, d)),
    "doc_token_budget"   -> ((s, d) => qTokenBudgetPlan(s, d)),
    "doc_token_budget_sample" -> ((s, d) => qTokenBudgetSample(s, d)),
    "doc_corpus_summary" -> ((s, d) =>
      graft.Corpus(Tables.documents(s, d)).summary),
    "doc_curation_chain" -> ((s, d) => qCurationChain(s, d)),
    "doc_curation_audit" -> ((s, d) => qCurationAudit(s, d)),
    "events_topk_users"  -> ((s, d) => qEventsTopkUsers(s, d)),
    "events_funnel"      -> ((s, d) => qEventsFunnel(s, d)),
    "events_retention"   -> ((s, d) => qEventsRetention(s, d)),
    "events_props_agg"   -> ((s, d) => qEventsPropsAgg(s, d)),
    "events_asof_view"   -> ((s, d) => qEventsAsofView(s, d)),
    "events_interval_join" -> ((s, d) => qEventsIntervalJoin(s, d)),
    "doc_quality_quantiles" -> ((s, d) => qQualityQuantiles(s, d)),
    "doc_pack_chunks"    -> ((s, d) => qPackChunks(s, d)),
    "doc_pii_redact"     -> ((s, d) => qPiiRedact(s, d)),
    "doc_cross_decontaminate" -> ((s, d) => qCrossDecontaminate(s, d)),
    "doc_tfidf_top_terms" -> ((s, d) => qTfidfTopTerms(s, d)),
    "doc_bm25"           -> ((s, d) => qBm25(s, d)),
    "doc_fingerprints"   -> ((s, d) => qFingerprints(s, d)),
    "doc_perplexity"     -> ((s, d) => qPerplexity(s, d)),
    "doc_kn_perplexity"  -> ((s, d) => qKnPerplexity(s, d)),
    "doc_kn_perplexity_heldout" -> ((s, d) => qKnPerplexityHeldout(s, d)),
    "doc_quality_classifier" -> ((s, d) => qQualityClassifier(s, d)),
    "doc_bpe_vocab"      -> ((s, d) => qBpeVocab(s, d)),
    "doc_fingerprint_pairs" -> ((s, d) => qFingerprintPairs(s, d)),
    "mv_blocked_var"     -> ((s, d) => qBlockedVar(s, d)),
    "mv_screen_approx"   -> ((s, d) => qScreenApprox(s, d)),
    "mv_blocked_dynamic" -> ((s, d) => qBlockedDynamic(s, d)),
    "ts_opt_transform_by_series" -> ((s, d) => qOptTransformBySeries(s, d)),
    "ts_auto_xvar_by_series"     -> ((s, d) => qAutoXvarBySeries(s, d))
  )

  /** Per-vector L2 norms + dimension count (vector hygiene checks that run
    * before any ANN stage). */
  private def qEmbNorms(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("vid").as("vec_id"), size(col("v")).cast("long").as("dim"),
        round(col("nrm"), 6).as("norm"))

  /** ARMA(1,1) via Hannan–Rissanen on the z-scored series; the oracle
    * replays both OLS stages through [[OracleGen]]'s unrolled Cholesky. */
  private def qArma(s: SparkSession, d: String): DataFrame = {
    val base = withMonthlyHorizon(zOrdersMonthly(s, d), 12)
    val fit = graft.models.Arima.fitArma(base, 1, 1)
    graft.models.Arima.forecast(fit)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(when(isnan(col("yhat")), lit(null)).otherwise(col("yhat")), 6).as("yhat"),
        col(IsFuture))
  }

  /** End-to-end training-data pipeline: quality-filter → near-dup removal
    * (drop the higher doc_id of each jaccard≥0.8 pair) → fingerprint. */
  private def qDocPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val stats = TextOps.withTextStats(docs)
    val dupIds = jaccardM(s, d)
      .select(col("doc_b").as("doc_id")).distinct()
    stats.filter(col("quality") >= 0.7)
      .join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), round(col("quality"), 6).as("quality"),
        TextOps.fingerprint64(col("text")).as("fingerprint"))
  }

  /** Events → series bridge: hourly event counts on a dense hour spine,
    * seasonal-naive (m=24h) fitted values + a 24-hour tiled forecast. */
  private def qEventsForecast(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(expr("ts div 3600000000000").as("hr")) // epoch hours
      .agg(count(lit(1)).as("n"))
    val bounds = counts.agg(min("hr").as("h0"), max("hr").as("h1"))
    val spine = bounds.select(explode(expr("sequence(h0, h1)")).as("hr"))
    val dense = spine.join(counts, Seq("hr"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    // seasonal-naive fitted values via a self-join on the hour key (the spine
    // is dense, so hr−24 is exact) — shuffle-partitioned by hr, no global
    // single-partition window.
    val fitted = dense.join(
        dense.select((col("hr") + 24).as("hr"), col("n").as("yhat")),
        Seq("hr"), "left")
      .withColumn("is_future", lit(false))
    val lastCycle = dense.join(bounds).filter(col("hr") > col("h1") - 24)
      .select((col("hr") + 24).as("hr"), col("n").as("yhat"))
    val fut = lastCycle
      .withColumn("n", lit(null).cast("long"))
      .withColumn("is_future", lit(true))
      .select("hr", "n", "yhat", "is_future")
    fitted.select("hr", "n", "yhat", "is_future").unionByName(fut)
      .withColumn("hour_ms", col("hr") * 3600000L).drop("hr")
  }

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Cross-series lag matrix over the segment series (the SKLearnMV feature
    * build, models.py:213-337). */
  private def qMvXlags(s: SparkSession, d: String): DataFrame =
    graft.models.MvForecast.addCrossSeriesLags(segmentMonthlyM(s, d), Segments, 1)
      .select((Seq(col(SeriesId), col(Ds), col(Y)) ++
        Segments.map(sid => col(s"xlag_${sid}_1"))): _*)

  // ------------------------------------------- results-store & diagnostics

  /** Bank naive / snaive / trend+seasonal on the z-scored series (test=12)
    * into the long results store and emit per-model summaries. */
  private def bankedResults(s: SparkSession, d: String): DataFrame = {
    import graft.results.ResultsStore
    val base = withTestFlag(zOrdersMonthly(s, d), 12)
    ResultsStore.union(
      ResultsStore.bank(Baselines.naiveFitted(base, 1), "naive"),
      ResultsStore.bank(Baselines.naiveFitted(base, 12), "snaive"),
      ResultsStore.bank(Baselines.trendSeasonal(base), "trend_seasonal"))
  }

  private def qModelSummaries(s: SparkSession, d: String): DataFrame = {
    val sm = graft.results.ResultsStore.modelSummaries(bankedResults(s, d))
    val metricCols = sm.columns.filter(c => c.startsWith("test_") || c.startsWith("insample_"))
      .filterNot(c => c.endsWith("_n"))
    metricCols.foldLeft(sm)((f, c) => f.withColumn(c, round(col(c), 6)))
      .select(col("model"), col(SeriesId), col("insample_rmse"), col("insample_mae"),
        col("insample_smape"), col("insample_r2"), col("insample_n"),
        col("test_rmse"), col("test_mae"), col("test_smape"), col("test_r2"), col("test_n"))
  }

  private def qSynthesize(s: SparkSession, d: String): DataFrame = {
    import graft.results.ResultsStore
    val base = withTestFlag(withMonthlyHorizon(zOrdersMonthly(s, d), 12), 12)
    val results = ResultsStore.union(
      ResultsStore.bank(Baselines.naiveForecast(base, 1, "yhat"), "naive"),
      ResultsStore.bank(Baselines.naiveForecast(base, 12, "yhat"), "snaive"),
      ResultsStore.bank(Baselines.trendSeasonal(base), "trend_seasonal"))
    ResultsStore.synthesize(results, Seq("naive", "snaive", "trend_seasonal"))
      .filter(col(IsFuture))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"),
        round(col("lower"), 6).as("lower"), round(col("upper"), 6).as("upper"))
  }

  /** ADF(p=1) t-statistic on the z-scored series; oracle replays the OLS on
    * [1, y_(t−1), Δy_(t−1)] with the 3×3 cofactor inverse for the standard
    * error. */
  private def qAdf(s: SparkSession, d: String): DataFrame =
    graft.functions.Diagnostics.adfT(zOrdersMonthly(s, d), 1)
      .select(col(SeriesId), round(col("adf_t"), 6).as("adf_t"))

  /** D'Agostino-Pearson K² + χ²(2) p-value; oracle recomputes the population
    * skew/kurtosis from raw central-moment averages (NOT DuckDB's sample-
    * corrected builtins) and chains the z-score algebra through CTEs. */
  private def qNormality(s: SparkSession, d: String): DataFrame =
    graft.functions.Diagnostics.normalityTest(zOrdersMonthly(s, d))
      .select(col(SeriesId), round(col("k2"), 6).as("k2"),
        round(col("pvalue"), 6).as("pvalue"))

  /** PACF lags 1..3 via Durbin-Levinson over the distributed ACF; the oracle
    * unrolls the k ≤ 3 recursion in closed form from r1..r3. */
  private def qPacf(s: SparkSession, d: String): DataFrame =
    graft.functions.Diagnostics.pacf(ordersMonthlyM(s, d), 3)
      .select(col(SeriesId), col("lag").cast("long").as("lag"),
        round(col("pacf"), 6).as("pacf"))

  /** `find_statistical_transformation` (util.py:431-572): the ADF-driven
    * stationarity recipe (log when min y > 0, then diff(1), both only when
    * the unit root is NOT rejected at τ > −2.86) plus the ACF(12)-driven
    * seasonal diff. The emitted frame is the TRANSFORMED series, so the hash
    * checks the decisions AND the transform math end to end; the oracle
    * replays ADF, both CASE-gated transforms, the lag-12 ACF significance
    * test, and the conditional seasonal diff through one CTE chain. */
  private def qStatTransform(s: SparkSession, d: String): DataFrame = {
    // cumulative revenue: a monotone trending level series, so the ADF gate
    // actually fires (raw monthly revenue is level-stationary and would
    // exercise only the no-transform branch)
    val cum = ordersMonthlyM(s, d).withColumn(Y,
      sum(Y).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val (_, out) = graft.eval.AutoSelect.findStatisticalTransformation(
      cum, goals = Seq("stationary", "seasonally_adj"), m = 12)
    out.select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"))
  }

  /** `determine_best_series_length` (Forecaster.py:1178-1256): keep only
    * the last L observations per candidate L, score an AR(1) mlr on the
    * 12-ob holdout, keep the argmin (first candidate wins ties, matching
    * the reference's scan order). The oracle replays each candidate's
    * Cholesky OLS over its kept slice and argmins the holdout RMSE. */
  private def qBestLength(s: SparkSession, d: String): DataFrame = {
    val mlrAr1: graft.eval.Evaluation.ModelFn = fl => {
      val withAr = FeatureOps.addArTerms(fl, 1)
      val fit = graft.models.Ols.fit(withAr, Seq("ar_1"))
      withAr.withColumn("yhat", fit.predictExpr)
    }
    val (len, rmse) = graft.eval.AutoSelect.bestSeriesLength(
      zOrdersMonthly(s, d).localCheckpoint(true), Seq(36, 60, 84), 12, mlrAr1)
    import s.implicits._
    Seq((len.toLong, rmse)).toDF("best_length", "rmse")
      .select(col("best_length"), round(col("rmse"), 6).as("rmse"))
  }

  /** `auto_arima` (auxmodels.py:6-45): (p, q)-order search minimizing AIC
    * over Hannan–Rissanen ARMA fits. The oracle replays every grid cell's
    * TWO-stage estimation (long-AR(L) residual regression, then the
    * y-lag + innovation-lag OLS) through unrolled Cholesky chains and
    * argmins n·ln(sse/n) + 2(p+q+1) with the grid's tie order. */
  private def qAutoArma(s: SparkSession, d: String): DataFrame = {
    val ((p, q), aic) = graft.eval.AutoSelect.autoArma(
      zOrdersMonthly(s, d).localCheckpoint(true), maxP = 2, maxQ = 1, parallelism = 4)
    import s.implicits._
    Seq((p.toLong, q.toLong, aic)).toDF("p", "q", "aic")
      .select(col("p"), col("q"), round(col("aic"), 6).as("aic"))
  }

  private def qAcf(s: SparkSession, d: String): DataFrame =
    graft.functions.Diagnostics.acf(ordersMonthlyM(s, d), 12)
      .select(col(SeriesId), col("lag").cast("long").as("lag"), round(col("acf"), 6).as("acf"))

  /** `transfer_predict` + `transfer_cis` (_Forecaster_parent.py:1869-1942,
    * 295-361): an AR(1) mlr trained on the orders series scores the BUILDING
    * segment series verbatim; conformal widths from the source's 12-ob test
    * slice transfer onto the target's predictions. */
  private def qTransfer(s: SparkSession, d: String): DataFrame = {
    val src = FeatureOps.addArTerms(withTestFlag(ordersMonthlyM(s, d), 12), 1)
    val model = graft.models.MllibTsEstimator("mlr", Seq("ar_1")).fit(src)
    val widths = Conformal.widthsOf(model.transform(src))
    val tgt = FeatureOps.addArTerms(
      segmentMonthlyM(s, d).filter(col(SeriesId) === "BUILDING"), 1)
    val scored = model.transform(tgt).filter(col("ar_1").isNotNull)
    // raw-revenue scale (~1e8): computed columns round at 0dp — at 2dp the
    // ~1e-4 cross-engine OLS-beta noise sat within 2% of a half-boundary
    // per cell and sf0.1's extra rows bit one lower bound (y itself is the
    // bit-identical 2dp base series, so it keeps its exact 2dp)
    Conformal.transferIntervals(scored,
        widths.select(lit("BUILDING").as(SeriesId), col("ci_width")))
      .select(col(SeriesId), col(Ds), round(col(Y), 2).as("y"),
        round(col("yhat"), 0).as("yhat"),
        round(col("lower"), 0).as("lower"), round(col("upper"), 0).as("upper"))
  }

  /** Grouped `find_seasonal_length` (util.py:58-83 applied per series): ONE
    * distributed ACF pass over all 5 segment series + a per-series argmax —
    * the 10⁶-series shape of the search meta-op tier. */
  private def qSeasonalLengthBySeries(s: SparkSession, d: String): DataFrame =
    graft.eval.AutoSelect.findSeasonalLengthBySeries(segmentMonthlyM(s, d), Seq(3, 4, 6, 12))
      .select(col(SeriesId), col("m").cast("long").as("m"), round(col("acf"), 6).as("acf"))

  /** Grouped `find_optimal_transformation` (util.py:575-896 per series):
    * the greedy detrend → diff1 try-order with PER-SERIES accept decisions,
    * each candidate scored by the per-series AR(4)-OLS holdout RMSE
    * ([[graft.models.GroupedOls]]). The oracle replays both grouped scoring
    * chains, the per-series detrend fit, the accept CASEs, and the blended
    * second-stage input. */
  private def qOptTransformBySeries(s: SparkSession, d: String): DataFrame = {
    val (recipes, _) = graft.eval.AutoSelect.findOptimalTransformationBySeries(
      zSegmentsMonthly(s, d), m = 12, h = 12, candidateNames = Seq("detrend", "diff1"))
    recipes.select(col(SeriesId), col("candidate"),
      round(col("cand_rmse"), 6).as("cand_rmse"), col("accepted"))
  }

  /** Grouped `auto_Xvar_select` (Forecaster.py:658-1163 per series): the
    * staged trend → seasonal → AR greedy walk decided independently for
    * every segment; all 12 candidate scores come from grouped per-series
    * OLS fits and the oracle replays the full 12-chain search GROUPED by
    * series with the same decision tree. */
  private def qAutoXvarBySeries(s: SparkSession, d: String): DataFrame =
    graft.eval.AutoSelect.autoXvarSelectBySeries(zSegmentsMonthly(s, d), h = 12)
      .select(col(SeriesId), col("trend"), col("seasonal"), col("ar_order"),
        round(col("rmse"), 6).as("rmse"))

  /** Grouped `find_statistical_transformation` decision table
    * (util.py:431-572 per series): per-series ADF on the internally z-scored
    * segments prescribes diff(1) (+ log when the raw series is positive).
    * Oracle replays every segment's 3×3 ADF regression in one grouped
    * Cholesky chain. */
  private def qStatRecipesBySeries(s: SparkSession, d: String): DataFrame =
    graft.eval.AutoSelect.statTransformRecipesBySeries(segmentMonthlyM(s, d))
      .select(col(SeriesId), round(col("adf_t"), 6).as("adf_t"),
        col("needs_diff"), col("use_log"))

  /** `add_signals` + stacking (Forecaster.py:367-407, auxmodels.py:47-126
    * shape with an exact-OLS meta learner): naive and seasonal-naive signals
    * are banked, joined back as `signal_*` features, and an mlr meta model
    * fits on them. */
  private def qSignals(s: SparkSession, d: String): DataFrame = {
    val frame = zOrdersMonthly(s, d)
    val base: Map[String, DataFrame => DataFrame] = Map(
      "naive"  -> (f => f.withColumn("yhat", lag(col(Y), 1).over(w))),
      "snaive" -> (f => f.withColumn("yhat", lag(col(Y), 12).over(w))))
    graft.models.Stacking.stack(frame, base, metaAlgo = "mlr")
      .filter(col("signal_naive").isNotNull && col("signal_snaive").isNotNull)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(col("signal_naive"), 6).as("signal_naive"),
        round(col("signal_snaive"), 6).as("signal_snaive"),
        round(col("yhat"), 6).as("yhat"))
  }

  /** `reduce_Xvars` (Forecaster.py:451-631): backward elimination over
    * {t, monthsin, monthcos} dropping the smallest |standardized coefficient|
    * each step; keeps the best validation RMSE seen. The oracle replays the
    * whole elimination TREE (every reachable feature subset's fit) and walks
    * the realized path with the same first-min tie order. */
  private def qReduceXvars(s: SparkSession, d: String): DataFrame = {
    val f0 = FeatureOps.addTimeTrend(zOrdersMonthly(s, d))
    val f1 = FeatureOps.addFourier(
      FeatureOps.addCalendar(f0, Seq("month")), col("month"), 12.0, "month")
    val (kept, rmse) = graft.eval.AutoSelect.reduceXvars(
      f1.localCheckpoint(true), Seq("t", "monthsin", "monthcos"), 12)
    import s.implicits._
    Seq((kept.mkString(","), rmse)).toDF("features_kept", "rmse")
      .select(col("features_kept"), round(col("rmse"), 6).as("rmse"))
  }

  /** Seasonal ARMA (1,1)×(1,0)₁₂ via the additive Hannan–Rissanen
    * approximation (models.py:1150-1273 seasonal_order; Arima.fitSarma):
    * y lags {1, 12} + innovation lag {1}, long-AR(16) stage 1. */
  private def qSarma(s: SparkSession, d: String): DataFrame = {
    val base = withMonthlyHorizon(zOrdersMonthly(s, d), 12)
    val fit = graft.models.Arima.fitSarma(base, 1, 1, 1, 0, 12)
    graft.models.Arima.forecast(fit)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(when(isnan(col("yhat")), lit(null)).otherwise(col("yhat")), 6).as("yhat"),
        col(IsFuture))
  }

  /** Periodogram via direct DFT (`plot_periodogram`'s statistic,
    * Forecaster.py:1368-1392 / scipy.signal.periodogram): per-series
    * `mapGroups` DFT on the z-scored series; the oracle recomputes every
    * frequency bin's cos/sin projections as plain aggregates. */
  private def qPeriodogram(s: SparkSession, d: String): DataFrame =
    graft.eval.AutoSelect.periodogram(zOrdersMonthly(s, d))
      .select(col(SeriesId), col("freq").cast("long").as("freq"),
        round(col("power"), 6).as("power"))

  /** `find_seasonal_length` (util.py:58-83 generalized): the candidate
    * period with the highest ACF; emits every candidate's ACF with the
    * winner flagged (decision + statistic both hash-checked). */
  private def qSeasonalLength(s: SparkSession, d: String): DataFrame = {
    val cands = Seq(3, 4, 6, 12)
    val frame = ordersMonthlyM(s, d)
    val best = graft.eval.AutoSelect.findSeasonalLength(frame, cands)
    graft.functions.Diagnostics.acf(frame, cands.max)
      .filter(col("lag").isin(cands: _*))
      .select(col(SeriesId), col("lag").cast("long").as("lag"),
        round(col("acf"), 6).as("acf"), (col("lag") === best).as("is_best"))
  }

  /** `save_feature_importance` (Forecaster.py:1531-1673): per-feature
    * |standardized coefficient| ranking of an mlr fit (the documented SHAP
    * substitution). The oracle replays the unstandardized Cholesky fit and
    * re-derives each importance as |β_j|·sd_j over the train slice —
    * exactly what standardizing the design does to the coefficients. */
  private def qFeatureImportance(s: SparkSession, d: String): DataFrame = {
    val f0 = FeatureOps.addTimeTrend(zOrdersMonthly(s, d))
    val f1 = FeatureOps.addFourier(
      FeatureOps.addCalendar(f0, Seq("month")), col("month"), 12.0, "month")
    val f2 = FeatureOps.addArTerms(f1, 1)
    val feats = Seq("t", "monthsin", "monthcos", "ar_1")
    val flagged = withTestFlag(f2, 12)
    val model = graft.models.MllibTsEstimator("mlr", feats, normalizer = "scale").fit(flagged)
    val imps = graft.eval.AutoSelect.featureImportance(model, feats)
    import s.implicits._
    imps.zipWithIndex.map { case ((f, v), i) => (f, v, (i + 1).toLong) }
      .toDF("feature", "importance", "rank")
      .select(col("feature"), round(col("importance"), 6).as("importance"), col("rank"))
  }

  /** `seasonal_decompose` (Forecaster.py:1404-1430): the classical additive
    * trend / seasonal / resid component table on the z-scored monthly
    * series; the oracle recomputes the centered even-period MA, the
    * normalized per-phase means, and the residual in plain window SQL. */
  /** STL decomposition over the monthly series. The oracle replays the
    * full inner loop — cycle-subseries LOWESS, triple-MA low-pass, trend
    * LOWESS, twice — closed-form (each it=0 LOWESS pass is a window
    * self-join + 2×2 weighted solve; see the stl* SQL generators), so the
    * long-standing rows-only tier is gone; StlSpec additionally pins the
    * distributed path against an independent driver implementation. */
  private def qStl(s: SparkSession, d: String): DataFrame =
    Transforms.stl(zOrdersMonthly(s, d), 12)
      .select(col(SeriesId), col(Ds),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("resid"), 6).as("resid"))

  private def qDecompose(s: SparkSession, d: String): DataFrame =
    Transforms.seasonalDecompose(zOrdersMonthly(s, d), 12)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("resid"), 6).as("resid"))

  /** `find_optimal_transformation` (util.py:575-896): greedy forward
    * selection over a try-order of candidate transformations (here the
    * detrend → diff(1) → scale subset via the reference's `try_order`
    * argument), each kept only when the AR(4)-OLS holdout RMSE strictly
    * improves. The emitted frame is the final transformed series plus the
    * accepted chain, so the hash checks every accept/reject decision AND
    * the transform math; the oracle carries the evolving state through
    * CASE-gated CTEs (the decisions are scalar subqueries) and replays all
    * four AR(4) Cholesky scores. */
  private def qOptTransform(s: SparkSession, d: String): DataFrame = {
    val r = graft.eval.AutoSelect.findOptimalTransformation(
      zOrdersMonthly(s, d), m = 12, h = 12,
      candidateNames = Seq("detrend", "diff1", "scale"))
    r.frame.select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
      lit(r.accepted.mkString(",")).as("accepted"))
  }

  /** `find_optimal_lag_order` for the VAR family (util.py:298-341,
    * statsmodels VAR.select_order): candidate order p minimizing the summed
    * per-equation AIC of the cross-series lag OLS fits. Every candidate's
    * score is emitted; the winner carries the reference's first-min tie
    * order. The oracle replays each (p, equation) fit through an unrolled
    * Cholesky over the shared date-spine lag design. */
  private def qMvVarOrder(s: SparkSession, d: String): DataFrame = {
    val sids = Seq("BUILDING", "MACHINERY")
    val frame = segmentMonthlyM(s, d).filter(col(SeriesId).isin(sids: _*))
    val scores = graft.eval.AutoSelect.varOrderScores(frame, sids, 3)
    val best = scores.minBy(t => if (t._2.isNaN) Double.MaxValue else t._2)._1
    import s.implicits._
    scores.map { case (p, aic) => (p.toLong, aic, p == best) }
      .toDF("p", "aic", "is_best")
      .select(col("p"), round(col("aic"), 6).as("aic"), col("is_best"))
  }

  /** `auto_Xvar_select` (Forecaster.py:658-1163): staged greedy search —
    * best trend representation, then best seasonal representation, then
    * best AR order, each stage scored by holdout RMSE of an exact OLS fit
    * with the earlier winners held fixed. The oracle replays ALL 12
    * reachable (trend × seasonal × ar) fits and walks the three decisions
    * with Scala minBy's first-min tie order. */
  private def qAutoXvar(s: SparkSession, d: String): DataFrame = {
    val sel = autoXvarSelM(s, d)
    import s.implicits._
    Seq((sel.trend.mkString(","), sel.seasonal.mkString(","), sel.arOrder.toLong, sel.rmse))
      .toDF("trend", "seasonal", "ar_order", "rmse")
      .select(col("trend"), col("seasonal"), col("ar_order"),
        round(col("rmse"), 6).as("rmse"))
  }

  /** `infer_apply_Xvar_selection` (util.py:343-388) end-to-end: search on
    * the orders series, REPLAY the recorded [[graft.functions.FeatureSpec]]
    * chain onto the BUILDING segment via the facade, and re-score the
    * winning feature subset there. Oracle reruns the 12-fit search on
    * orders AND the 12 candidate fits on BUILDING, picking the replayed
    * score by the search's decision CASE. */
  private def qXvarReplay(s: SparkSession, d: String): DataFrame = {
    val sel = autoXvarSelM(s, d)
    val replayed = Forecaster(zSegBuilding(s, d)).applySpecs(sel.specs)
    val segRmse = graft.eval.AutoSelect.scoreFeatures(replayed.frame, sel.features, 12)
    import s.implicits._
    Seq((sel.trend.mkString(","), sel.seasonal.mkString(","), sel.arOrder.toLong, segRmse))
      .toDF("trend", "seasonal", "ar_order", "seg_rmse")
      .select(col("trend"), col("seasonal"), col("ar_order"),
        round(col("seg_rmse"), 6).as("seg_rmse"))
  }

  // -------------------------------------------- model & evaluation queries

  /** Session-scoped memo of the tiny built series frames (≤ a few hundred
    * rows after the fact-table aggregation). Every model query re-derives
    * its features from one of these, and each would otherwise re-run the
    * orders scan + monthly rollup for every action in its lineage — the
    * materialize-the-derived-input-once pattern a user of the library would
    * apply (at 100 TB: write the aggregated series table once, model off
    * it). `ts_build_monthly` / `mv_build_segments` keep the raw build path:
    * they ARE the build queries, and PlanAuditSpec pins their scan shape. */
  private val seriesMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Catalog name of a bucketed memo table — distinct per DATASET DIR (the
    * memo map is keyed (session, dir, key), so a second dir in the same
    * session must not DROP+rewrite the first dir's table underneath its
    * still-cached lazy `s.table(...)` frame) AND per JVM: two graft
    * processes sharing one warehouse (verify + bench side by side) would
    * otherwise freshTable-delete the parquet files under each other's live
    * frames mid-query — a real deployment shape, and the warehouse is
    * shared state no in-process lock covers.
    * The dir suffix is a 128-bit MD5 digest, not String.hashCode (the
    * suffix only prevents aliasing if it cannot collide); the pid suffix
    * makes the name unique among live processes; the SESSION token makes
    * it unique among sessions of ONE JVM (a resident service doing
    * `spark.newSession` per tenant over a shared warehouse would otherwise
    * compute identical names, and the second session's freshTable would
    * delete the parquet under the first's still-live `s.table` frame —
    * the in-JVM twin of the cross-process hazard the pid prevents). Memo
    * tables are a few hundred rows, so orphaned dirs from ended sessions
    * cost ~nothing and the pid GC sweeps them once the process dies. */
  private val sessionTokens =
    scala.collection.concurrent.TrieMap.empty[SparkSession, Int]
  private val nextSessionToken = new java.util.concurrent.atomic.AtomicInteger(0)
  def memoTableName(s: SparkSession, d: String, key: String): String = {
    val tok = sessionTokens.getOrElseUpdate(s, nextSessionToken.incrementAndGet())
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_memo_${key}_${hex}_s${tok}_p${ProcessHandle.current().pid()}"
  }

  /** Per-key build locks: a racing double-build was harmless when memos
    * were checkpoints, but the bucketed path DROPs + rewrites a
    * catalog table — two threads doing that to the same table could fail
    * each other. Distinct keys still build fully concurrently (what
    * [[prewarmMemos]] fans out). TrieMap.getOrElseUpdate may evaluate the
    * Object twice under a race but both callers get the stored winner. */
  private val memoLocks =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Object]

  /** Catalog tables created by the bucketed memo path, recorded so
    * [[clearMemos]] can actually release them (dropping the map entry
    * alone leaves the CacheManager pin, the catalog entry, and the
    * warehouse dir). */
  private val memoTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), String]

  /** One warehouse sweep per session: collect memo-table dirs left by
    * dead graft processes (pid-suffixed names make "dead" checkable —
    * [[graft.sources.LakeLayout.gcDeadSessionMemoDirs]]) so a shared
    * warehouse doesn't accrete one orphan dir per ended session. */
  private val gcDone =
    scala.collection.concurrent.TrieMap.empty[SparkSession, Unit]

  /** Memo layout: a derived frame that carries `series_id` materializes
    * as a BUCKETED, bucket-sorted catalog table
    * ([[graft.sources.LakeLayout.writeBucketed]] keyed by series_id), so
    * every downstream groupBy/window on series_id plans with no exchange
    * on the memo side (LakeLayoutSpec pins the plan); any other frame
    * (corpus-tier doc vectors, pair frames) is a `localCheckpoint`. */
  private def memo(s: SparkSession, d: String, key: String)(build: => DataFrame): DataFrame = {
    val k = (s, d, key)
    seriesMemo.get(k).getOrElse {
      memoLocks.getOrElseUpdate(k, new Object).synchronized {
        gcDone.getOrElseUpdate(s,
          { graft.sources.LakeLayout.gcDeadSessionMemoDirs(s); () })
        seriesMemo.getOrElseUpdate(k, {
          val built = build
          if (built.columns.contains(SeriesFrame.SeriesId)) {
            val table = memoTableName(s, d, key)
            memoTables.put(k, table)
            graft.sources.LakeLayout.freshTable(s, table)
            graft.sources.LakeLayout.writeBucketed(built, table, buckets = 4)
            // cache the (few-hundred-row) table frame: InMemoryRelation
            // reports the child scan's bucketed outputPartitioning, so
            // downstream plans keep their zero-exchange shape (LakeLayoutSpec
            // pins it) while consumers skip the per-query parquet read —
            // the catalog table remains the durable lake artifact
            val t = s.table(table)
            t.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            t
          } else built.localCheckpoint(true)
        })
      }
    }
  }

  /** Release the session memos for a long-lived driver. Checkpointed
    * frames release via the map drop (ContextCleaner reclaims unreferenced
    * blocks at the next GC), but the bucketed memos need the
    * explicit path: Spark's CacheManager pins cached relations regardless
    * of JVM references, and the catalog table + warehouse dir are durable
    * state — so each recorded memo table is unpersisted and then DROPped
    * (freshTable deletes the dir too; the pid GC never would, because the
    * pid is alive). (The bench/verify harnesses never need this — their
    * sessions end; a library user embedding SparkEntry queries in a
    * resident service does.) */
  def clearMemos(): Unit = {
    memoTables.foreach { case (k, table) =>
      val s = k._1
      seriesMemo.get(k).foreach(df => scala.util.Try(df.unpersist()))
      scala.util.Try(graft.sources.LakeLayout.freshTable(s, table))
    }
    memoTables.clear()
    seriesMemo.clear(); xvarSelMemo.clear(); blockedFitMemo.clear()
    tbatsCurveMemo.clear(); docCountMemo.clear()
  }

  /** ts_tbats_like and ts_tbats_arma fit the IDENTICAL Box-Cox + trend +
    * Fourier curve on the identical frame — fit it once per (session, dir)
    * and checkpoint both the scored curve and the λ params frame (the
    * transform's revert re-reads the params on every consumer otherwise).
    * [[graft.models.TbatsLike.curveFit]] is the single implementation, so
    * the memo can never drift from the unmemoized path. */
  private val tbatsCurveMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String),
           (graft.operators.FittedTransform, DataFrame, Seq[String])]
  private def tbatsCurveM(s: SparkSession, d: String)
      : (graft.operators.FittedTransform, DataFrame, Seq[String]) =
    tbatsCurveMemo.getOrElseUpdate((s, d), {
      val frame = withMonthlyHorizon(ordersMonthlyM(s, d), 12)
      val (t, curveDf) = graft.models.TbatsLike.curveFit(frame)
      val tChk = t match {
        case e: graft.operators.ExprTransform =>
          e.copy(params = e.params.localCheckpoint(true))
        case other => other
      }
      (tChk, curveDf.localCheckpoint(true), frame.columns.toSeq)
    })

  /** ts_auto_xvar and ts_xvar_replay share the SAME search on the same
    * frame; memoize the selection like the series frames. */
  private val xvarSelMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.eval.AutoSelect.XvarSelection]
  private def autoXvarSelM(s: SparkSession, d: String): graft.eval.AutoSelect.XvarSelection =
    xvarSelMemo.getOrElseUpdate((s, d),
      graft.eval.AutoSelect.autoXvarSelect(zOrdersMonthly(s, d), maxAr = 2, h = 12))

  /** mv_blocked_var and mv_blocked_dynamic share the SAME screened fit on
    * the same segments frame; memoize (fits, block) checkpointed. */
  private val blockedFitMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (DataFrame, DataFrame)]
  private def blockedFitM(s: SparkSession, d: String): (DataFrame, DataFrame) =
    blockedFitMemo.getOrElseUpdate((s, d), {
      // both blocked queries fit on the SAME date-aligned window (the
      // recursion's contract; the screen sees identical rows)
      val (fits, block) = graft.models.BlockedVar.fit(
        SeriesFrame.lineUpDates(zSegmentsMonthly(s, d)), maxLag = 1, maxSources = 3)
      (fits.localCheckpoint(true), block.localCheckpoint(true))
    })

  /** Build the session-scoped series memos up front and return nothing —
    * bench hygiene: the one-time localCheckpoint builds become their own
    * measured line item (`memo_build` in the bench JSON) instead of landing
    * on whichever query the map happens to order first, which made
    * per-query times order-sensitive across rounds. */
  def prewarmMemos(s: SparkSession, d: String): Unit = {
    // independent memo chains build as CONCURRENT Spark jobs (the doc-tier
    // scans and the series rollups touch different tables; within a chain
    // the dependency order is kept) — local[32] has far more slots than any
    // single memo's task count, so overlapping the builds hides each job's
    // scheduling + single-stage tail latency. TrieMap.getOrElseUpdate keeps
    // racing rebuilds harmless (disjoint keys here anyway).
    val chains: Seq[() => Unit] = Seq(
      () => { ordersMonthlyM(s, d); zOrdersMonthly(s, d); tbatsCurveM(s, d) },
      () => { segmentMonthlyM(s, d); zSegBuilding(s, d)
              // the blocked fit is itself a session memo shared by both
              // mv_blocked_* queries (and zSegmentsMonthly by six series
              // queries); building them here hides the fit's ~25 driver
              // round-trips under the longer doc-tier chains instead of
              // serializing them into the first consumer's wall
              zSegmentsMonthly(s, d); blockedFitM(s, d); () },
      () => { docVecsM(s, d); () },
      () => { docFpsM(s, d); () },
      () => { jaccardM(s, d); () },
      () => { docPplM(s, d); () },
      () => { imgPayloadsM(s, d); () },
      () => { wavPayloadsM(s, d); () },
      () => { vidPayloadsM(s, d); () })
    graft.eval.Evaluation.fanOut(chains, parallelism = chains.size)(_.apply())
    ()
  }

  /** Memoized trigram-vector frame over the documents corpus — the
    * vectorization (an md5 per trigram position, ~300× the corpus bytes) is
    * the dominant cost of BOTH embedding-similarity doc queries
    * (doc_neardup_cosine, doc_cross_decontaminate), so they share ONE
    * checkpointed build like the series memos. */
  private def docVecsM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "docvecs")(
      TextOps.trigramVectors(Tables.documents(s, d), "doc_id", "text"))

  /** Memoized [[SeriesFrame.ordersMonthly]] for model queries. */
  private def ordersMonthlyM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "orders")(SeriesFrame.ordersMonthly(s, d))

  /** Memoized [[SeriesFrame.segmentMonthly]] for model queries. */
  private def segmentMonthlyM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "segments")(SeriesFrame.segmentMonthly(s, d))

  /** Z-scored monthly orders series (cross-engine stable inputs for O(1)
    * metric aggregates). */
  private def zOrdersMonthly(s: SparkSession, d: String): DataFrame =
    memo(s, d, "zorders") {
      val base = ordersMonthlyM(s, d)
      Transforms.scaleT(base).transform(base)
    }

  /** Z-scored BUILDING segment series (the spec-replay target). */
  private def zSegBuilding(s: SparkSession, d: String): DataFrame =
    memo(s, d, "zbuilding") {
      val base = segmentMonthlyM(s, d).filter(col(SeriesId) === "BUILDING")
      Transforms.scaleT(base).transform(base)
    }

  /** All five segments z-scored per series (blocked-VAR conditioning). */
  private def zSegmentsMonthly(s: SparkSession, d: String): DataFrame =
    memo(s, d, "zsegments") {
      val base = segmentMonthlyM(s, d)
      Transforms.scaleT(base).transform(base)
    }

  /** MLlib LinearRegression (exact OLS via normal solver) on AR(1) + the
    * set-based recursive 12-step dynamic forecast. */
  private def qAr1Mlr(s: SparkSession, d: String): DataFrame = {
    val withAr = FeatureOps.addArTerms(withMonthlyHorizon(zOrdersMonthly(s, d), 12), 1)
    val model = graft.models.MllibTsEstimator("mlr", Seq("ar_1")).fit(withAr)
    graft.models.Recursive.dynamicForecast(withAr, model)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(when(isnan(col("yhat")), lit(null)).otherwise(col("yhat")), 6).as("yhat"),
        col(IsFuture))
  }

  /** prophet_like named estimator (the documented prophet substitution):
    * linear growth + order-2 Fourier seasonality at m=12, vectorized over
    * observed + horizon. Oracle replays the 5-feature OLS via Cholesky with
    * the SAME angular-coefficient double literals. */
  /** tbats_like named estimator (the documented tbats substitution): per-
    * series Box-Cox MLE λ, then exact OLS of trend + order-2 Fourier at m=12
    * on the transformed scale, reverted through λ. Oracle replays the λ
    * grid argmax, the 5-feature Cholesky OLS, and the inverse transform.
    * Runs on the RAW revenue series (Box-Cox wants positive y); yhat rounds
    * to integers so the pow(·, 1/λ) amplification of cross-engine OLS noise
    * (~1e-4 absolute at 1e8 scale) can't show. */
  private def qTbatsLike(s: SparkSession, d: String): DataFrame = {
    val (t, curveDf, origCols) = tbatsCurveM(s, d)
    graft.models.TbatsLike.forecastFromCurve(t, curveDf, origCols)
      .select(col(SeriesId), col(Ds), col(Y).as("y"),
        round(col("yhat"), 0).as("yhat"), col(IsFuture))
  }

  /** tbats_like + ARMA(1,1) error correction (TbatsLike.forecastArma) — the
    * reference TBATS's error channel composed for real, as the scaladoc
    * promises. Oracle replays the λ-grid argmax, the 5-feature curve OLS,
    * the two-stage Hannan–Rissanen ARMA on the curve's transformed-scale
    * residuals, and the flat-innovation horizon recursion — three Cholesky
    * chains in one WITH. Integer rounding like ts_tbats_like. */
  private def qTbatsArma(s: SparkSession, d: String): DataFrame = {
    val (t, curveDf, origCols) = tbatsCurveM(s, d)
    graft.models.TbatsLike.forecastArmaFromCurve(t, curveDf, origCols)
      .select(col(SeriesId), col(Ds), col(Y).as("y"),
        round(col("yhat"), 0).as("yhat"), col(IsFuture))
  }

  /** The series tier driven from PLAIN SQL: snaive, the OLS fit/predict
    * pair, and the §2.6 metric aggregates all run as registered SQL
    * functions (GraftFunctions) — one metrics row per model computed
    * without touching the Scala API, proving the forecasting primitives
    * are a real SQL surface, not Scala-only. Oracle replays snaive as
    * lag(12), the fit as the k=1 Cholesky chain, and the metrics as plain
    * aggregates. */
  private def qSqlSurface(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    zOrdersMonthly(s, d).createOrReplaceTempView("graft_sql_series")
    s.sql(
      """WITH s2 AS (SELECT series_id, ds, y,
        |    CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t
        |  FROM graft_sql_series),
        |fit AS (SELECT graft_ols_fit(y, array(t)) AS beta FROM s2),
        |sc AS (SELECT s2.*,
        |    graft_snaive(y, 12) OVER (ORDER BY ds) AS f_sn,
        |    graft_ols_predict(beta, array(t)) AS f_ols
        |  FROM s2, fit)
        |SELECT 'snaive' AS model,
        |  ROUND(graft_rmse(y, f_sn), 6) AS rmse, ROUND(graft_mae(y, f_sn), 6) AS mae,
        |  ROUND(graft_smape(y, f_sn), 6) AS smape, ROUND(graft_r2(y, f_sn), 6) AS r2
        |FROM sc WHERE f_sn IS NOT NULL
        |UNION ALL
        |SELECT 'ols_trend' AS model,
        |  ROUND(graft_rmse(y, f_ols), 6), ROUND(graft_mae(y, f_ols), 6),
        |  ROUND(graft_smape(y, f_ols), 6), ROUND(graft_r2(y, f_ols), 6)
        |FROM sc""".stripMargin)
  }

  /** The h-step RECURSIVE dynamic forecast driven from PLAIN SQL — the one
    * scalecast primitive the round-8 SQL surface still lacked (each step
    * consumes the walk's own predictions, so fit/predict/snaive aggregates
    * couldn't express it): `graft_ols_fit` fits AR(3) per series,
    * `LATERAL VIEW graft_forecast(...)` (the native [[graft.functions
    * .GraftForecast]] Generator) runs the 12-step walk per series on the
    * executors. Same recursion, fixture, and rounding as ts_ar3_dynamic's
    * future slice (SqlSurfaceSpec pins the SQL twin == Scala twin at 6dp);
    * oracle = the identical Cholesky + recursive-CTE replay. */
  private def qSqlForecast(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    zOrdersMonthly(s, d).createOrReplaceTempView("graft_sqlf_series")
    s.sql(
      """WITH s2 AS (SELECT series_id, ds, y,
        |    lag(y, 1) OVER (PARTITION BY series_id ORDER BY ds) AS ar_1,
        |    lag(y, 2) OVER (PARTITION BY series_id ORDER BY ds) AS ar_2,
        |    lag(y, 3) OVER (PARTITION BY series_id ORDER BY ds) AS ar_3
        |  FROM graft_sqlf_series),
        |fit AS (SELECT series_id, graft_ols_fit(y, array(ar_1, ar_2, ar_3)) AS beta
        |  FROM s2 WHERE ar_3 IS NOT NULL GROUP BY series_id),
        |hist AS (SELECT series_id, max(ds) AS ld,
        |    transform(array_sort(collect_list(struct(ds, y))), r -> r.y) AS ys
        |  FROM graft_sqlf_series GROUP BY series_id)
        |SELECT h.series_id, add_months(h.ld, f.step) AS ds,
        |       ROUND(f.yhat, 6) AS yhat
        |FROM hist h JOIN fit USING (series_id)
        |LATERAL VIEW graft_forecast(slice(h.ys, -3, 3), beta, 3, 12) f AS step, yhat
        |""".stripMargin)
  }

  private def qProphetLike(s: SparkSession, d: String): DataFrame =
    graft.models.ProphetLike.forecast(withMonthlyHorizon(zOrdersMonthly(s, d), 12))
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(col("yhat"), 6).as("yhat"), col(IsFuture))

  /** prophet_like with the piecewise-linear changepoint trend (the
    * reference prophet's g(t), models.py:1275-1401): a slope break planted
    * at month 36 of the z-scored series, fit with a 4-knot hinge basis
    * (knots at integer quantiles of the training span — ProphetLike
    * .changepoints). Oracle replays the knot arithmetic and the 9-feature
    * Cholesky OLS. */
  private def qProphetCp(s: SparkSession, d: String): DataFrame = {
    val base = withMonthlyHorizon(zOrdersMonthly(s, d), 12)
    val planted = FeatureOps.addTimeTrend(base, "_tb")
      .withColumn(Y, col(Y) + lit(0.08) * greatest(lit(0.0), col("_tb") - lit(36.0)))
      .drop("_tb")
    graft.models.ProphetLike.forecast(planted, 12.0, 2, Nil, nChangepoints = 4)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(col("yhat"), 6).as("yhat"), col(IsFuture))
  }

  private def qSes(s: SparkSession, d: String): DataFrame =
    graft.models.Smoothing.ses(withMonthlyHorizon(zOrdersMonthly(s, d), 6), 0.3)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(col("yhat"), 6).as("yhat"), col(IsFuture))

  /** Optimized HWES: the (α, β, γ) grid search over in-sample SSE
    * (statsmodels optimized=True spirit, Smoothing.holtWintersGridSearch).
    * The oracle replays all 9 recursions in ONE recursive CTE whose state
    * carries the grid point, then takes the argmin. */
  private def qHwOpt(s: SparkSession, d: String): DataFrame = {
    val grid = for (a <- Seq(0.2, 0.5, 0.8); b <- Seq(0.1); g <- Seq(0.1, 0.3, 0.5))
      yield (a, b, g)
    val ((a, b, g), sse) = graft.models.Smoothing.holtWintersGridSearch(
      zOrdersMonthly(s, d).localCheckpoint(true), 12, grid, parallelism = 4)
    import s.implicits._
    Seq((a, b, g, sse)).toDF("alpha", "beta", "gamma", "sse")
      .select(col("alpha"), col("beta"), col("gamma"), round(col("sse"), 6).as("sse"))
  }

  private def qHoltWinters(s: SparkSession, d: String): DataFrame =
    graft.models.Smoothing.holtWinters(withMonthlyHorizon(zOrdersMonthly(s, d), 12),
        0.3, 0.1, 0.2, 12)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(col("yhat"), 6).as("yhat"), col(IsFuture))

  /** AR(3) OLS + the full 12-step dynamic recursion (multi-lag ledger path).
    * Oracle: unrolled-Cholesky OLS + a recursive CTE carrying the last three
    * predictions. (The rf twin of this query lives in ModelsSpec — tree
    * predictions aren't portable-SQL-expressible.) */
  private def qAr3Dynamic(s: SparkSession, d: String): DataFrame = {
    val withAr = FeatureOps.addArTerms(withMonthlyHorizon(zOrdersMonthly(s, d), 12), 3)
    val model = graft.models.MllibTsEstimator("mlr", Seq("ar_1", "ar_2", "ar_3")).fit(withAr)
    graft.models.Recursive.dynamicForecast(withAr, model)
      .filter(col(IsFuture))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"))
  }

  /** `dynamic_testing = 4` peeking cadence (models.py:124-140): AR(1) OLS
    * scored over a 24-ob test slice in 4-step chunks re-seeded from actuals. */
  private def qMlrDynK4(s: SparkSession, d: String): DataFrame = {
    val flagged = FeatureOps.addArTerms(withTestFlag(zOrdersMonthly(s, d), 24), 1)
    val model = graft.models.MllibTsEstimator("mlr", Seq("ar_1")).fit(flagged)
    graft.models.Recursive.dynamicTestForecast(flagged, model, 4)
      .filter(col("is_test"))
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(col("yhat"), 6).as("yhat"))
  }

  /** Row-range ops: keep_smaller_history(48) ∘ chop_from_front(6) ∘ round(2)
    * (§2.2 — Forecaster.py:1675-1749, 2341-2352). round stays at the
    * series' own 2dp so no half-boundary can differ across engines. */
  private def qHistoryOps(s: SparkSession, d: String): DataFrame =
    roundY(chopFromFront(keepSmallerHistory(ordersMonthlyM(s, d), 48), 6), 2)
      .select(col(SeriesId), col(Ds), col(Y))

  /** Per-step dynamic conformal intervals (`backtest_for_resid_matrix` →
    * `overwrite_forecast_intervals`): 3 backtest iterations of the seasonal
    * naive feed a per-horizon-step residual percentile. */
  private def qDynamicCi(s: SparkSession, d: String): DataFrame = {
    val z = zOrdersMonthly(s, d)
    val scored = (0 until 3).map { i =>
      val chopped = if (i == 0) z else chopFromFront(z, i * 6)
      Baselines.naiveFitted(withTestFlag(chopped, 6), 12)
    }
    val fc = Baselines.naiveForecast(withMonthlyHorizon(z, 6), 12)
    Conformal.dynamicIntervals(scored, fc)
      .filter(col(IsFuture))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"),
        round(col("lower"), 6).as("lower"), round(col("upper"), 6).as("upper"))
  }

  /** Theta method (θ=2): trend extrapolation blended with SES of the
    * theta-2 line; oracle = regr trend + the ts_ses closed-form unroll. */
  private def qTheta(s: SparkSession, d: String): DataFrame =
    graft.models.Theta.thetaForecast(withMonthlyHorizon(zOrdersMonthly(s, d), 12), 0.3)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(col("yhat"), 6).as("yhat"), col(IsFuture))

  /** Quadratic detrend on the z-scored series (DetrendTransform poly_order=2);
    * oracle replays the 3-basis OLS through the Cholesky CTE chain. */
  private def qDetrendPoly(s: SparkSession, d: String): DataFrame = {
    val base = zOrdersMonthly(s, d)
    Transforms.detrendPolyT(base, 2).transform(base)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y_detrended"))
  }

  /** Yeo-Johnson with MLE λ on the z-scored (mixed-sign) series; the oracle
    * replays the candidate-grid profile likelihood and argmax in SQL. */
  private def qYeoJohnson(s: SparkSession, d: String): DataFrame = {
    val base = zOrdersMonthly(s, d)
    Transforms.yeoJohnsonMleT(base).transform(base)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y_yj"))
  }

  /** Weekly series + inferred-frequency horizon (`pd.infer_freq` contract):
    * the horizon spine must come out weekly, not the monthly default. */
  private def qWeeklyNaive(s: SparkSession, d: String): DataFrame = {
    val base = lineitemWeekly(s, d)
    val withH = withInferredHorizon(base, 8) // inferFreq must yield "W"
    Baselines.naiveForecast(withH, 1, "yhat")
      .select(col(SeriesId), col(Ds), col(Y), col("yhat"), col(IsFuture))
  }

  private def qImpute(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Imputer
    val gapped = lineitemDaily(s, d).filter(dayofmonth(col(Ds)) % 7 =!= 3)
    val spined = Imputer.withDailySpine(gapped)
      .withColumn("is_missing", col(Y).isNull)
      .withColumn("y_interp", col(Y))
      .withColumn("y_ffill", col(Y))
      .withColumn("y_ma7", col(Y))
    val out = Imputer.movingAverage(
      Imputer.ffill(Imputer.linearInterp(spined, "y_interp"), "y_ffill"), 7, "y_ma7")
    out.select(col(SeriesId), col(Ds), col("is_missing"),
      round(col("y_interp"), 4).as("y_interp"),
      round(col("y_ffill"), 2).as("y_ffill"),
      round(col("y_ma7"), 4).as("y_ma7"))
  }

  private def qCvRolling(s: SparkSession, d: String): DataFrame =
    graft.eval.Evaluation.rollingOriginCV(zOrdersMonthly(s, d).localCheckpoint(true), 3, 8,
        f => Baselines.trendSeasonal(f), Seq("rmse", "mae"), parallelism = 3)
      .select(col("fold").cast("long").as("fold"), col(SeriesId),
        round(col("rmse"), 6).as("rmse"), round(col("mae"), 6).as("mae"))

  /** `export_validation_grid` (_Forecaster_parent.py:1545-1567): a 2-param
    * mlr grid (AR order × trend on/off) scored by 2-fold rolling-origin CV,
    * exported with typed param columns + per-fold metrics + mean. Oracle:
    * one Cholesky OLS chain per (cell, fold) — 8 fits total. */
  private def qValidationGrid(s: SparkSession, d: String): DataFrame = {
    import graft.eval.Evaluation
    // fan-out queries materialize the tiny base series once; every grid
    // cell / fold action then reads the checkpoint, not the fact scan
    val z = zOrdersMonthly(s, d).localCheckpoint(true)
    val grid = Evaluation.expandGrid(Map("ar" -> Seq(1.0, 2.0), "trend" -> Seq(0.0, 1.0)))
    val fitWith: Map[String, Double] => Evaluation.ModelFn = params => { flagged =>
      val p = params("ar").toInt
      val withTrend = params("trend") == 1.0
      val withF0 = FeatureOps.addArTerms(flagged, p)
      val withF = if (withTrend) FeatureOps.addTimeTrend(withF0) else withF0
      val feats = (1 to p).map(i => s"ar_$i") ++ (if (withTrend) Seq("t") else Nil)
      graft.models.MllibTsEstimator("mlr", feats).fit(withF).transform(withF)
    }
    val cells = Evaluation.gridSearchDetailed(z, grid, fitWith, 2, 8, "rmse", parallelism = 4)
    Evaluation.validationGrid(s, cells, "rmse")
      .select(col("ar"), col("trend"),
        round(col("fold_0_rmse"), 6).as("fold_0_rmse"),
        round(col("fold_1_rmse"), 6).as("fold_1_rmse"),
        round(col("mean_rmse"), 6).as("mean_rmse"))
  }

  private def qBacktest(s: SparkSession, d: String): DataFrame =
    graft.eval.Evaluation.backtest(zOrdersMonthly(s, d).localCheckpoint(true), 3, 12, 6,
        f => Baselines.naiveFitted(f, 12), Seq("rmse", "mae"), parallelism = 3)
      .select(col("iter").cast("long").as("iter"), col(SeriesId),
        round(col("rmse"), 6).as("rmse"), round(col("mae"), 6).as("mae"))

  /** `backtest_metrics` pivot: same backtest as ts_backtest, reshaped to
    * (series, metric) × iter_0..2 + Average (util.py:112-230). */
  private def qBacktestMetrics(s: SparkSession, d: String): DataFrame = {
    val perIter = graft.eval.Evaluation.backtest(zOrdersMonthly(s, d).localCheckpoint(true), 3, 12, 6,
      f => Baselines.naiveFitted(f, 12), Seq("rmse", "mae"), parallelism = 3)
    graft.eval.Evaluation.backtestMetrics(perIter, Seq("rmse", "mae"), 3)
      .select(col(SeriesId), col("metric"),
        round(col("iter_0"), 6).as("iter_0"), round(col("iter_1"), 6).as("iter_1"),
        round(col("iter_2"), 6).as("iter_2"), round(col("average"), 6).as("average"))
  }

  /** MASE + MSIS (M4 definitions) for the seasonal-naive on a 24-ob test
    * slice: numerators over the test slice, the shared seasonal-difference
    * denominator over train (Metrics.py:177-246). */
  private def qMaseMsis(s: SparkSession, d: String): DataFrame = {
    val m = 12; val testLen = 24; val alpha = 0.05
    val flagged = withTestFlag(zOrdersMonthly(s, d), testLen)
      .withColumn("yhat", lag(col(Y), m).over(w))
      .withColumn("sdiff", abs(col(Y) - lag(col(Y), m).over(w)))
    val train = flagged.filter(!col("is_test"))
    val denom = train.filter(col("sdiff").isNotNull)
      .groupBy(SeriesId).agg(Metrics.scaleDenominator(col("sdiff")).as("denom"))
    val width = train.filter(col("yhat").isNotNull)
      .groupBy(SeriesId)
      .agg(expr(s"percentile(abs(y - yhat), 0.95)").as("width"))
    val test = flagged.filter(col("is_test"))
      .join(graft.core.Joins.maybeBroadcast(width), Seq(SeriesId))
      .withColumn("uf", col("yhat") + col("width"))
      .withColumn("lf", col("yhat") - col("width"))
    test.groupBy(SeriesId)
      .agg(Metrics.maseNumerator(col(Y), col("yhat")).as("mae_num"),
        Metrics.msisNumerator(col(Y), col("uf"), col("lf"), alpha).as("msis_num"))
      .join(graft.core.Joins.maybeBroadcast(denom), Seq(SeriesId))
      .select(col(SeriesId), round(col("mae_num") / col("denom"), 6).as("mase"),
        round(col("msis_num") / col("denom"), 6).as("msis"))
  }

  // ------------------------------------------------- data-pipeline queries

  /** Marker-token profiles for the language/topic-ID heuristic. */
  private val profiles = Map(
    "general" -> Seq("the", "a", "big", "small", "fast", "slow"),
    "sql"     -> Seq("table", "join", "query", "scan", "merge", "sort", "hash", "group"),
    "stream"  -> Seq("stream", "window", "batch", "spark", "line")
  )

  private def qTextStats(s: SparkSession, d: String): DataFrame =
    TextOps.withTextStats(Tables.documents(s, d))
      .select(col("doc_id"), col("n_chars_calc").cast("long").as("n_chars_calc"),
        col("n_tokens"), col("n_distinct_tokens"),
        round(col("distinct_ratio"), 6).as("distinct_ratio"),
        round(col("avg_token_len"), 6).as("avg_token_len"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        round(col("quality"), 6).as("quality"))

  private def qLangId(s: SparkSession, d: String): DataFrame =
    TextOps.withProfileScores(Tables.documents(s, d), profiles)
      .select(col("doc_id"), round(col("score_general"), 6).as("score_general"),
        round(col("score_sql"), 6).as("score_sql"),
        round(col("score_stream"), 6).as("score_stream"), col("pred_profile"))

  private def qDedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")

  private def qJaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardM(s, d)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("jaccard"), 6).as("jaccard"))

  /** doc_jaccard_pairs and doc_pipeline's dup stage run the SAME capped
    * jaccard pass on the same corpus — shared checkpointed, the
    * blockedFitM pattern (the pair frame is slim: only ≥minJ pairs). */
  private def jaccardM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "jaccard")(
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text", 3, 0.8, JaccardDfCap))

  /** Hot-shingle document-frequency cap for the declared Jaccard queries:
    * bounds every inverted-index join key at ≤ cap docs (cap² pairs). */
  private val JaccardDfCap = 100

  /** Cluster-level near-dup labeling (Corpus.dedupNearClusters semantics):
    * [[graft.operators.Graph.connectedComponents]] over the capped-jaccard
    * pair graph; every paired doc gets its component's least id as
    * cluster_id and keeps iff it IS that least id. Pins the distributed CC
    * kernel against a recursive-CTE reachability oracle — every label, not
    * an aggregate. */
  private def qDedupClusters(s: SparkSession, d: String): DataFrame =
    graft.operators.Graph.connectedComponents(jaccardM(s, d), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        (col("id") === col("comp")).as("kept"))

  /** Minimum duplicated-run length (tokens) for the exact-substring dedup
    * queries — every length-8 token window occurring twice anywhere in the
    * corpus marks its run duplicated. */
  private val SpanMinTokens = 8

  /** Exact duplicated-span inventory (substring-level dedup, the level
    * below doc/passage pairs): maximal runs of token positions whose
    * 8-token windows repeat corpus-wide. */
  private def qDupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.dupSpans(Tables.documents(s, d), "doc_id", "text", SpanMinTokens)
      .select(col("doc").as("doc_id"), col("span_start"), col("span_len"))

  /** Duplicated spans stripped in place, first corpus occurrence kept:
    * per-doc token count and digest of the rebuilt text (both computed ON
    * the final string on both engines, so an empty rebuild hashes alike). */
  private def qStripSpans(s: SparkSession, d: String): DataFrame =
    Dedup.stripDupSpans(Tables.documents(s, d), "doc_id", "text", SpanMinTokens)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("text")).as("digest"))

  /** Per-source duplication profile: the corpus-health read over
    * [[qDupSpans]]'s inventory — which sources need span-stripping before
    * they enter a training mixture. */
  private def qSpanProfile(s: SparkSession, d: String): DataFrame =
    Corpus(Tables.documents(s, d)).spanDupProfile("source", SpanMinTokens)

  /** Which source feeds copy from each other: distinct shared duplicated
    * windows per source pair ([[graft.Corpus.spanLeakageMatrix]]). */
  private def qSpanLeakage(s: SparkSession, d: String): DataFrame =
    Corpus(Tables.documents(s, d)).spanLeakageMatrix("source", SpanMinTokens)

  /** Incremental-ingestion dedup verdicts: a 10% hash-slice of documents
    * plays the incoming BATCH, the rest the curated REFERENCE; every batch
    * doc gets 'exact' (digest match in reference), 'near' (capped
    * cross-jaccard ≥ 0.5, [[graft.operators.Dedup.crossJaccardPairs]]), or
    * 'kept' — exact precedence first, the [[graft.Corpus.dedupAgainst]]
    * drop set being exactly the non-kept rows. */
  private def qDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val all = Tables.documents(s, d)
    val batch = all.filter(pmod(col("doc_id"), lit(10L)) === 0)
    val ref = all.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
    val ex = batch.select(col("doc_id"), md5(col("text")).as("_d"))
      .join(ref.select(md5(col("text")).as("_d")).distinct(), Seq("_d"), "left_semi")
      .select(col("doc_id")).withColumn("_ex", lit(1))
    val near = Dedup.crossJaccardPairs(batch, ref, "doc_id", "text",
        3, 0.5, JaccardDfCap)
      .select(col("doc_l").as("doc_id")).distinct().withColumn("_nr", lit(1))
    batch.select("doc_id")
      .join(ex, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_ex") === 1, "exact").when(col("_nr") === 1, "near")
          .otherwise("kept").as("verdict"))
  }

  private def qMinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 6).as("est_jaccard"))

  private def qSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc").as("doc_id"), col("simhash"))

  private def qSimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", 2)

  private def qMultimodal(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.withBinaryPayload(Tables.documents(s, d), "text")).toDF()

  /** Real container-header decode end to end: every doc gets a synthetic
    * PNG / JPEG / GIF payload (format cycles on doc_id % 3) with dimensions
    * PLANTED from doc_id arithmetic, then [[graft.operators.Multimodal
    * .HeaderDecoder]] parses the genuine byte layout back and the resize
    * planner computes bounded targets. The oracle recomputes the planted
    * dims + targets from the same arithmetic — any parser/builder offset or
    * endianness slip breaks the hash. (Byte-level parse fixtures with
    * hand-written literal headers live in OperatorsSpec.) */
  private def qMultimodalReal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal.HeaderDecoder
    val payloads = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = 16L + (id * 7L) % 2033L
        val h = 16L + (id * 13L) % 1525L
        val bytes = (id % 5) match {
          case 0L => HeaderDecoder.pngPayload(w, h)
          case 1L => HeaderDecoder.jpegPayload(w, h)
          case 2L => HeaderDecoder.gifPayload(w, h)
          case 3L => // planted 16-bit PCM WAV: rate pool × 1-5 s + remainder
            val rate = Seq(8000L, 16000L, 44100L)(((id / 5L) % 3L).toInt)
            val n = rate * (1L + id % 5L) + id % 997L
            HeaderDecoder.wavPayload(1L + id % 2L, rate, n)
          case _  => // planted faststart MP4: timescale pool × 1-7 s + rem
            val tsc = Seq(600L, 1000L, 90000L)(((id / 5L) % 3L).toInt)
            HeaderDecoder.mp4Payload(w, h, tsc, tsc * (1L + id % 7L) + id % 331L)
        }
        (id, bytes)
      }).toDF("doc_id", "payload")
    Multimodal.withResizeTargets(
        Multimodal.extractFeatures(payloads).toDF(), 512)
      .select(col("doc_id"), col("width"), col("height"), col("duration_ms"),
        col("target_width"), col("target_height"))
  }

  /** Pixel-level image fingerprinting end to end — the signal the header
    * tier can't give (image near-dup needs pixels, not container dims):
    * every doc gets a REAL 18×16 PNG via `javax.imageio` (planted
    * grayscale = the md5-prefix recipe over (src, x, y); doc_id%10==5
    * reuses its predecessor's pixels EXACTLY, %10==9 reuses them with the
    * top-left 2×2 block brightened — planted exact / ≤1-bit-near
    * duplicates), then [[graft.operators.Multimodal.imageDHash]] decodes
    * the PNG back and computes the 64-bit difference hash with
    * integer-only grayscale/box-average/gradient steps. The oracle
    * recomputes the hash from the SAME planted pixels in SQL — any
    * encode/decode asymmetry, resample drift, or bit-packing slip breaks
    * the hash match. PNG is lossless, so decode(encode(px)) == px and the
    * pure-SQL replay is exact. */
  private def qImagePhash(s: SparkSession, d: String): DataFrame =
    imgDHashM(s, d)
      .select(col("doc_id"), col("img_w"), col("img_h"),
        col("dh_hi"), col("dh_lo"))

  /** Memoized decoded dHash frame — the round-12 lesson: qImagePhashPairs
    * composed qImagePhash directly, so the full pixel decode ran TWICE per
    * session (once for the hashes, once inside the pairs' banding input)
    * and the second pass was pure waste — the hash frame is 5 longs/doc.
    * doc_image_phash builds this memo (its wall still times one real
    * decode pass); doc_image_phash_pairs rides the checkpointed blocks. */
  private def imgDHashM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "imgdh")(Multimodal.imageDHash(imgPayloadsM(s, d)))

  /** Memoized planted-PNG payload frame for the pixel tier: fixture
    * SYNTHESIS (an md5 per pixel) is a session cost measured under the
    * bench's `memo_build` line item like every other fixture-shaped cost,
    * so doc_image_* walls time decode + features, not synthesis (the
    * round-10 gate artifact timed the synthesis — VERDICT r10 #4). */
  private def imgPayloadsM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "imgpay") {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val src = if (id % 10 == 5 || id % 10 == 9) id - 1 else id
          (id, Multimodal.PlantedImages.pngBytes(src, 18, 16,
            brighten = id % 10 == 9))
        }).toDF("doc_id", "payload")
    }

  /** Image near-duplicate pairs: Hamming ≤ 3 over the 64-bit dHash via
    * the pigeonhole banded equi-join
    * ([[graft.operators.Dedup.hammingPairs64]] — 4 bands × 16 bits, a
    * pair within distance 3 must agree exactly on ≥ 1 band; no cross
    * join anywhere). Finds the planted exact copies (distance 0) and the
    * brightened near-copies (distance ≤ 1); with ~random 64-bit hashes
    * elsewhere, expected false candidates are C(n,2)·4/2¹⁶ and every one
    * is removed by the exact bit_count re-check. Oracle replays the
    * banding + re-check in SQL over the replayed hashes. */
  private def qImagePhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.hammingPairs64(qImagePhash(s, d), "doc_id", "dh_hi", "dh_lo", 3)

  /** Sample-level audio tier — the PCM analogue of [[qImagePhash]]: every
    * doc gets a REAL 16-bit mono WAV (planted samples = the md5-prefix
    * recipe over (src, i); doc_id%10==5 reuses its predecessor's samples
    * EXACTLY, %10==9 reuses them at 2× gain — the planted "same recording,
    * different level" near-duplicate that byte dedup misses), then
    * [[graft.operators.Multimodal.audioFeatures]] decodes the PCM back and
    * computes integer-exact energy (Σs²), zero crossings, and the 64-bit
    * gain-invariant envelope fingerprint. The oracle recomputes every
    * value from the SAME planted samples in SQL — WAV PCM is lossless, so
    * decode(encode(s)) == s and the replay is exact; the ×2 copies
    * hash-match only because the fingerprint's gradient signs survive
    * exact gain scaling, which is the property under test. */
  private def qAudioFeatures(s: SparkSession, d: String): DataFrame =
    audioFeatM(s, d)

  /** Memoized decoded audio-feature frame — same decode-once discipline as
    * [[imgDHashM]]: doc_audio_fp_pairs composes this query, and without
    * the memo the full PCM decode ran twice per session. */
  private def audioFeatM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "audiofeat")(Multimodal.audioFeatures(wavPayloadsM(s, d)))

  /** Memoized planted-PCM payload frame — same memo_build discipline as
    * [[imgPayloadsM]] (synthesis is an md5 per sample and dominated the
    * round-10 doc_audio_* walls; the r10 workaround halved the fixture
    * instead of moving the cost where it belongs). */
  private def wavPayloadsM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "wavpay") {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val src = if (id % 10 == 5 || id % 10 == 9) id - 1 else id
          (id, Multimodal.PlantedAudio.wavBytes(src, 260,
            gain = if (id % 10 == 9) 2 else 1))
        }).toDF("doc_id", "payload")
    }

  /** Keyframe-level video tier — the ISO-BMFF analogue of [[qImagePhash]]
    * and the last modality to move past header-only: every doc gets a REAL
    * faststart MP4 (genuine moov/trak/mdia/minf/stbl box nesting with
    * stss/stsz/stco sample tables; mdat carries planted RAW gray8 frames —
    * the md5-prefix recipe over (src, frame, x, y); doc_id%10==5 reuses
    * its predecessor's video EXACTLY, %10==9 reuses it with frame 0's
    * top-left 2×2 brightened), then
    * [[graft.operators.Multimodal.videoKeyframes]] walks the sample
    * tables back out (stss sync samples — absent means all-sync per ISO
    * 14496-12 §8.6.2 — stsz sizes, stco offsets), slices the FIRST
    * keyframe's bytes out of mdat, and dHashes it with the identical
    * integer kernel as the image tier. The oracle recomputes frame
    * counts, keyframe counts, duration, and the hash from the SAME
    * planted recipe in SQL — any box-offset, sample-table, or
    * frame-slicing slip breaks the hash match. Honest scope: sample
    * tables parse for ANY faststart MP4; the pixel step applies only to
    * uncompressed gray8 samples (a real codec's frames need ffmpeg and
    * yield null hash words). */
  private def qVideoKeyframes(s: SparkSession, d: String): DataFrame =
    videoKfM(s, d)

  /** Memoized decoded keyframe frame — same decode-once discipline as
    * [[imgDHashM]]: the pairs query composes this one. */
  private def videoKfM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "vidkf")(Multimodal.videoKeyframes(vidPayloadsM(s, d)))

  /** Memoized planted-video payload frame — same memo_build discipline as
    * [[imgPayloadsM]]: frame counts 3/5/7 (src%3), keyframes every 2nd
    * sample, 18×16 frames so the dHash oracle shares the image tier's
    * exact grid geometry. Chunk packing VARIES by source (1/2/3 samples
    * per chunk, src%3): a third of the corpus has no stsc (the historical
    * one-sample-per-chunk layout), the rest carry real multi-sample stsc
    * tables — so the query exercises the §8.7.4 chunk walk at both SFs
    * while the ORACLE stays layout-blind (planted pixels don't move). */
  private def vidPayloadsM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "vidpay") {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val src = if (id % 10 == 5 || id % 10 == 9) id - 1 else id
          (id, Multimodal.PlantedVideo.mp4Bytes(src,
            3 + (src % 3).toInt * 2, 18, 16, brighten = id % 10 == 9,
            samplesPerChunk = 1 + (src % 3).toInt))
        }).toDF("doc_id", "payload")
    }

  /** Video near-duplicate pairs: Hamming ≤ 3 over the first-keyframe
    * dHash via the same pigeonhole banded equi-join as the image/audio
    * tiers ([[graft.operators.Dedup.hammingPairs64]]) — finds the exact
    * re-uploads at distance 0 and the brightened edits at distance ≤ 1. */
  private def qVideoKfPairs(s: SparkSession, d: String): DataFrame =
    Dedup.hammingPairs64(qVideoKeyframes(s, d), "doc_id", "kf_hi", "kf_lo", 3)

  /** Audio near-duplicate pairs: Hamming ≤ 3 over the 64-bit envelope
    * fingerprint via the same pigeonhole banded equi-join as the image
    * tier ([[graft.operators.Dedup.hammingPairs64]]). Finds both planted
    * duplicate classes at distance 0 — the exact copies AND the 2×-gain
    * copies (envelope gradient signs are gain-invariant). Oracle replays
    * the banding + bit_count re-check over the replayed fingerprints. */
  private def qAudioFpPairs(s: SparkSession, d: String): DataFrame =
    Dedup.hammingPairs64(qAudioFeatures(s, d), "doc_id", "fp_hi", "fp_lo", 3)

  /** Embedding-cosine near-duplicate pairs over deterministic char-trigram
    * embeddings (the docs near-dup path when no learned embedding exists):
    * banded hyperplane LSH candidates via equi-join, exact cosine re-check.
    * The oracle is the brute-force all-pairs definition — banded recall at
    * sim ≥ 0.98 is < 1e-6 miss probability and exact on this fixture. */
  private def qDocNearDupCosine(s: SparkSession, d: String): DataFrame = {
    val vecs = docVecsM(s, d)
    // 16 bands × 10 bits: per-pair miss < 1e-5 at sim ≥ 0.98 while buckets
    // stay ~4× smaller than the 8-bit default (candidate count ∝ 2^-bits).
    // NOTE on this fixture's cost: the synthetic docs share one trigram
    // profile, so >half of ALL pairs are genuine LSH candidates (the corpus
    // has ~10⁵ pairs above 0.92 sim) — candidate density here reflects the
    // data, not the plan; on a diverse corpus buckets are sparse.
    Similarity.cosineNearDupPairs(vecs, "vid", "vec", 0.98, bands = 16, bitsPerBand = 10)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        round(col("sim"), 6).as("sim"))
  }

  /** Embedding-space decontamination: the documents corpus split into a
    * "training" side (doc_id % 10 ≠ 0) and a "benchmark" side (% 10 = 0),
    * then every training doc within trigram-cosine ≥ 0.98 of any benchmark
    * doc flagged via [[graft.operators.Similarity.crossCosineMatches]] —
    * banded-signature equi-join candidates, exact re-check (recall regime
    * identical to doc_neardup_cosine, whose brute-force oracle pins it on
    * this fixture). */
  private def qCrossDecontaminate(s: SparkSession, d: String): DataFrame = {
    // both split sides read the SHARED memoized vector blocks (docVecsM) —
    // the operator's map-only broadcast tier then touches the corpus side
    // exactly once and collects the small benchmark side
    val vecs = docVecsM(s, d)
    val corpus = vecs.filter(pmod(col("vid"), lit(10)) =!= 0)
    val probes = vecs.filter(pmod(col("vid"), lit(10)) === 0)
    Similarity.crossCosineMatches(corpus, probes, "vid", "vec", 0.98,
        bands = 16, bitsPerBand = 10)
      .select(col("corpus_id"), col("probe_id"), round(col("sim"), 6).as("sim"))
  }

  /** TF-IDF keyword extraction: every doc's top-3 terms by the smooth-idf
    * weight, rounded-weight-then-term deterministic ranking — both the
    * weights and the ranking hash-check against the same math in SQL. */
  private def qTfidfTopTerms(s: SparkSession, d: String): DataFrame =
    TextOps.topTerms(Tables.documents(s, d), "doc_id", 3)
      .select(col("doc").as("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), round(col("tfidf"), 6).as("tfidf"))

  /** BM25 relevance of every doc against a fixed domain lexicon — the
    * retrieval scoring used to pull domain-relevant docs into a training
    * mix; k1/b at the standard 1.2/0.75, zero for lexicon-free docs. */
  private def qBm25(s: SparkSession, d: String): DataFrame =
    TextOps.bm25(Tables.documents(s, d), "doc_id",
        Seq("join", "spark", "stream", "window"))
      .select(col("doc").as("doc_id"), round(col("bm25"), 6).as("bm25"))

  /** Winnowing rolling-hash fingerprints (k=8, w=4), summarized per doc as
    * (count, sum, min, max) of the selected hash multiset — a four-way
    * check of the full fingerprint set without shipping ~120 rows/doc. */
  /** Memoized winnowed fingerprint frame (distinct (doc, p, h)) — shared
    * by doc_fingerprints and doc_fingerprint_pairs, the docVecsM/jaccardM
    * pattern: one materialized winnow pass per (session, dir). */
  private def docFpsM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "fps")(
      TextOps.winnowFingerprints(Tables.documents(s, d), "doc_id"))

  private def qFingerprints(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val agg = docFpsM(s, d)
      .groupBy("doc").agg(
        count(lit(1)).as("n_fp"),
        // MODULAR sum: h is the 60-bit gram digest, and a raw bigint sum
        // over ~120 fingerprints/doc overflows 63 bits (ANSI throws)
        sum(pmod(col("h"), lit(1000000007L))).as("fp_sum"),
        min("h").as("fp_min"), max("h").as("fp_max"))
      .withColumnRenamed("doc", "doc_id")
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("fp_sum"), lit(0L)).as("fp_sum"),
        coalesce(col("fp_min"), lit(-1L)).as("fp_min"),
        coalesce(col("fp_max"), lit(-1L)).as("fp_max"))
  }

  /** Corpus-trained bigram perplexity per doc — the CCNet-style quality
    * signal; MLE bigram LM fit on the same corpus, ppl = exp(−avg ln P). */
  private def qPerplexity(s: SparkSession, d: String): DataFrame =
    docPplM(s, d)
      .select(col("doc").as("doc_id"), col("n_bigrams"),
        round(col("ppl"), 6).as("ppl"))

  /** Memoized corpus-LM perplexity scores — shared by doc_perplexity and
    * doc_curation_chain's band-pass stage (the LM trains on the FULL
    * corpus in both, so the scores are the same frame). */
  private def docPplM(s: SparkSession, d: String): DataFrame =
    memo(s, d, "ppl")(
      TextOps.bigramPerplexity(Tables.documents(s, d), "doc_id"))

  /** Interpolated Kneser–Ney trigram perplexity, LM fit on the full corpus
    * ([[graft.functions.TextOps.knPerplexity]]) — the smoothed upgrade of
    * [[qPerplexity]]'s MLE bigram: discounted raw counts at the top order,
    * continuation counts below, exact normalization over vocab + OOV
    * (OperatorsSpec pins the estimator against an independent reference
    * and the Σ P = 1 property). */
  private def qKnPerplexity(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextOps.knPerplexity(docs, docs, "doc_id")
      .select(col("doc").as("doc_id"), col("n_grams"),
        round(col("ppl"), 6).as("ppl"))
  }

  /** Held-out Kneser–Ney scoring — LM fit on doc_id % 10 ≠ 0, perplexity
    * of the % 10 = 0 split: the OOV/backoff path a self-scored model can
    * never reach (every self-scored gram was counted by construction) —
    * unseen contexts back off order by order and unseen TOKENS land on the
    * unigram's reserved 1/(V+1) mass instead of −∞, so no scored doc is
    * dropped. The CCNet-style quality-filter deployment shape: score a
    * candidate corpus under a reference-corpus LM. */
  private def qKnPerplexityHeldout(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextOps.knPerplexity(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id")
      .select(col("doc").as("doc_id"), col("n_grams"),
        round(col("ppl"), 6).as("ppl"))
  }

  /** CCNet/fastText-style quality classifier
    * ([[graft.operators.Quality.nbClassifier]]): naive-Bayes log-odds over
    * hashed unigram+bigram features, trained closed-form on the
    * doc_id % 10 ≠ 0 split labeled good = (lang = 'en') — the CCNet
    * in-domain-vs-out deployment shape — scoring EVERY document, so the
    * held-out 10% exercises the OOV-feature path (unseen buckets take the
    * smoothing default via the left join, never −∞). `pred_good` derives
    * from the ROUNDED score so the boundary can't flip between engines. */
  private def qQualityClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Quality.nbClassifier(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .withColumn("is_good", col("lang") === "en"),
        docs, "doc_id", "is_good")
      .select(col("doc").as("doc_id"), col("n_feats"),
        round(col("score"), 6).as("score"),
        (round(col("score"), 6) > 0).cast("int").as("pred_good"))
  }

  /** Distributed BPE vocabulary training ([[graft.operators.Bpe]]): 8
    * merge rounds over the corpus word-type table; the oracle replays the
    * full merge sequence round by round (greedy left-to-right merges via
    * gaps-and-islands parity over hit positions — the SQL twin of the
    * operator's aggregate fold). */
  private def qBpeVocab(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.trainVocab(Tables.documents(s, d), "text", merges = 8)

  /** MOSS-style copy-detection pairs: docs sharing ≥ minShared winnowed
    * fingerprint hashes, stop-phrase hashes df-capped out of the index.
    *
    * The df cap is FRACTIONAL — max(100, 5% of the corpus) — because a
    * "stop phrase" is a phrase appearing in a large share of documents,
    * not a fixed count: the round-12 gate found the flat cap 100 going
    * DEGENERATE at sf0.1 (5000 docs share enough boilerplate that every
    * copied passage's hashes exceeded df 100, so the larger gate SF
    * verified an empty result — a gate that couldn't catch a wrong-pair
    * bug). At sf0.01 the fractional cap still resolves to 100, so the
    * historical results are byte-identical; at sf0.1 it resolves to 250
    * and the gate checks 9 real pairs. Fraction choice is a COST bound
    * too: candidate volume is Σ df², and the measured sf0.1 volumes are
    * 1.1M (cap 100) / 6.8M (cap 250) / 55M (cap 500) rows — 5% keeps the
    * gate non-degenerate at ~6× the historical work instead of ~48×. */
  private def qFingerprintPairs(s: SparkSession, d: String): DataFrame =
    Dedup.fingerprintPairsFrom(docFpsM(s, d), minShared = 50,
        maxDocFreq = math.max(100, math.ceil(docCountM(s, d) * 0.05).toInt))
      .select(col("doc_a"), col("doc_b"), col("n_shared"))

  /** Memoized documents row count per (session, dir) — a dataset-fixed
    * scalar; paying a count job per query invocation would bill repeated
    * fixed work to the op's wall. */
  private val docCountMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]
  private def docCountM(s: SparkSession, d: String): Long =
    docCountMemo.getOrElseUpdate((s, d), Tables.documents(s, d).count())

  /** Token counting (the charter's "whitespace + BPE-ish" pair): whitespace
    * split size + GPT-2-style pre-tokenization piece count, both one
    * codegen'd pass; the oracle replays the SAME RE2-compatible pattern in
    * DuckDB (no lookahead anywhere, so Java regex and RE2 agree). */
  private def qDocTokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_ws_tokens"),
      TextOps.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))

  /** IVF ANN at FULL probe (nProbe = nCells): searches every posting list,
    * so the result is exactly the brute-force top-k (ExactPropertySpec pins
    * the equivalence and partial-probe recall) — which makes the all-pairs
    * SQL definition a valid hash oracle for the whole IVF machinery: KMeans
    * coarse quantizer, cell assignment, per-cell exact re-rank, dedup. */
  private def qEmbKnnIvf(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity.ivfKnn(Tables.embeddings(s, d), "vec_id", "embedding",
        3, nCells = 8, nProbe = 8, queryFilter = col("vid") < 50)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))

  /** PQ ANN at FULL candidate pool (nCand ≥ corpus size at the verify SF)
    * — the emb_knn_ivf full-probe pattern: the exact re-rank then equals
    * brute force, making the all-pairs SQL a valid hash oracle for the
    * whole PQ machinery (subspace codebooks, code assignment, LUT ADC
    * scan, bounded-heap cut, exact re-rank). Partial-pool recall is
    * data-dependent — this fixture's embeddings are clusterless random
    * vectors, PQ's worst case (measured: a true top-3 neighbor can sit at
    * ADC rank ~356 of 500) — so the speed path's pool sizing is a
    * data-quality decision, pinned by ExactPropertySpec, not by this
    * oracle. */
  private def qEmbKnnPq(s: SparkSession, d: String): DataFrame = {
    // probe depth is a RECALL knob and must scale with the corpus — a
    // fixed nCand=512 was exact at sf0.01 (512 ≥ n−1) and silently lost
    // true top-3 neighbors at sf0.1 (512 of 1999 ADC candidates): the same
    // fixed-parameter scale-rot class as r8's pinned LSH band geometry.
    // One count() against the bucketed scan sizes it; a deployment sizes
    // nCand/nprobe to its measured recall target the same way.
    val emb = Tables.embeddings(s, d)
    val nCand = math.max(512L, emb.count() * 2 / 5).toInt
    Similarity.pqKnn(emb, "vec_id", "embedding",
        3, nCand = nCand, queryFilter = col("vid") < 50)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** IVF-PQ (residual codes) at full probe + full pool — exact, so the
    * brute-force SQL oracles the whole two-level machinery (driver-local
    * coarse quantizer, residual subspace codebooks, per-(query,cell)
    * LUTs, cell-gated ADC scan, exact re-rank). The speed path's recall
    * advantage over raw-vector PQ on clustered data is pinned by
    * ExactPropertySpec's A/B and measured in BENCH_SCALE ann_points. */
  private def qEmbKnnIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // full pool sized from the corpus (the emb_knn_pq scale-rot lesson)
    val nCand = emb.count().toInt
    Similarity.ivfPqKnn(emb, "vec_id", "embedding", 3,
        nCells = 8, nProbe = 8, nCand = nCand, queryFilter = col("vid") < 50)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  private def qEmbKnn(s: SparkSession, d: String): DataFrame =
    Similarity.cosineKnn(Tables.embeddings(s, d), "vec_id", "embedding", 5,
        col("vid") < 50)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))

  /** The scale path for ANN: LSH buckets bound the join (shuffle keyed by
    * bucket), exact cosine re-ranks within each bucket. */
  private def qEmbKnnLsh(s: SparkSession, d: String): DataFrame =
    Similarity.cosineKnnLsh(Tables.embeddings(s, d), "vec_id", "embedding", 3, 4)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"))

  private def qEmbLshBuckets(s: SparkSession, d: String): DataFrame =
    Similarity.lshBuckets(Tables.embeddings(s, d), "vec_id", "embedding", 8)
      .select(col("vid").as("vec_id"), col("bucket"))

  private def qArTerms(s: SparkSession, d: String): DataFrame =
    FeatureOps.addArLags(ordersMonthlyM(s, d), Seq(1, 2, 3, 12))
      .select(col(SeriesId), col(Ds), col(Y), col("ar_1"), col("ar_2"), col("ar_3"), col("ar_12"))

  private def qCalendar(s: SparkSession, d: String): DataFrame = {
    val f0 = FeatureOps.addCalendar(
      FeatureOps.addTimeTrend(ordersMonthlyM(s, d)), Seq("month", "quarter", "year"))
    val f1 = FeatureOps.addFourier(f0, col("month"), 12.0, "month")
    val f2 = FeatureOps.addCycle(f1, 13.5, "cyc")
    // `+ 0.0` normalizes IEEE negative zero: DuckDB's ROUND(sin(pi), 6) yields
    // -0.0 where Spark yields +0.0; values compare equal but bit-level hashes differ.
    f2.select(col(SeriesId), col(Ds), col("t"), col("month"), col("quarter"), col("year"),
      (round(col("monthsin"), 6) + lit(0.0)).as("monthsin"),
      (round(col("monthcos"), 6) + lit(0.0)).as("monthcos"),
      (round(col("cycsin"), 6) + lit(0.0)).as("cycsin"),
      (round(col("cyccos"), 6) + lit(0.0)).as("cyccos"))
  }

  private def qNaive(s: SparkSession, d: String): DataFrame = {
    val base = withMonthlyHorizon(ordersMonthlyM(s, d), 12)
    val n1 = Baselines.naiveForecast(base, 1, "yhat_naive")
    val n12 = Baselines.naiveForecast(base, 12, "yhat_snaive")
    n1.join(n12.select(col(SeriesId), col(Ds), col("yhat_snaive")), Seq(SeriesId, Ds))
      .select(col(SeriesId), col(Ds), col(Y), col("yhat_naive"), col("yhat_snaive"), col(IsFuture))
  }

  private def qMetrics(s: SparkSession, d: String): DataFrame = {
    val base = ordersMonthlyM(s, d)
    val z = Transforms.scaleT(base).transform(base)
    val fitted = Baselines.naiveFitted(Baselines.naiveFitted(z, 1, "f_naive"), 12, "f_snaive")
    val a = col(Y)
    def metricsFor(f: Column, model: String): DataFrame =
      fitted.filter(f.isNotNull).groupBy(SeriesId).agg(
        count(lit(1)).as("n"),
        round(Metrics.rmse(a, f), 6).as("rmse"),
        round(Metrics.mse(a, f), 6).as("mse"),
        round(Metrics.mae(a, f), 6).as("mae"),
        round(Metrics.smape(a, f), 6).as("smape"),
        round(Metrics.mape(a, f), 6).as("mape"),
        round(Metrics.r2(a, f), 6).as("r2"),
        round(Metrics.bias(a, f), 6).as("bias"),
        round(Metrics.abias(a, f), 6).as("abias")
      ).withColumn("model", lit(model))
    metricsFor(col("f_naive"), "naive")
      .unionByName(metricsFor(col("f_snaive"), "snaive"))
      .select("model", SeriesId, "n", "rmse", "mse", "mae", "smape", "mape",
        "r2", "bias", "abias")
  }

  private def qScalers(s: SparkSession, d: String): DataFrame = {
    val base = ordersMonthlyM(s, d)
    def one(t: graft.operators.ExprTransform, out: String) =
      t.transform(base).select(col(SeriesId), col(Ds), round(col(Y), 6).as(out))
    one(Transforms.scaleT(base), "y_scale")
      .join(one(Transforms.minmaxT(base), "y_minmax"), Seq(SeriesId, Ds))
      .join(one(Transforms.robustT(base), "y_robust"), Seq(SeriesId, Ds))
  }

  private def qPointwise(s: SparkSession, d: String): DataFrame = {
    val base = ordersMonthlyM(s, d)
    val lg = Transforms.logT(base).transform(base).select(col(SeriesId), col(Ds), round(col(Y), 6).as("y_log"))
    val sq = Transforms.sqrtT(base).transform(base).select(col(SeriesId), col(Ds), round(col(Y), 6).as("y_sqrt"))
    val bc = Transforms.boxcoxT(base, 0.5).transform(base).select(col(SeriesId), col(Ds), round(col(Y), 6).as("y_boxcox"))
    base.select(col(SeriesId), col(Ds), col(Y))
      .join(lg, Seq(SeriesId, Ds)).join(sq, Seq(SeriesId, Ds)).join(bc, Seq(SeriesId, Ds))
  }

  private def qDiff(s: SparkSession, d: String): DataFrame = {
    val base = ordersMonthlyM(s, d)
    val d1 = Transforms.diffT(base, 1).transform(base).select(col(SeriesId), col(Ds), round(col(Y), 2).as("d1"))
    val d12 = Transforms.diffT(base, 12).transform(base).select(col(SeriesId), col(Ds), round(col(Y), 2).as("d12"))
    base.select(col(SeriesId), col(Ds), col(Y)).join(d1, Seq(SeriesId, Ds)).join(d12, Seq(SeriesId, Ds))
  }

  private def qDetrend(s: SparkSession, d: String): DataFrame = {
    val base = ordersMonthlyM(s, d)
    Transforms.detrendLinearT(base).transform(base)
      .withColumnRenamed(Y, "resid")
      .join(base.select(col(SeriesId), col(Ds), col(Y)), Seq(SeriesId, Ds))
      .select(col(SeriesId), col(Ds), col(Y), round(col("resid"), 0).as("resid"),
        round(col(Y) - col("resid"), 0).as("trend")) // y - (y - trend): same op order as oracle
  }

  private def qDeseason(s: SparkSession, d: String): DataFrame = {
    val base = ordersMonthlyM(s, d)
    Transforms.deseasonT(base, 12).transform(base)
      .withColumnRenamed(Y, "deseasoned")
      .join(base.select(col(SeriesId), col(Ds), col(Y)), Seq(SeriesId, Ds))
      .select(col(SeriesId), col(Ds), col(Y), round(col("deseasoned"), 0).as("deseasoned"))
  }

  private def qTrendSeasonal(s: SparkSession, d: String): DataFrame = {
    val base = withTestFlag(withMonthlyHorizon(ordersMonthlyM(s, d), 12), 12)
    Baselines.trendSeasonal(base)
      .select(col(SeriesId), col(Ds), col(Y), round(col("yhat"), 0).as("yhat"),
        col("is_test"), col(IsFuture))
  }

  private def qConformal(s: SparkSession, d: String): DataFrame = {
    val base = withTestFlag(withMonthlyHorizon(ordersMonthlyM(s, d), 12), 12)
    Conformal.withIntervals(Baselines.trendSeasonal(base))
      .filter(col(IsFuture))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 0).as("yhat"),
        round(col("lower"), 0).as("lower"), round(col("upper"), 0).as("upper"),
        round(col("ci_width"), 0).as("ci_width"))
  }

  /** Grouped conformal intervals on the by-series tier: per-series OLS
    * (trend + one Fourier pair) over the 5 z-scored segment series via
    * GroupedOls.fitPredictBySeries — the (series_id, ds, yhat)-only shape
    * every by-series path shares — then Conformal.attachBySeries re-joins
    * the holdout metadata and computes ONE exact-percentile width per
    * series. Oracle replays the grouped Cholesky chain (one fit per series
    * in one solve CTE chain) + quantile_cont per series. */
  private def qConformalBySeries(s: SparkSession, d: String): DataFrame = {
    val w1 = graft.models.ProphetLike.omega(1, 12.0)
    val base = withTestFlag(withMonthlyHorizon(zSegmentsMonthly(s, d), 12), 12)
    val withF = FeatureOps.addTimeTrend(base)
      .withColumn("s1", sin(lit(w1) * col("t")))
      .withColumn("c1", cos(lit(w1) * col("t")))
    val feats = Seq("t", "s1", "c1")
    val scored = graft.models.GroupedOls.fitPredictBySeries(withF, feats)
    Conformal.attachBySeries(withF, scored)
      .filter(col(IsFuture))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"),
        round(col("lower"), 6).as("lower"), round(col("upper"), 6).as("upper"),
        round(col("ci_width"), 6).as("ci_width"))
  }

  /** Per-step dynamic conformal intervals ON THE BY-SERIES TIER
    * (`backtest_for_resid_matrix` → `overwrite_forecast_intervals`,
    * util.py:1157-1270, applied per series): the same 3-iteration
    * seasonal-naive backtest as ts_dynamic_ci, but over the 5-segment
    * fixture — [[Conformal.dynamicIntervals]] groups its residual
    * percentile by (series, step), so each segment gets its own
    * step-widening width profile from its own backtest residuals (grouped
    * conformal gave ONE width per series; this is the per-step form the
    * facade path had and the by-series tier lacked). One aggregation per
    * ~anything: widths = one groupBy(series, step) percentile; everything
    * else is windows + a broadcast join back. Oracle replays the grouped
    * window/quantile_cont chain per segment. */
  private def qDynamicCiBySeries(s: SparkSession, d: String): DataFrame = {
    val z = zSegmentsMonthly(s, d)
    val scored = (0 until 3).map { i =>
      val chopped = if (i == 0) z else chopFromFront(z, i * 6)
      Baselines.naiveFitted(withTestFlag(chopped, 6), 12)
    }
    val fc = Baselines.naiveForecast(withMonthlyHorizon(z, 6), 12)
    Conformal.dynamicIntervals(scored, fc)
      .filter(col(IsFuture))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"),
        round(col("lower"), 6).as("lower"), round(col("upper"), 6).as("upper"))
  }

  /** Johansen trace test on two segment series (k = 2 — the oracle solves
    * the 2×2 generalized eigenproblem in closed form). */
  private def qMvCointRank(s: SparkSession, d: String): DataFrame = {
    val sids = Seq("AUTOMOBILE", "BUILDING")
    val seg = segmentMonthlyM(s, d).filter(col(SeriesId).isin(sids: _*))
    val (lambda, trace, rank) =
      graft.models.Vecm.johansenTrace(seg, sids, diffLags = 1, detOrder = -1)
    import s.implicits._
    Seq((lambda(0), lambda(1), trace(0), trace(1), rank.toLong))
      .toDF("lambda1", "lambda2", "trace0", "trace1", "rank")
      .select(round(col("lambda1"), 6).as("lambda1"),
        round(col("lambda2"), 6).as("lambda2"),
        round(col("trace0"), 6).as("trace0"),
        round(col("trace1"), 6).as("trace1"), col("rank"))
  }

  /** Unrestricted VECM one-step level predictions on two z-scored segment
    * series; the oracle replays both per-equation OLS fits via Cholesky. */
  private def qMvVecm(s: SparkSession, d: String): DataFrame = {
    val sids = Seq("AUTOMOBILE", "BUILDING")
    val seg = segmentMonthlyM(s, d).filter(col(SeriesId).isin(sids: _*))
    val z = Transforms.scaleT(seg).transform(seg)
    graft.models.Vecm.fitPredict(z, sids, diffLags = 1)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(col("yhat"), 6).as("yhat"))
  }

  /** Multi-series recursion honesty check: one POOLED AR(1) mlr over all 5
    * segment series + the shared-ledger dynamic forecast. Every window in
    * the plan is partitioned by a real 5-value series_id, so the bench keeps
    * partitioned WindowExecs (no single-partition degeneration) and the
    * ledger recursion is exercised across series. Oracle: pooled
    * regr_slope/intercept + per-series AR(1) closed form. */
  private def qSegDynamic(s: SparkSession, d: String): DataFrame = {
    val seg = segmentMonthlyM(s, d)
    val z = Transforms.scaleT(seg).transform(seg)
    val withAr = FeatureOps.addArTerms(withMonthlyHorizon(z, 6), 1)
    val model = graft.models.MllibTsEstimator("mlr", Seq("ar_1")).fit(withAr)
    graft.models.Recursive.dynamicForecast(withAr, model)
      .filter(col(IsFuture))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"))
  }

  /** MV recursive multi-step forecast (models.py:368-407): one mlr per
    * target on cross-series lag-1 features, 6 horizon steps where EVERY
    * series' step-i prediction feeds every series' step-i+1 lags. Oracle:
    * per-equation Cholesky OLS + one recursive CTE carrying both series'
    * predictions. */
  private def qMvDynamic(s: SparkSession, d: String): DataFrame = {
    import graft.models.MvForecast
    val sids = Seq("AUTOMOBILE", "BUILDING")
    val seg = segmentMonthlyM(s, d).filter(col(SeriesId).isin(sids: _*))
    val z = Transforms.scaleT(seg).transform(seg)
    // one materialization of the (tiny) lagged frame: the OLS moments pass,
    // the recursion seed, and the fitted pass all read it instead of
    // re-running the fact scan + aggregation per action
    val withLags = MvForecast.addCrossSeriesLags(withMonthlyHorizon(z, 6), sids, 1)
      .localCheckpoint(true)
    val fits = MvForecast.fitPerSeriesOls(withLags, sids, 1)
    MvForecast.dynamicForecastOls(withLags, fits, sids, 1)
      .filter(col(IsFuture))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"))
  }

  /** MV facade backtest on the 2-series coupled frame: two origins 6 rows
    * apart, each refitting both cross-lag equations on its own train slice
    * and scoring the 12-row holdout statically (the banked-results
    * convention — test rows predict from actual lags). Oracle: per-(iter,
    * series) keyed moments + Cholesky solves over the shared lag table. */
  private def qMvBacktest(s: SparkSession, d: String): DataFrame = {
    val sids = Seq("AUTOMOBILE", "BUILDING")
    val seg = segmentMonthlyM(s, d).filter(col(SeriesId).isin(sids: _*))
    val z = Transforms.scaleT(seg).transform(seg)
    MvForecaster(z, sids)
      .backtest(nIter = 2, h = 12, jumpBack = 6, parallelism = 2)
      .select(col("iter").cast("long").as("iter"), col(SeriesId),
        round(col("rmse"), 6).as("rmse"), round(col("mae"), 6).as("mae"))
  }

  /** `train_only` leakage discipline (SeriesTransformer.py:400-404): scaler
    * params fit ONLY on rows up to the trainEnd bound, transform applied to
    * every row — the oracle fits μ/σ on the same slice. */
  private def qTrainOnly(s: SparkSession, d: String): DataFrame = {
    val base = ordersMonthlyM(s, d)
    Transforms.scaleT(base, Some("1999-12-01")).transform(base)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y_scaled"))
  }

  /** `ingest_Xvars_df` with categorical dummies + 0-padding
    * (_Forecaster_parent.py:1471-1543): a regressor frame truncated 6 rows
    * early, so the pad path fills the uncovered dates with zeros. */
  private def qIngestXvars(s: SparkSession, d: String): DataFrame = {
    val base = ordersMonthlyM(s, d)
    // drop the 6 newest dates via one scalar cutoff (monthly spine), not a
    // global unpartitioned window — the only such window the suite had
    val maxDs = base.filter(!col(IsFuture)).agg(max(col(Ds))).first().getDate(0)
    val xv = base.filter(!col(IsFuture))
      .select(col(Ds), month(col(Ds)).cast("double").as("mnum"),
        when(month(col(Ds)) % 2 === 0, "even").otherwise("odd").as("season"))
      .filter(col(Ds) <= add_months(lit(maxDs), -6))
    graft.core.SeriesFrame.ingestXvars(base, xv, pad = true)
      .select(col(SeriesId), col(Ds), col(Y), col("mnum"),
        col("season_even"), col("season_odd"))
  }

  /** `export_fitted_vals` (Forecaster.py:2321-2339): actuals / fitted /
    * residuals for a banked model over the train slice. */
  private def qExportFitted(s: SparkSession, d: String): DataFrame = {
    val base = withTestFlag(zOrdersMonthly(s, d), 12)
    val results = graft.results.ResultsStore.bank(Baselines.naiveFitted(base, 12), "snaive")
    graft.results.ResultsStore.exportFittedVals(results, "snaive")
      .filter(col("fitted_vals").isNotNull)
      .select(col(SeriesId), col(Ds), round(col("actuals"), 6).as("actuals"),
        round(col("fitted_vals"), 6).as("fitted_vals"),
        round(col("residuals"), 6).as("residuals"))
  }

  /** `combo` (models.py:1604-1633): simple average and the metric-weighted
    * variant (worst→best reversal) over naive + snaive fitted values. */
  private def qCombo(s: SparkSession, d: String): DataFrame = {
    val z = zOrdersMonthly(s, d)
    val fitted = Baselines.naiveFitted(Baselines.naiveFitted(z, 1, "f1"), 12, "f2")
      .filter(col("f1").isNotNull && col("f2").isNotNull)
    // deterministic metric weights: per-model in-sample rmse, worst→best
    val r = fitted.agg(
      sqrt(avg(pow(col(Y) - col("f1"), 2))).as("r1"),
      sqrt(avg(pow(col(Y) - col("f2"), 2))).as("r2")).first()
    val (r1, r2) = (r.getDouble(0), r.getDouble(1))
    // order worst→best by rmse, weights ∝ score/Σ then REVERSED (the
    // reference's lower-is-better trick hands the best model the big share)
    val (cols, scores) = if (r1 >= r2) (Seq("f1", "f2"), Seq(r1, r2))
                         else (Seq("f2", "f1"), Seq(r2, r1))
    val out = Baselines.comboMetricWeighted(
      Baselines.comboAvg(fitted, Seq("f1", "f2"), "combo_avg"),
      cols, scores, lowerIsBetter = true, "combo_w")
    out.select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
      round(col("combo_avg"), 6).as("combo_avg"), round(col("combo_w"), 6).as("combo_w"))
  }

  /** `corr_lags` (MVForecaster.py:1012-1074): Pearson corr of AUTOMOBILE with
    * the k-lagged BUILDING series, lags 0..3 from ONE window pass. */
  private def qMvCorrLags(s: SparkSession, d: String): DataFrame =
    graft.functions.Diagnostics.corrLags(segmentMonthlyM(s, d),
        "AUTOMOBILE", "BUILDING", 3)
      .select(col("sid_a"), col("sid_b"), col("lag").cast("long").as("lag"),
        round(col("corr"), 6).as("corr"))

  private def qMvCorr(s: SparkSession, d: String): DataFrame =
    graft.functions.Diagnostics.corrMatrix(segmentMonthlyM(s, d))
      .select(col("sid_a"), col("sid_b"), round(col("corr"), 6).as("corr"), col("n"))

  private def qSessionize(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).sessionize()

  /** Top 3-step within-session event paths (the "what happens before X"
    * monitoring view): [[graft.Events.topPaths]] over the gap sessions. */
  private def qTopPaths(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).topPaths(n = 3, k = 10)

  /** Gopher/C4 repetition gates (Rae et al. 2021 §A1.1): top-2-gram char
    * fraction, duplicate-3-gram char fraction, mean word length, and the
    * composite keep flag — all statistics AND the decision hash-checked. */
  /** PII gate over deterministic "profile" text derived from `customer`
    * (the documents fixture is PII-free word soup, so the fixture text is
    * CONSTRUCTED in-query from driver data — modular-key cases decide which
    * rows carry an email / phone / IP / long id, and c_name's own 9-digit
    * key runs give organic long-id hits). Both the per-category counts and
    * the full redaction chain hash-check against the same construction in
    * the oracle. */
  private def qPiiRedact(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Pii
    val key = col("c_custkey")
    val text = concat_ws(" ",
      col("c_name"), lit("segment"), col("c_mktsegment"),
      when(pmod(key, lit(3)) === 0,
        concat(lit("contact user"), key.cast("string"), lit("@example.com")))
        .otherwise(lit("no email on file")),
      when(pmod(key, lit(4)) === 0,
        concat(lit("tel 1-555-"), lpad(pmod(key * 7, lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(key, lit(5)) === 0,
        concat(lit("last ip 10."), pmod(key, lit(256)).cast("string"),
          lit(".0."), pmod(key * 3, lit(256)).cast("string")))
        .otherwise(lit("")))
    val prof = Tables.customer(s, d).select(key.as("doc_id"), text.as("text"))
    Pii.withRedacted(Pii.withPiiStats(prof))
      .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_phone"),
        col("n_long_id"), col("has_pii"), col("redacted"))
  }

  private def qGopherRepetition(s: SparkSession, d: String): DataFrame =
    Quality.gopherKeep(Quality.repetitionStats(Tables.documents(s, d), "doc_id", "text"))
      .select(col("doc").as("doc_id"),
        round(col("top2gram_frac"), 6).as("top2gram_frac"),
        round(col("dup3gram_frac"), 6).as("dup3gram_frac"),
        round(col("mean_word_len"), 6).as("mean_word_len"), col("keep"))

  /** Benchmark decontamination (GPT-3 §C n-gram overlap): the corpus checked
    * against a carved-out benchmark slice (doc_id % 20 == 0); flagged pairs
    * with their overlap fraction. */
  private def qDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Decontaminate.contaminatedPairs(docs, docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", 3, 0.5)
      .select(col("doc").as("doc_id"), col("bench_id"),
        round(col("overlap_frac"), 6).as("overlap_frac"))
  }

  /** Bloom-prefiltered decontamination
    * ([[graft.operators.Decontaminate.contaminatedPairsBloom]]): the exact
    * inverted-index overlap, but non-candidate train shingles are dropped by
    * a benchmark-shingle Bloom probe BEFORE the equi-join exchange — the
    * plan a 100 TB run needs (train shingle volume dominates; ~all of it
    * matches nothing). Different bench slice + threshold than
    * doc_decontaminate so the two queries pin independent result sets; the
    * oracle is the plain inverted-index SQL because the Bloom layer is
    * result-invariant by construction (false positives die in the exact
    * join; the denominator is unfiltered). */
  private def qDecontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Decontaminate.contaminatedPairsBloom(docs,
        docs.filter(col("doc_id") % 17 === 3), "doc_id", "text",
        n = 3, minFrac = 0.4)
      .select(col("doc").as("doc_id"), col("bench_id"),
        round(col("overlap_frac"), 6).as("overlap_frac"))
  }

  /** Deterministic stratified hash sampling (training-mix quotas): 50% of
    * long documents, 25% of short ones, membership a pure content-hash
    * predicate — reproducible across engines and partitionings, which is
    * exactly what the oracle verifies. */
  private def qSampleHash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("stratum",
      when(size(graft.functions.TextOps.tokens(col("text"))) >= 60, "long")
        .otherwise("short"))
    Sampling.stratifiedHashSample(docs, "doc_id", "stratum",
        Map("long" -> 0.5, "short" -> 0.25))
      .select(col("doc_id"), col("stratum"))
  }

  /** Temperature-scaled mixture sample (p_d ∝ n_d^0.5, target 200 rows)
    * over the same long/short strata as doc_sample_hash — the rates come
    * from the corpus counts, not from the caller. */
  private def qMixtureTemp(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("stratum",
      when(size(graft.functions.TextOps.tokens(col("text"))) >= 60, "long")
        .otherwise("short"))
    Sampling.temperatureSample(docs, "doc_id", "stratum", alpha = 0.5,
        targetTotal = 200)
      .select(col("doc_id"), col("stratum"))
  }

  /** Token-budget mixture spec over the documents table's real `source`
    * strata: src0 gets 80% of a 2000-token budget, src1/2/3 the rest,
    * every other source share 0. At sf0.01 src0's 1600-token budget
    * EXCEEDS its ~1.4k available tokens (rate caps at 1); at sf0.1 it
    * doesn't (rate ~0.12) — the standing dual-SF gate exercises both
    * branches of the cap. */
  private val budgetShares = Map(
    "src0" -> 0.8, "src1" -> 0.1, "src2" -> 0.06, "src3" -> 0.04)

  private def docsWithTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).withColumn("n_tokens",
      size(graft.functions.TextOps.tokens(col("text"))).cast("long"))

  /** Per-source accounting a mixture build is planned from: available
    * tokens, integer token budget, capped keep-rate. */
  private def qTokenBudgetPlan(s: SparkSession, d: String): DataFrame =
    Sampling.tokenBudgetPlan(docsWithTokens(s, d), "source", col("n_tokens"),
      targetTokens = 2000, shares = budgetShares)

  /** The realized sample under the same spec: content-hash membership at
    * the plan's rates, so the doc set is reproducible and the oracle
    * replays membership row by row. */
  private def qTokenBudgetSample(s: SparkSession, d: String): DataFrame =
    Sampling.tokenBudgetSample(docsWithTokens(s, d), "doc_id", "source",
        col("n_tokens"), targetTokens = 2000, shares = budgetShares)
      .select(col("doc_id"), col("source"), col("n_tokens"))

  /** The round-5 curation tier composed end to end — perplexity band-pass
    * (LM trained on the full corpus; band on the 6dp-rounded score so the
    * gate itself is the hash-stable value) → winnowing-fingerprint passage
    * dedup over the survivors → temperature mixture sample of what's left.
    * Each stage is independently hash-checked; this query pins the JOIN
    * semantics BETWEEN stages (semi/anti joins, stage-local doc frequencies
    * and stage-local mixture counts). */
  private def qCurationChain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keep = docPplM(s, d)
      .filter(round(col("ppl"), 6).between(28.0, 31.0))
      .select(col("doc").as("doc_id"))
    val banded = docs.join(keep, Seq("doc_id"), "left_semi")
    // winnow fingerprints are doc-LOCAL, so the survivors' fingerprint set
    // is exactly the memoized frame semi-joined to the survivors; the
    // stage-local part (df caps, pair counts) runs on the filtered set
    val survFps = docFpsM(s, d).join(
      banded.select(col("doc_id").as("doc")), Seq("doc"), "left_semi")
    val dupIds = Dedup.fingerprintPairsFrom(survFps, minShared = 50,
        maxDocFreq = 100)
      .select(col("doc_b").as("doc_id")).distinct()
    // the mixture stage only needs (doc_id, stratum) — materialize that
    // NARROW frame once (lazy checkpoint), so temperatureSample's two
    // passes (rate aggregation + membership scan) read two slim columns
    // instead of re-running the band-pass + pair-join lineage per pass
    val strat = banded.join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        when(size(TextOps.tokens(col("text"))) >= 60, "long").otherwise("short")
          .as("stratum"))
      .localCheckpoint(false)
    Sampling.temperatureSample(strat, "doc_id", "stratum", alpha = 0.5,
        targetTotal = 150)
      .select(col("doc_id"), col("stratum"))
  }

  /** Curation lineage audit ([[graft.Corpus.audit]]): the SAME three-stage
    * chain as doc_curation_chain, but instead of the survivor set the output
    * labels EVERY input doc with the first stage that dropped it — the
    * per-record provenance a production curation run must be able to answer
    * ("why is doc X missing from the training mix?"). Stage inputs reuse
    * the session memos exactly as qCurationChain does, so the audited chain
    * and the declared chain are the same computation. */
  private def qCurationAudit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val stages = Seq[(String, Corpus => Corpus)](
      "perplexity" -> { c =>
        val keep = docPplM(s, d)
          .filter(round(col("ppl"), 6).between(28.0, 31.0))
          .select(col("doc").as("doc_id"))
        c.copy(docs = c.docs.join(keep, Seq("doc_id"), "left_semi"))
      },
      "fingerprint" -> { c =>
        val survFps = docFpsM(s, d).join(
          c.docs.select(col("doc_id").as("doc")), Seq("doc"), "left_semi")
        val dupIds = Dedup.fingerprintPairsFrom(survFps, minShared = 50,
            maxDocFreq = 100)
          .select(col("doc_b").as("doc_id")).distinct()
        c.copy(docs = c.docs.join(dupIds, Seq("doc_id"), "left_anti"))
      },
      "sample" -> { c =>
        val strat = c.docs.withColumn("stratum",
          when(size(TextOps.tokens(col("text"))) >= 60, "long")
            .otherwise("short"))
        c.copy(docs = Sampling.temperatureSample(strat, "doc_id", "stratum",
            alpha = 0.5, targetTotal = 150)
          .select(c.docs.columns.map(col).toSeq: _*))
      })
    Corpus(docs).audit(stages)
  }

  /** Blocked cross-lag VAR (the scale path past MvForecast.CoupledSetMax):
    * per-target source blocks from the lag-1 correlation screen (self +
    * top-2 foreign sources), then every equation's bounded OLS fit from ONE
    * grouped moments aggregation with executor-side solves. Output: every
    * equation's β labeled by the screened source it multiplies — both the
    * screen DECISION and the fit are hash-checked. */
  private def qBlockedVar(s: SparkSession, d: String): DataFrame = {
    val (fits, block) = blockedFitM(s, d)
    fits.select(col("target"), posexplode(col("beta")).as(Seq("fi", "beta")))
      .join(block.withColumnRenamed("src_rank", "fi"), Seq("target", "fi"), "left")
      .select(col("target").as(SeriesId), col("fi").cast("long").as("fi"),
        coalesce(col("src"), lit("intercept")).as("src"),
        round(col("beta"), 6).as("beta"))
  }

  /** ANN-screened blocked-VAR source selection, declared end-to-end: an
    * 8-series frame derived from the z-scored orders series with PLANTED
    * strong lag couplings — four followers tracking ±(the driver's lag)
    * with tiny md5-hash wiggle, three pure-hash noise series. Planted
    * |corr| ≈ 0.99 vs background ≈ |lag-1 autocorr| ≈ 0.1, so the 0.6 gate
    * separates cleanly and [[graft.models.BlockedVar.screenApprox]]'s
    * candidate tier (profile cosine == Pearson on the full window) must
    * reproduce EXACTLY the quadratic screen the oracle replays in SQL —
    * including the negative couplings, which only the both-signs probing
    * can see. */
  private def qScreenApprox(s: SparkSession, d: String): DataFrame = {
    val base = zOrdersMonthly(s, d)
      .select(col(Ds), col(Y), lag(col(Y), 1).over(w).as("ylag"))
      .filter(col("ylag").isNotNull)
    def noiseCol(tag: String): Column =
      (pmod(TextOps.hash32(concat(col(Ds).cast("string"), lit("_" + tag))),
        lit(1000)).cast("double") / 1000.0) - 0.5
    val driver = base.select(lit("a").as(SeriesId), col(Ds), col(Y))
    val followers = Seq("f1" -> 1.0, "f2" -> -1.0, "f3" -> 0.9, "f4" -> -0.9)
      .map { case (n, c) => base.select(lit(n).as(SeriesId), col(Ds),
        (lit(c) * col("ylag") + lit(0.1) * noiseCol(n)).as(Y)) }
    val noisers = Seq("n1", "n2", "n3").map(n =>
      base.select(lit(n).as(SeriesId), col(Ds), noiseCol(n).as(Y)))
    val frame = (driver +: (followers ++ noisers)).reduce(_ unionByName _)
      .withColumn(IsFuture, lit(false))
    graft.models.BlockedVar.screenApprox(frame, maxSources = 2,
        minAbsCorr = 0.6, profileWindow = 256)
      .select(col("target"), col("src"), col("src_rank").cast("long").as("src_rank"))
  }

  /** Blocked-VAR recursive 6-step horizon over the 5 z-scored segments:
    * every step fills each target's screened-source lags from the shared
    * ledger (actuals ∪ predictions) — the coupled walk at blocked scale.
    * Oracle collapses the blocked equations into a 5×5 update matrix W
    * (w[t][s] = Σ β_rank over block rows routing source s into target t)
    * and walks a recursive CTE. */
  private def qBlockedDynamic(s: SparkSession, d: String): DataFrame = {
    // lineUpDates enforces BlockedVar's date-aligned contract (segments can
    // end on different months at small SF); the fit is shared with
    // mv_blocked_var via the memo
    val base = withMonthlyHorizon(
      SeriesFrame.lineUpDates(zSegmentsMonthly(s, d)), 6)
    val (fits, block) = blockedFitM(s, d)
    graft.models.BlockedVar.dynamicForecastWith(base, fits, block,
        maxLag = 1, maxSources = 3)
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"))
  }

  /** GPT-style concat-and-chunk sequence packing: whitespace token counts →
    * 8 hash shards → per-shard running offsets → 256-token context-window
    * spans. Every number is a deterministic integer, so the whole packing
    * layout hash-checks. */
  private def qPackChunks(s: SparkSession, d: String): DataFrame = {
    val withCounts = Tables.documents(s, d)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
    graft.operators.Packing.concatChunks(withCounts, "doc_id", "n_tokens", 256, 8)
      .select(col("doc_id"), col("shard"), col("offset_start"),
        col("chunk_start"), col("chunk_end"))
  }

  /** Semi-structured props extraction: `from_json` with an explicit typed
    * schema (one codegen'd JsonToStructs per row — never a Python/Scala UDF
    * parse) feeding a keyed aggregation. The 100 TB shape for event
    * payloads: parse projects ONLY the declared fields, so a 2 KB props
    * blob costs one column's worth of work. */
  private def qEventsPropsAgg(s: SparkSession, d: String): DataFrame = {
    val propsSchema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"), propsSchema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        round(avg("k"), 6).as("avg_k"),
        sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_hi"))
  }

  /** [[Corpus.qualityQuantiles]] declared: per-stratum exact interpolated
    * quality quantiles — the threshold-picking table a curation mix is
    * tuned with. Oracle: DuckDB `quantile_cont` over the same 6dp-rounded
    * scores (both engines interpolate identically on identical inputs). */
  private def qQualityQuantiles(s: SparkSession, d: String): DataFrame =
    Corpus(Tables.documents(s, d)).qualityQuantiles(
      when(col("n_tokens") >= 60, "long").otherwise("short"),
      Seq(0.1, 0.25, 0.5, 0.75, 0.9))

  /** [[graft.operators.AsOf.asofJoin]] declared: every purchase event
    * joined to the same user's most recent at-or-before view (time + value)
    * — the state-at-event-time lookup every event pipeline needs. Oracle:
    * DuckDB's native ASOF LEFT JOIN. */
  private def qEventsAsofView(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    // unique right rows per (key, time): the operator's determinism contract
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("vval"))
    graft.operators.AsOf.asofJoin(purchases, views, Seq("user_id"),
        "ts", "ts", Seq("vval"))
      .select(col("user_id"), col("event_id"),
        expr("ts_asof div 1000000").as("view_ms"),
        round(col("vval_asof"), 4).as("view_value"))
  }

  /** [[graft.operators.IntervalJoin.intervalJoin]] declared: every
    * (view, click) pair per user with the click inside the 24h window
    * after the view — the windowed-attribution primitive, bucketed so the
    * plan is an equi-join, never a per-key theta-join. */
  private def qEventsIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val day = 86400L * 1000 * 1000 * 1000 // 24h in epoch-ns
    graft.operators.IntervalJoin.intervalJoin(views, clicks, Seq("user_id"),
        "ts", "cts", Seq("click_id"), 0L, day)
      .select(col("user_id"), col("view_id"), col("click_id_r").as("click_id"),
        expr("(cts_r - ts) div 1000000").as("gap_ms"))
  }

  private def qEventsHourly(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).hourly

  /** Windowed conversion funnel (view → click → purchase, each next
    * stage within 24h of the previous): each stage is the users whose
    * EARLIEST qualifying event falls strictly inside the window after
    * their previous stage's time — per-user aggregates joined stage to
    * stage (each stage frame is one row per user, keyed by user_id; the
    * raw events are scanned once per stage with the type filter pushed to
    * the parquet scan). The 24h bound makes the ordering genuinely
    * binding on the fixture (~32h mean inter-event gap per user).
    * Output: stage → user count. */
  private def qEventsFunnel(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d))
      .funnel(Seq("view", "click", "purchase"), 86400L * 1000 * 1000 * 1000)

  /** Cohort retention matrix: users grouped by first-seen day, counted on
    * each of their active days in the first week (offset 0–7). One
    * distinct (user, day) reduction, a per-user min, and one aggregation —
    * the user dimension never leaves its shuffle key. */
  private def qEventsRetention(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).retention(7)

  /** Hourly heavy hitters: top-3 users by event count per hour, rank
    * deterministic on (count desc, user_id asc). Shape: one aggregation
    * keyed (hour, user) — already the reduced frame — then the bounded
    * [[graft.functions.TopKPairs]] aggregate keyed by hour: map-side
    * partials cut each partition to ≤ k pairs per hour before the
    * exchange, so the heavy-hitter step shuffles `hours × k` rows and
    * sorts nothing — the `row_number() OVER (PARTITION BY hour)` form
    * this replaces shuffles every (hour, user) row and sorts each hour
    * partition only to discard all but 3 (TopKSpec pins equality). */
  private def qEventsTopkUsers(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).topUsers(3)

  /** Per-label embedding centroids: mean vector per cluster label without
    * ever materializing a per-group vector collection — `posexplode` to
    * (label, dim, x) and one (label, dim) aggregation, so the shuffle key
    * carries the dimension index and a billion vectors reduce map-side.
    * The centroid step of embedding-space clustering curation (SemDeDup-
    * style: cluster, then prune near-dups within clusters against the
    * centroid); pairs with emb_knn_ivf's KMeans quantizer. */
  private def qEmbCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")))
      .groupBy(col("label"), col("pos").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), round(avg(col("col")), 6).as("centroid"))

  /** Revenue share per region — the full dim chain
    * (orders ⨝ customer ⨝ nation ⨝ region, successively smaller broadcast
    * dims) plus a broadcast one-row grand total, so the share computation
    * adds no second fact pass. Cents-quantized totals (the ts_build_star
    * discipline). */
  private def qRegionShare(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .join(graft.core.Joins.maybeBroadcast(
          Tables.customer(s, d).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(sum("cents").as("cents"))
    val total = rev.agg(sum("cents").as("tot"))
    rev.join(broadcast(total))
      .select(col("region"), round(col("cents") / 100.0, 2).as("revenue"),
        round(col("cents") / col("tot"), 6).as("share"))
  }

  /** Weekly shipped-quantity series per part brand — the second lake
    * ingest shape: lineitem ⨝ part (mid-size dim through the size-gated
    * broadcast), weekly truncation (`weekofyear` frequency feeds the
    * weekly-naive tier). Quantities are exact integers in the fixture, so
    * the sum needs no rounding discipline. */
  private def qBuildBrandWeekly(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_shipdate"), col("l_quantity"))
      .join(graft.core.Joins.maybeBroadcast(
          Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as(SeriesId),
        date_trunc("week", col("l_shipdate")).cast("date").as(Ds))
      .agg(round(sum("l_quantity"), 2).as(Y))
      .withColumn(IsFuture, lit(false))
      .select(SeriesId, Ds, Y, IsFuture)
      .orderBy(SeriesId, Ds)

  /** Suppliers with no shipments in the fixture's final month — the
    * anti-join churn/inactivity check over the supplier dimension: one
    * aggregate for the cutoff (broadcast one-row frame), one left_anti
    * against the pruned fact columns. */
  private def qInactiveSuppliers(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_suppkey"), col("l_shipdate"))
    val cutoff = li.agg(add_months(date_trunc("month", max("l_shipdate")), 0)
      .as("m0"))
    val active = li.join(broadcast(cutoff))
      .filter(date_trunc("month", col("l_shipdate")) === col("m0"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
      .join(active, col("s_suppkey") === col("l_suppkey"), "left_anti")
      .orderBy("s_suppkey")
  }

  /** Star-schema ingest feeding the per-series model tier end to end:
    * z-score each of the 25 nation series from [[SeriesFrame.nationMonthly]],
    * add (t, ar_1), and fit every per-series OLS equation through ONE
    * grouped moments aggregation + executor-side Cholesky solves
    * ([[graft.models.GroupedOls]]) — the 10⁶-series fit shape applied
    * directly to the lake-join series build. The oracle replays the star
    * join, the per-series z-score, and 25 grouped Cholesky chains. */
  private def qMvStarFit(s: SparkSession, d: String): DataFrame = {
    val base = SeriesFrame.nationMonthly(s, d)
    val z = Transforms.scaleT(base).transform(base)
    val withF = FeatureOps.addArTerms(FeatureOps.addTimeTrend(z), 1)
    graft.models.GroupedOls.fitBySeries(withF, Seq("t", "ar_1"))
      .select(col(SeriesId),
        round(element_at(col("beta"), 1), 6).as("b0"),
        round(element_at(col("beta"), 2), 6).as("b_t"),
        round(element_at(col("beta"), 3), 6).as("b_ar1"))
  }

  /** Hierarchical forecast reconciliation over the star schema's
    * nation → region → total tree ([[graft.operators.Hierarchy]]):
    * seasonal-naive base forecasts at every level, bottom-up roll-ups, and
    * top-down historical-proportion disaggregation, h = 6 months past the
    * fixture's last observed month. The oracle replays the cents-space
    * history, the snaive spine, both reconciliation paths, and the share
    * arithmetic term for term. */
  private def qReconcile(s: SparkSession, d: String): DataFrame = {
    val bottom = SeriesFrame.nationMonthly(s, d).filter(!col(IsFuture))
    val mapping = Tables.nation(s, d)
      .select(col("n_name").as("series_id"), col("n_regionkey"))
      .join(broadcast(Tables.region(s, d)
        .select(col("r_regionkey"), col("r_name").as("parent"))),
        col("n_regionkey") === col("r_regionkey"))
      .select("series_id", "parent")
    graft.operators.Hierarchy.reconcileSnaive(bottom, mapping, 12, 6)
  }

  /** Cluster-prototypical semantic prune over the embedding table — the
    * cheap first pass of SemDeDup-style curation: per cluster label, score
    * every vector's cosine against the CLUSTER CENTROID and drop all but
    * one representative (lowest vec_id) of the centroid-dense core
    * (cos ≥ 0.3), keeping the informative outliers. (Pairwise
    * within-cluster near-dup is the doc_neardup_cosine tier; this is the
    * O(n) prototype filter that runs before it.) Shape: the centroid frame
    * is #labels rows → size-gated broadcast back onto the scan; the cosine
    * is the native codegen [[graft.functions.DotProduct]]; threshold
    * compares the ROUNDED score so cross-engine float noise can't flip a
    * boundary row. */
  private def qEmbSemdedup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.DotProduct.dotNative
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
    val cent = emb.select(col("label"), posexplode(col("v")))
      .groupBy("label", "pos").agg(avg("col").as("c"))
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x("c")).as("cv"))
    val scored = emb.join(graft.core.Joins.maybeBroadcast(cent), "label")
      .withColumn("cos", round(
        dotNative(col("v"), col("cv")) /
          (sqrt(dotNative(col("v"), col("v"))) * sqrt(dotNative(col("cv"), col("cv")))), 6))
    val keepers = scored.filter(col("cos") >= 0.3)
      .groupBy("label").agg(min("vec_id").as("keeper"))
    scored.join(graft.core.Joins.maybeBroadcast(keepers), Seq("label"), "left")
      .select(col("vec_id"), col("label"), col("cos"),
        (col("cos") < 0.3 || col("vec_id") === col("keeper")).as("keep"))
  }

  /** Multi-dimensional aggregation (`ROLLUP`) over the corpus dimensions —
    * per-(source, lang) doc counts and char volume with per-source and
    * grand-total subtotal rows, the one-pass hierarchy summary a curation
    * report needs (counts by source, by source×lang, overall) without three
    * scans. `grouping()` flags disambiguate subtotal rows from real NULL
    * dimension values; Spark expands the grouping sets inside a single
    * shuffle (partial aggs per set), same as it would at 100 TB. */
  private def qDocSourceRollup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .rollup(col("source"), col("lang"))
      .agg(grouping(col("source")).cast("long").as("g_source"),
        grouping(col("lang")).cast("long").as("g_lang"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("g_source"), col("g_lang"), col("n_docs"), col("sum_chars"))

  /** [[graft.functions.KmvDistinct]] declared: per-hour distinct-user
    * cardinality via the KMV sketch (k = 16) next to the exact distinct
    * count. The sketch is a native `TypedImperativeAggregate` whose buffer
    * is bounded at k longs per group with map-side partial aggregation —
    * the 100 TB cardinality shape (an exact COUNT(DISTINCT) shuffles every
    * distinct key) — and, unlike HLL, a pure function of the input hash
    * set, so DuckDB replays the estimate bit-for-bit (k-th smallest
    * distinct md5-prefix hash). Hours with < 16 users give the exact
    * count; busier hours give the (k−1)/u_k estimate. */
  private def qEventsKmvUsers(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).distinctUsersByHour(16)

  /** Run a STREAMING query body under a narrower shuffle width. Stateful
    * streaming operators allocate one state store per shuffle partition
    * (a stream-stream join keeps FOUR per partition), and each store pays
    * setup + commit every micro-batch regardless of rows — at the batch
    * tier's width (32 here; thousands on a cluster) that fixed cost
    * dominates a bounded run. State width is a real, deploy-time streaming
    * knob (it freezes into the checkpoint), sized to state VOLUME rather
    * than scan width; the conf change is scoped and restored because batch
    * queries in the same session must keep the session width. */
  private def withStreamWidth[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Trailing-window anomaly flags over hourly event volume: each hour's
    * count z-scored against the previous 24 hours' mean/std, |z| ≥ 3
    * flagged — the monitoring shape every event pipeline runs. The sliding
    * frame operates on the ALREADY-REDUCED hourly frame, whose row count
    * is calendar-bounded (hours, not events), so the single-partition
    * window is fine at any fact-table size; the flag thresholds the
    * ROUNDED z so cross-engine float noise can't flip a boundary hour. */
  private def qEventsAnomaly(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).anomalies()

  /** Rolling-median level-shift detector over the reduced hourly frame
    * (Events.levelShifts) — sustained-change monitoring next to
    * events_anomaly's spike z-scores. The shift flag thresholds the
    * ROUNDED score like anomalies' z. */
  private def qEventsLevelShift(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).levelShifts()

  /** Content-safe key for the /tmp stream fixtures: a 128-bit MD5 of the
    * dataset dir, not `String.hashCode` — two dataset dirs must never alias
    * to the same fixture (the [[memoTableName]] lesson applied here). */
  private def streamKey(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Symlink-farm dir for a file-stream source over an existing dataset
    * table. MD5-keyed per dataset dir (no aliasing), race-tolerant (two
    * graft processes — the verify+bench side-by-side shape — may both
    * create; a symlink to the same target is idempotent so the loser keeps
    * the winner's), and never stale: a symlink FOLLOWS the source path, so
    * a dataset regenerated in place serves its new bytes on the next read. */
  private def streamLinkDir(d: String, name: String, file: String): String = {
    val dir = java.nio.file.Paths.get(s"/tmp/graft_stream_${name}_${streamKey(d)}")
    java.nio.file.Files.createDirectories(dir)
    val link = dir.resolve(file)
    try {
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$d/$file"))
    } catch { case _: java.nio.file.FileAlreadyExistsException => () }
    dir.toString
  }

  /** Materialized-dump dir for a stream source that ingests a DERIVED
    * frame (no source file to symlink). Unlike the symlink farms this
    * writes real parquet, so it must solve staleness and concurrency
    * itself: the dump carries a `_graft_src_mtime` marker recording the
    * max mtime of the dataset dir's files at build time — a dataset
    * regenerated in place invalidates the dump instead of being served
    * stale forever; and the build writes to a pid-suffixed temp dir then
    * atomically renames into place, so two concurrent graft processes
    * can't read each other's half-written files (the loser of the rename
    * race deletes its temp and reads the winner's dump). */
  private def streamDumpDir(d: String, name: String)(build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val target = Paths.get(s"/tmp/graft_stream_${name}_${streamKey(d)}")
    val srcMtime = {
      import scala.jdk.CollectionConverters._
      val kids = Files.list(Paths.get(d))
      try kids.iterator().asScala
        .map(p => Files.getLastModifiedTime(p).toMillis).foldLeft(0L)(math.max)
      finally kids.close()
    }
    val marker = target.resolve("_graft_src_mtime")
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") == srcMtime.toString
    if (!fresh) {
      val tmp = Paths.get(s"$target.tmp.p${ProcessHandle.current().pid()}")
      deleteRecursively(tmp)
      build(tmp.toString)
      Files.write(tmp.resolve("_graft_src_mtime"),
        srcMtime.toString.getBytes("UTF-8"))
      deleteRecursively(target)
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch { // lost the race: the winner's dump is equivalent — use it
        case _: java.nio.file.FileSystemException => deleteRecursively(tmp)
      }
    }
    target.toString
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
    }

  /** Stream-STATIC enrichment join — the third streaming join class next
    * to stream-stream (`events_stream_join`) and the stateful ops: a
    * purchase stream left-joined to a STATIC per-user dimension (first
    * view time) built batch-side. No watermark or join-state needed — the
    * static side broadcasts into every micro-batch, the standard
    * dimension-enrichment shape for continuous ingest (at 100 TB the
    * static side is the size-gated param-join frame, refreshed by
    * restarting the query). Oracle: the identical batch left join. */
  private def qEventsStreamEnrich(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val firstView = Tables.events(s, d).filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("fv"))
    val schema = Tables.eventsRawSchema(s, d)
    val linkDir = streamLinkDir(d, "events", "events.parquet")
    val purchases = Tables.normalizeEventTs(
        s.readStream.schema(schema).parquet(linkDir.toString))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val enriched = purchases
      .join(graft.core.Joins.maybeBroadcast(firstView), Seq("user_id"), "left")
      .select(col("user_id"), col("event_id"),
        expr("(ts - fv) div 1000000").as("since_view_ms"))
    val sink = "events_stream_enrich_sink"
    s.catalog.dropTempView(sink)
    withStreamWidth(s, 8) {
      val q = enriched.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.table(sink)
  }

  /** Streaming corpus curation — continuous document ingest as a
    * Structured Streaming query: row-local quality gate (every
    * [[graft.functions.TextOps.withTextStats]] column is a pure expression,
    * so the gate rides the stream with NO state) feeding an exact-dedup
    * aggregation (digest → canonical min-id + multiplicity, the
    * doc_dedup_exact shape) whose state store holds one row per distinct
    * surviving digest. This is the continuous-ingest twin of the batch
    * curation entry points: a crawler drops parquet files into the lake and
    * the curation ledger stays current without re-scanning the corpus.
    * Oracle: the identical gate + GROUP BY over the batch table (one file =
    * one micro-batch under `Trigger.AvailableNow`; aggregation state is
    * order-insensitive, so stream == batch exactly). */
  private def qDocStreamCurate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = Tables.documents(s, d).schema
    val linkDir = streamLinkDir(d, "docs", "documents.parquet")
    val stream = s.readStream.schema(schema).parquet(linkDir.toString)
    val agg = TextOps.withTextStats(stream)
      .filter(col("quality") >= 0.7)
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_docs"))
    val sink = "doc_stream_curate_sink"
    s.catalog.dropTempView(sink)
    withStreamWidth(s, 8) {
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.table(sink)
  }

  /** STREAMING per-series forecasting — the model stays current as the
    * lake ingests: [[graft.functions.OlsFit]] is a mergeable
    * `TypedImperativeAggregate` (normal-equation moments, elementwise-add
    * merge), which is exactly the state shape Structured Streaming
    * aggregations keep per group — so `readStream → groupBy(series_id) →
    * graft_ols_fit(y, array(t, sin, cos))` maintains one bounded fit
    * state per series across micro-batches, at any series count, with NO
    * refit-from-scratch. Feature columns are row-local (calendar-anchored
    * trend + Fourier — a stream can't rank rows), the sink holds one beta
    * row per series, and the 6-month horizon scores as pure expressions
    * over the streamed state. New files landing in the directory would
    * fold into the same state on the next trigger — `Trigger.AvailableNow`
    * drains what's there so the run is bounded and exactly replayable.
    * Oracle: the identical fit as a grouped Cholesky chain over the batch
    * table (aggregation state is order-insensitive up to float-sum
    * reordering, absorbed by 6dp rounding on O(1) z-scored values). */
  private def qStreamForecast(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    graft.functions.GraftFunctions.register(s)
    val w1 = graft.models.ProphetLike.omega(1, 12.0)
    // one-time per dataset dir: materialize the z-scored segment series as
    // a parquet directory the file-stream source can ingest (the session
    // memo is in-memory; a stream needs files arriving in a dir) — MD5
    // keyed + freshness-checked + atomically renamed by [[streamDumpDir]]
    val dir = streamDumpDir(d, "series_v2")(tmp =>
      zSegmentsMonthly(s, d).select(col(SeriesId), col(Ds), col(Y))
        .write.mode("overwrite").parquet(tmp))
    val schema = s.read.parquet(dir).schema
    val stream = s.readStream.schema(schema).parquet(dir)
      .withColumn("t", months_between(col(Ds), lit("1992-01-01").cast("date")))
    val betas = stream.groupBy(col(SeriesId)).agg(
      expr(s"graft_ols_fit(y, array(t, sin($w1 * t), cos($w1 * t)))").as("beta"),
      max(col(Ds)).as("_ld"))
    val sink = "ts_stream_forecast_sink"
    s.catalog.dropTempView(sink)
    withStreamWidth(s, 8) {
      val q = betas.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.table(sink)
      .withColumn("_k", explode(sequence(lit(1), lit(6))))
      .withColumn(Ds, add_months(col("_ld"), col("_k")))
      .withColumn("t", months_between(col(Ds), lit("1992-01-01").cast("date")))
      .withColumn("yhat",
        element_at(col("beta"), 1) + element_at(col("beta"), 2) * col("t")
          + element_at(col("beta"), 3) * sin(lit(w1) * col("t"))
          + element_at(col("beta"), 4) * cos(lit(w1) * col("t")))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"))
  }

  /** Native `session_window` sessionization — the DECLARATIVE twin of the
    * custom-state sessionizer (`events_sessionize` /
    * `flatMapGroupsWithState`): when the semantics fit the built-in
    * operator (gap-merged windows + associative aggs), prefer it — Catalyst
    * plans the window merge itself, streaming state comes free, and no
    * user state machine exists to get wrong. The custom-state path remains
    * for semantics the built-in can't express (session numbering,
    * mid-session emission). Oracle: the same 30-minute gap rule stated via
    * lag/cumsum CTEs, keyed by session START instead of session number. */
  private def qSessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("tts", timestamp_micros(expr("ts div 1000")))
      .groupBy(col("user_id"), session_window(col("tts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        col("n_events"), col("sum_value"))

  /** [[graft.functions.HashSample]] declared: per-event-type value
    * quantiles estimated from the deterministic k-smallest-hash sample
    * (k = 64) — bounded-state quantiles where the exact form
    * ([[graft.Corpus.qualityQuantiles]]'s `percentile`) sorts whole
    * groups. The sample is a pure function of the row keys, so DuckDB
    * replays it exactly: rank by md5-prefix hash, keep rn ≤ k,
    * `quantile_cont` over the subset. The interpolated quantile of the
    * sample is computed by Spark's exact `percentile` over the emitted
    * 64-value arrays — post-aggregation rows, not the raw scan. */
  private def qEventsValueSketch(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).valueQuantileSketch(64)

  /** [[graft.functions.KmvDistinct]] composed with Structured Streaming:
    * the per-hour distinct-user KMV estimate computed AS A STREAM — the
    * sketch's k-longs buffer is exactly what the streaming state store
    * holds per hour, so continuous cardinality monitoring carries bounded
    * state where a streaming COUNT(DISTINCT) is simply DISALLOWED by the
    * engine (distinct aggregation cannot be incrementalized) — the sketch
    * is how a stream answers cardinality at all. Oracle: the batch KMV
    * replay (the sketch is a pure function of the hash set, and one
    * file = one micro-batch under `Trigger.AvailableNow`). */
  private def qEventsKmvStream(s: SparkSession, d: String): DataFrame = {
    import graft.functions.KmvSketch
    import org.apache.spark.sql.streaming.Trigger
    val schema = Tables.eventsRawSchema(s, d)
    val linkDir = streamLinkDir(d, "events", "events.parquet")
    val stream = Tables.normalizeEventTs(
      s.readStream.schema(schema).parquet(linkDir.toString))
    val agg = stream
      .select(expr("(ts div 3600000000000) * 3600000").as("hour_ms"),
        KmvSketch.hash60(col("user_id")).as("h"))
      .groupBy("hour_ms")
      .agg(round(KmvSketch.kmvDistinct(col("h"), 16), 6).as("n_est"))
    val sink = "events_kmv_stream_sink"
    s.catalog.dropTempView(sink)
    withStreamWidth(s, 8) {
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.table(sink)
  }

  /** [[graft.streaming.EventStreams.intervalJoinStream]] declared: the 24h
    * view→click attribution pairs as a STREAM-STREAM inner join — two
    * `readStream` sources, event-time watermarks on BOTH sides, and the
    * range-bounded join condition from which Spark derives state eviction
    * for both buffers; without the bound a stream-stream join accumulates
    * state forever. Run under `Trigger.AvailableNow`; inner matches emit
    * within the micro-batch, so the result equals the batch interval join
    * and shares `events_interval_join`'s oracle shape. */
  private def qEventsStreamJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = Tables.eventsRawSchema(s, d)
    val linkDir = streamLinkDir(d, "events", "events.parquet")
    def readEvents(): DataFrame = Tables.normalizeEventTs(
        s.readStream.schema(schema).parquet(linkDir.toString))
      .withColumn("t", timestamp_micros(expr("ts div 1000")))
    val views = readEvents().filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("t").as("ltime"))
    val clicks = readEvents().filter(col("event_type") === "click")
      .select(col("user_id").as("r_user_id"), col("event_id").as("click_id"),
        col("t").as("rtime"))
    val joined = graft.streaming.EventStreams.intervalJoinStream(
      views, clicks, Seq("user_id"), 0L, 86400L)
    val sink = "events_stream_join_sink"
    s.catalog.dropTempView(sink)
    withStreamWidth(s, 8) {
      val q = joined
        .select(col("user_id"), col("view_id"), col("click_id"),
          expr("(unix_micros(rtime) - unix_micros(ltime)) div 1000").as("gap_ms"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.table(sink)
  }

  /** [[graft.streaming.EventStreams.sessionize]] run AS A STREAM
    * (`readStream` → `flatMapGroupsWithState` → `Trigger.AvailableNow`):
    * Append mode emits exactly the CLOSED sessions, so the oracle is the
    * batch sessionization minus each user's final (still-open) session —
    * parity stated honestly and hash-checked. */
  private def qSessionizeStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = Tables.eventsRawSchema(s, d)
    val linkDir = streamLinkDir(d, "events", "events.parquet")
    val stream = Tables.normalizeEventTs(
      s.readStream.schema(schema).parquet(linkDir.toString))
    import s.implicits._
    val evs = stream.select(col("user_id"), col("event_id"),
        expr("ts div 1000000").as("ms"), col("value"))
      .as[graft.streaming.EventStreams.Ev]
    val sessions = graft.streaming.EventStreams.sessionize(evs)
    val sink = "events_sessionize_stream_sink"
    s.catalog.dropTempView(sink)
    val q = sessions.toDF().writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(sink)
      .select(col("user_id"), col("session_num"), col("n_events"),
        col("start_ms"), col("duration_ms"),
        round(col("sum_value"), 4).as("sum_value"))
  }

  /** [[graft.streaming.EventStreams.dedupStream]] run AS A STREAM
    * (`readStream` → watermarked `dropDuplicatesWithinWatermark` →
    * `Trigger.AvailableNow`): streaming exact dedup on (user_id,
    * event_type) with EVICTABLE state. The fixture arrives as one file =
    * one micro-batch, so the emitted key set equals the batch DISTINCT —
    * the oracle — while the watermark bounds state for continuous ingest.
    * Output is the key columns only: which physical row survives a
    * within-batch dedup is not defined, the key set is. */
  private def qDedupStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = Tables.eventsRawSchema(s, d)
    val linkDir = streamLinkDir(d, "events", "events.parquet")
    val stream = Tables.normalizeEventTs(
        s.readStream.schema(schema).parquet(linkDir.toString))
      .withColumn("ts", timestamp_millis(expr("ts div 1000000")))
      .select(col("ts"), col("user_id"), col("event_type"))
    val deduped = graft.streaming.EventStreams.dedupStream(
      stream, Seq("user_id", "event_type"))
    val sink = "events_dedup_stream_sink"
    s.catalog.dropTempView(sink)
    withStreamWidth(s, 8) {
      val q = deduped.select(col("user_id"), col("event_type"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.table(sink)
  }

  /** [[graft.streaming.EventStreams.hourlyAggregates]] run AS A STREAM
    * (`readStream` → watermarked window agg → `Trigger.AvailableNow`) over
    * the same events parquet, declared against the SAME oracle as
    * events_hourly — the batch/stream parity contract, oracle-checked.
    * The memory sink + Complete mode is the harness shape (results are a
    * few hundred aggregate rows); a production deployment appends finalized
    * windows to a real sink and lets the 2-hour watermark evict state. */
  private def qEventsHourlyStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = Tables.eventsRawSchema(s, d)
    // the file stream source only accepts a DIRECTORY; expose the single
    // events.parquet through a symlink dir (no data copy; testdata stays
    // untouched). Production streams read a landing directory anyway.
    val linkDir = streamLinkDir(d, "events", "events.parquet")
    val stream = Tables.normalizeEventTs(
        s.readStream.schema(schema).parquet(linkDir.toString))
      .withColumn("ts", timestamp_millis(expr("ts div 1000000")))
    val agg = graft.streaming.EventStreams.hourlyAggregates(stream)
    val sink = "events_hourly_stream_sink"
    s.catalog.dropTempView(sink) // re-runnable in one session (bench cold+warm)
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(sink)
      .select(unix_millis(col("hour_start")).as("hour_ms"), col("event_type"),
        col("n"), round(col("sum_value"), 4).as("sum_value"),
        round(col("avg_value"), 6).as("avg_value"))
  }

  // ------------------------------------------------------------- oracle SQL

  /** Shared DuckDB CTE for the monthly orders series (matches ordersMonthly). */
  private val S =
    """WITH series AS (
      |  SELECT 'orders' AS series_id,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
      |         ROUND(SUM(o_totalprice), 2) AS y
      |  FROM orders GROUP BY 1, 2
      |)""".stripMargin

  private val SEG =
    """WITH series AS (
      |  SELECT c_mktsegment AS series_id,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
      |         ROUND(SUM(o_totalprice), 2) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** The shared blocked-VAR CTE chain over a multi-series `series` CTE:
    * lag table → lag-1 corr screen (rank by |c| desc, src asc; self is
    * rank 0) → long design (k = 4) → per-target pivoted moments → grouped
    * Cholesky solve (`bv_fit`: one β row per target). Spliced by
    * mv_blocked_var (fit check) and mv_blocked_dynamic (recursion). */
  private def blockedVarCtes(srcCte: String = "series"): String =
    s"""lg AS (SELECT series_id AS src, ds,
       |       lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS xval FROM $srcCte),
       |pr AS (SELECT t.series_id AS target, l.src, corr(t.y, l.xval) AS c
       |       FROM $srcCte t JOIN lg l USING (ds)
       |       WHERE t.series_id <> l.src AND l.xval IS NOT NULL GROUP BY 1, 2),
       |rk AS (SELECT target, src,
       |       row_number() OVER (PARTITION BY target ORDER BY abs(c) DESC, src ASC) AS r
       |       FROM pr WHERE c IS NOT NULL),
       |blk AS (SELECT series_id AS target, series_id AS src, 0 AS r
       |        FROM (SELECT DISTINCT series_id FROM $srcCte)
       |        UNION ALL SELECT target, src, r FROM rk WHERE r <= 2),
       |dz AS (SELECT b.target, l.ds, b.r AS fi, l.xval AS x
       |       FROM blk b JOIN lg l ON b.src = l.src WHERE l.xval IS NOT NULL
       |       UNION ALL SELECT series_id, ds, 3, 1.0 FROM $srcCte),
       |cm AS (SELECT target, ds FROM dz GROUP BY 1, 2 HAVING count(*) = 4),
       |rws AS (SELECT d.target, d.ds, d.fi, d.x, s.y AS yt
       |        FROM dz d JOIN cm USING (target, ds)
       |        JOIN $srcCte s ON s.series_id = d.target AND s.ds = d.ds),
       |bv_m AS (SELECT a.target,
       |  ${(for (i <- 0 to 3; j <- 0 to i) yield
            s"sum(CASE WHEN a.fi = $i AND b.fi = $j THEN a.x * b.x END) AS sa_${i}_$j")
            .mkString(", ")},
       |  ${(0 to 3).map(i =>
            s"sum(CASE WHEN a.fi = $i AND b.fi = $i THEN a.x * a.yt END) AS sb_$i")
            .mkString(", ")}
       |  FROM rws a JOIN rws b ON a.target = b.target AND a.ds = b.ds
       |  GROUP BY a.target),
       |${OracleGen.solveCtes("bv", 3)}""".stripMargin

  /** Grouped AR(4)-OLS holdout scoring CTEs over a multi-series source CTE
    * `src` (series_id, ds, y — null y rows allowed, they just can't train):
    * per-series t/n indices, last-12 holdout, grouped Cholesky fit, and the
    * per-series test RMSE in `<tag>_sc(series_id, r)`. The grouped twin of
    * [[ar4ScoreCtes]]. */
  private def ar4ScoreBySeriesCtes(tag: String, src: String): String = {
    val lags = (1 to 4).map(i => s"a$i")
    val pred = "beta_0" + lags.zipWithIndex.map { case (x, i) => s" + beta_${i + 1}*$x" }.mkString
    s"""${tag}_b AS MATERIALIZED (SELECT series_id, ds, y,
       |  CAST(row_number() OVER (PARTITION BY series_id ORDER BY ds) AS DOUBLE) AS t,
       |  ${(1 to 4).map(i =>
            s"lag(y, $i) OVER (PARTITION BY series_id ORDER BY ds) AS a$i").mkString(", ")}
       |  FROM $src),
       |${tag}_n AS (SELECT series_id, count(*) AS n FROM ${tag}_b GROUP BY 1),
       |${tag}_tr AS (SELECT b.* FROM ${tag}_b b JOIN ${tag}_n USING (series_id)
       |  WHERE t <= n - 12 AND y IS NOT NULL
       |    AND ${lags.map(l => s"$l IS NOT NULL").mkString(" AND ")}),
       |${tag}_te AS (SELECT b.* FROM ${tag}_b b JOIN ${tag}_n USING (series_id)
       |  WHERE t > n - 12 AND ${lags.map(l => s"$l IS NOT NULL").mkString(" AND ")}),
       |${OracleGen.momentsCte(tag, lags, s"${tag}_tr", keys = Seq("series_id"))},
       |${OracleGen.solveCtes(tag, 4)},
       |${tag}_sc AS MATERIALIZED (SELECT te.series_id,
       |  sqrt(avg(pow(y - ($pred), 2))) AS r
       |  FROM ${tag}_te te JOIN ${tag}_fit USING (series_id)
       |  GROUP BY te.series_id)""".stripMargin
  }

  /** [[SEG]] with per-series z-scoring (the grouped twin of [[ZS]]) plus the
    * raw per-series minimum (`mn`) for log-gate decisions. */
  private val ZSEG =
    """WITH base AS (
      |  SELECT c_mktsegment AS series_id,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
      |         ROUND(SUM(o_totalprice), 2) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |zp AS (SELECT series_id, avg(y) AS mu, stddev_samp(y) AS sd, min(y) AS miny
      |       FROM base GROUP BY 1),
      |series AS (SELECT base.series_id, ds, (y - mu) / sd AS y
      |           FROM base JOIN zp USING (series_id))""".stripMargin

  /** SQL replay of [[qImagePhash]]: planted pixels → 2×2 box-average grid
    * → dHash words. Shared verbatim by the phash and phash-pairs oracles
    * (the pairs oracle nests it as a CTE). */
  private val imagePhashSql =
    """WITH ids AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 IN (5, 9) THEN doc_id - 1 ELSE doc_id END AS src,
      |    (doc_id % 10 = 9) AS br FROM documents),
      |px AS (
      |  SELECT i.doc_id, x.x, y.y,
      |    CASE WHEN i.br AND x.x < 2 AND y.y < 2
      |      THEN least(255, CAST(concat('0x', substr(md5(i.src || '_' || x.x || '_' || y.y), 1, 15)) AS BIGINT) % 256 + 64)
      |      ELSE CAST(concat('0x', substr(md5(i.src || '_' || x.x || '_' || y.y), 1, 15)) AS BIGINT) % 256
      |    END AS g
      |  FROM ids i, range(18) x(x), range(16) y(y)),
      |grid AS (
      |  SELECT doc_id, x // 2 AS gx, y // 2 AS gy,
      |    CAST(SUM(g) // 4 AS BIGINT) AS v
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT a.doc_id, a.gy * 8 + a.gx AS b,
      |    CASE WHEN n.v > a.v THEN 1 ELSE 0 END AS bit
      |  FROM grid a JOIN grid n
      |    ON n.doc_id = a.doc_id AND n.gy = a.gy AND n.gx = a.gx + 1
      |  WHERE a.gx < 8)
      |SELECT doc_id, CAST(18 AS BIGINT) AS img_w, CAST(16 AS BIGINT) AS img_h,
      |  CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS dh_hi,
      |  CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS dh_lo
      |FROM bits GROUP BY 1""".stripMargin

  /** SQL replay of [[qAudioFeatures]]: planted PCM samples → integer
    * energy/zero-cross + 65-frame envelope fingerprint words. Shared by
    * the features and pairs oracles (the pairs oracle nests it as a CTE).
    * Frame assignment (i·65)//260 == the Spark side's floor-bound rects
    * because 260 is an exact multiple of 65. */
  private val audioFeaturesSql =
    """WITH ids AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 IN (5, 9) THEN doc_id - 1 ELSE doc_id END AS src,
      |    CASE WHEN doc_id % 10 = 9 THEN 2 ELSE 1 END AS gain FROM documents),
      |smp AS (
      |  SELECT d.doc_id, s.i,
      |    (CAST(concat('0x', substr(md5(d.src || '_a_' || s.i), 1, 15)) AS BIGINT) % 32768 - 16384) * d.gain AS v
      |  FROM ids d, range(260) s(i)),
      |zc AS (
      |  SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS sum_sq,
      |    CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
      |      THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
      |  FROM (SELECT doc_id, v,
      |          lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM smp)
      |  GROUP BY 1),
      |fr AS (SELECT doc_id, (i * 65) // 260 AS f,
      |    CAST(SUM(ABS(v)) AS BIGINT) AS e
      |  FROM smp GROUP BY 1, 2),
      |bits AS (
      |  SELECT a.doc_id, a.f AS b, CASE WHEN n.e > a.e THEN 1 ELSE 0 END AS bit
      |  FROM fr a JOIN fr n ON n.doc_id = a.doc_id AND n.f = a.f + 1
      |  WHERE a.f < 64),
      |fp AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS fp_hi,
      |    CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS fp_lo
      |  FROM bits GROUP BY 1)
      |SELECT zc.doc_id, CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(260 AS BIGINT) AS n_samples, CAST(32 AS BIGINT) AS duration_ms,
      |  zc.sum_sq, zc.zero_cross, fp.fp_hi, fp.fp_lo
      |FROM zc JOIN fp ON fp.doc_id = zc.doc_id""".stripMargin

  /** SQL replay of [[qVideoKeyframes]]: planted raw gray8 keyframes →
    * the image tier's exact dHash grid math (18×16 → uniform 2×2 cells)
    * over the video pixel recipe, plus arithmetic replay of the planted
    * sample-table metadata (frame count 3+(src%3)·2, keyframes every 2nd
    * sample, 25 fps duration). Raw frames are lossless, so the Spark
    * side's slice(encode(px)) == px and the replay is exact. Shared by
    * the keyframes and pairs oracles. */
  private val videoKeyframesSql =
    """WITH ids AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 IN (5, 9) THEN doc_id - 1 ELSE doc_id END AS src,
      |    (doc_id % 10 = 9) AS br FROM documents),
      |meta AS (SELECT doc_id, src, br, 3 + (src % 3) * 2 AS nf FROM ids),
      |px AS (
      |  SELECT m.doc_id, x.x, y.y,
      |    CASE WHEN m.br AND x.x < 2 AND y.y < 2
      |      THEN least(255, CAST(concat('0x', substr(md5(m.src || '_v_0_' || x.x || '_' || y.y), 1, 15)) AS BIGINT) % 256 + 64)
      |      ELSE CAST(concat('0x', substr(md5(m.src || '_v_0_' || x.x || '_' || y.y), 1, 15)) AS BIGINT) % 256
      |    END AS g
      |  FROM meta m, range(18) x(x), range(16) y(y)),
      |grid AS (
      |  SELECT doc_id, x // 2 AS gx, y // 2 AS gy,
      |    CAST(SUM(g) // 4 AS BIGINT) AS v
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT a.doc_id, a.gy * 8 + a.gx AS b,
      |    CASE WHEN n.v > a.v THEN 1 ELSE 0 END AS bit
      |  FROM grid a JOIN grid n
      |    ON n.doc_id = a.doc_id AND n.gy = a.gy AND n.gx = a.gx + 1
      |  WHERE a.gx < 8),
      |hw AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS kf_hi,
      |    CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS kf_lo
      |  FROM bits GROUP BY 1)
      |SELECT m.doc_id, CAST(18 AS BIGINT) AS vid_w, CAST(16 AS BIGINT) AS vid_h,
      |  CAST(m.nf * 40 AS BIGINT) AS duration_ms,
      |  CAST(m.nf AS BIGINT) AS n_frames,
      |  CAST((m.nf + 1) // 2 AS BIGINT) AS n_keyframes,
      |  hw.kf_hi, hw.kf_lo
      |FROM meta m JOIN hw ON hw.doc_id = m.doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ts_build_monthly" ->
      s"$S SELECT series_id, ds, y, FALSE AS is_future FROM series",

    "mv_build_segments" ->
      s"$SEG SELECT series_id, ds, y, FALSE AS is_future FROM series ORDER BY 1, 2",

    // star-schema series ingest: net revenue per customer nation per month
    "ts_build_star" ->
      """SELECT n_name AS series_id,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
        |  ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS y,
        |  FALSE AS is_future
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // weekly (ISO Monday-truncated) brand quantity series off lineitem⨝part
    "ts_build_brand_weekly" ->
      """SELECT p_brand AS series_id,
        |  CAST(date_trunc('week', l_shipdate) AS DATE) AS ds,
        |  ROUND(SUM(l_quantity), 2) AS y, FALSE AS is_future
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // region revenue share off the full dim chain; integer-cents totals
    "sales_region_share" ->
      """WITH rev AS (
        |  SELECT r_name AS region,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM rev)
        |SELECT region, ROUND(cents / 100.0, 2) AS revenue,
        |  ROUND(cents / tot, 6) AS share
        |FROM rev, tot""".stripMargin,

    // anti-join inactivity: suppliers without a shipment in the final month
    "sales_inactive_suppliers" ->
      """WITH mx AS (SELECT date_trunc('month', max(l_shipdate)) AS m0 FROM lineitem),
        |a AS (SELECT DISTINCT l_suppkey FROM lineitem, mx
        |      WHERE date_trunc('month', l_shipdate) = m0)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey NOT IN (SELECT l_suppkey FROM a)
        |ORDER BY s_suppkey""".stripMargin,

    // star join → per-nation z-score → 25 grouped Cholesky OLS solves
    "mv_star_fit" ->
      s"""WITH base AS (
         |  SELECT n_name AS series_id,
         |    CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
         |    ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS y
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  GROUP BY 1, 2),
         |zp AS (SELECT series_id, avg(y) AS mu, stddev_samp(y) AS sd
         |       FROM base GROUP BY 1),
         |series AS (SELECT base.series_id, ds, (y - mu) / sd AS y
         |           FROM base JOIN zp USING (series_id)),
         |feats AS (SELECT series_id, ds, y,
         |    CAST(row_number() OVER (PARTITION BY series_id ORDER BY ds) AS DOUBLE) AS t,
         |    lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS ar_1
         |  FROM series),
         |rws AS (SELECT * FROM feats WHERE ar_1 IS NOT NULL),
         |${OracleGen.momentsCte("sf", Seq("t", "ar_1"), "rws", keys = Seq("series_id"))},
         |${OracleGen.solveCtes("sf", 2)}
         |SELECT series_id, ROUND(beta_0, 6) AS b0, ROUND(beta_1, 6) AS b_t,
         |  ROUND(beta_2, 6) AS b_ar1
         |FROM sf_fit""".stripMargin,

    // hierarchical reconciliation: cents-space history, snaive spine, both
    // reconciliation paths, and the share arithmetic replayed term for term
    "ts_reconcile" ->
      """WITH base AS (
        |  SELECT n_name AS series_id,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
        |    ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS y
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |map AS (SELECT n_name AS series_id, r_name AS parent
        |  FROM nation JOIN region ON n_regionkey = r_regionkey),
        |bh AS (SELECT b.series_id, m.parent, ds, CAST(ROUND(y * 100) AS BIGINT) AS yc
        |  FROM base b JOIN map m USING (series_id)),
        |ph AS (SELECT parent AS series_id, ds, SUM(yc) AS yc FROM bh GROUP BY 1, 2),
        |th AS (SELECT ds, SUM(yc) AS yc FROM bh GROUP BY 1),
        |mx AS (SELECT max(ds) AS d0 FROM bh),
        |fut AS (SELECT CAST(d0 + INTERVAL (k) MONTH AS DATE) AS ds
        |  FROM mx, generate_series(1, 6) g(k)),
        |fb AS (SELECT s.series_id, s.parent, f.ds, h.yc AS fc
        |  FROM (SELECT DISTINCT series_id, parent FROM bh) s CROSS JOIN fut f
        |  LEFT JOIN bh h ON h.series_id = s.series_id
        |    AND h.ds = CAST(f.ds - INTERVAL 12 MONTH AS DATE)),
        |fp AS (SELECT s.series_id, f.ds, h.yc AS fc
        |  FROM (SELECT DISTINCT parent AS series_id FROM bh) s CROSS JOIN fut f
        |  LEFT JOIN ph h ON h.series_id = s.series_id
        |    AND h.ds = CAST(f.ds - INTERVAL 12 MONTH AS DATE)),
        |ft AS (SELECT f.ds, h.yc AS fc FROM fut f
        |  LEFT JOIN th h ON h.ds = CAST(f.ds - INTERVAL 12 MONTH AS DATE)),
        |ns AS (SELECT series_id, SUM(yc) AS s FROM bh GROUP BY 1),
        |ps AS (SELECT parent, SUM(yc) AS s FROM bh GROUP BY 1),
        |tsum AS (SELECT SUM(yc) AS st FROM bh),
        |bu_p AS (SELECT parent, ds, SUM(fc) AS bu FROM fb GROUP BY 1, 2),
        |bu_t AS (SELECT ds, SUM(fc) AS bu FROM fb GROUP BY 1)
        |SELECT 'nation' AS level, fb.series_id, fb.ds,
        |  ROUND(fb.fc / 100.0, 2) AS fcst_base,
        |  ROUND(fb.fc / 100.0, 2) AS fcst_bu,
        |  ROUND((ft.fc / 100.0) * (ns.s / tsum.st), 2) AS fcst_td
        |FROM fb JOIN ft USING (ds) JOIN ns ON ns.series_id = fb.series_id, tsum
        |UNION ALL
        |SELECT 'region', fp.series_id, fp.ds,
        |  ROUND(fp.fc / 100.0, 2), ROUND(bu_p.bu / 100.0, 2),
        |  ROUND((ft.fc / 100.0) * (ps.s / tsum.st), 2)
        |FROM fp JOIN ft USING (ds)
        |JOIN bu_p ON bu_p.parent = fp.series_id AND bu_p.ds = fp.ds
        |JOIN ps ON ps.parent = fp.series_id, tsum
        |UNION ALL
        |SELECT 'total', 'TOTAL', ft.ds, ROUND(ft.fc / 100.0, 2),
        |  ROUND(bu_t.bu / 100.0, 2), ROUND(ft.fc / 100.0, 2)
        |FROM ft JOIN bu_t USING (ds)""".stripMargin,

    // KMV distinct sketch: k-th smallest distinct 60-bit md5-prefix hash;
    // exact count below k=16 distinct, (k-1)/u_k estimate above
    "events_kmv_users" ->
      """WITH e AS (SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
        |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |d AS (SELECT DISTINCT hour_ms, h FROM e),
        |r AS (SELECT hour_ms, h,
        |        row_number() OVER (PARTITION BY hour_ms ORDER BY h) AS rn,
        |        count(*) OVER (PARTITION BY hour_ms) AS cnt FROM d)
        |SELECT hour_ms, CAST(cnt AS BIGINT) AS n_exact,
        |  ROUND(CASE WHEN cnt < 16 THEN CAST(cnt AS DOUBLE)
        |        ELSE 15.0 / (h / 1152921504606846976.0) END, 6) AS n_est
        |FROM r WHERE rn = least(cnt, CAST(16 AS BIGINT))""".stripMargin,

    // per-(label, dim) centroid means; generate_subscripts is 1-based
    "emb_centroids" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
        |  unnest(embedding) AS x,
        |  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim
        |  FROM embeddings)
        |SELECT label, dim, count(*) AS n, ROUND(avg(x), 6) AS centroid
        |FROM e GROUP BY 1, 2""".stripMargin,

    // centroid-core prune: keep flag thresholded on the ROUNDED cosine
    "emb_semdedup" ->
      """WITH x AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  CAST(unnest(embedding) AS DOUBLE) AS x,
        |  generate_subscripts(embedding, 1) AS i FROM embeddings),
        |c AS (SELECT label, i, avg(x) AS c FROM x GROUP BY 1, 2),
        |dots AS (SELECT x.vec_id, x.label, sum(x.x * c.c) AS dot,
        |    sum(x.x * x.x) AS n1, sum(c.c * c.c) AS n2
        |  FROM x JOIN c ON x.label = c.label AND x.i = c.i GROUP BY 1, 2),
        |s AS (SELECT vec_id, label,
        |  ROUND(dot / (sqrt(n1) * sqrt(n2)), 6) AS cos FROM dots),
        |k AS (SELECT label, min(vec_id) AS keeper FROM s
        |      WHERE cos >= 0.3 GROUP BY 1)
        |SELECT s.vec_id, s.label, s.cos,
        |  (s.cos < 0.3 OR s.vec_id = k.keeper) AS keep
        |FROM s LEFT JOIN k USING (label)""".stripMargin,

    // ROLLUP subtotal hierarchy; DuckDB sum(BIGINT) widens to HUGEINT → cast
    "doc_source_rollup" ->
      """SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin,

    // trailing-24h z-score anomaly flags on the reduced hourly frame
    "events_anomaly" ->
      """WITH hourly AS (
        |  SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, count(*) AS n
        |  FROM events GROUP BY 1),
        |wnd AS (
        |  SELECT hour_ms, n,
        |    avg(n) OVER (ORDER BY hour_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS mu,
        |    stddev_samp(CAST(n AS DOUBLE)) OVER (ORDER BY hour_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS sd,
        |    count(n) OVER (ORDER BY hour_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS cnt
        |  FROM hourly)
        |SELECT hour_ms, n, ROUND((n - mu) / sd, 6) AS z,
        |  (abs(ROUND((n - mu) / sd, 6)) >= 3.0) AS is_anomaly
        |FROM wnd WHERE cnt = 24 AND sd > 0""".stripMargin,

    // rolling-median level shift: trailing vs current+forward medians over
    // the hourly frame, quantile_cont = Spark's exact percentile
    "events_level_shift" ->
      """WITH hourly AS (
        |  SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, count(*) AS n
        |  FROM events GROUP BY 1),
        |wnd AS (
        |  SELECT hour_ms, n,
        |    quantile_cont(n, 0.5) OVER (ORDER BY hour_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS pre_med,
        |    quantile_cont(n, 0.5) OVER (ORDER BY hour_ms ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS post_med,
        |    count(n) OVER (ORDER BY hour_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |      + count(n) OVER (ORDER BY hour_ms ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS nc
        |  FROM hourly)
        |SELECT hour_ms, n, ROUND(pre_med, 6) AS pre_med, ROUND(post_med, 6) AS post_med,
        |  ROUND((post_med - pre_med) / pre_med, 6) AS shift_score,
        |  (abs(ROUND((post_med - pre_med) / pre_med, 6)) >= 0.25) AS is_shift
        |FROM wnd WHERE nc = 48 AND pre_med > 0""".stripMargin,

    // stream-static enrichment == the identical batch left join
    "events_stream_enrich" ->
      """WITH v AS (SELECT user_id, min(ts) AS fv FROM events
        |           WHERE event_type = 'view' GROUP BY 1)
        |SELECT p.user_id, p.event_id,
        |  (epoch_us(p.ts) - epoch_us(v.fv)) // 1000 AS since_view_ms
        |FROM events p LEFT JOIN v USING (user_id)
        |WHERE p.event_type = 'purchase'""".stripMargin,

    // native session_window == the gap-rule CTEs keyed by session start.
    // NB session_window's gap is ts < prev + 30min (strict), while the
    // numbered sessionize splits on ts - prev > 30min — an event exactly
    // 30min after its predecessor SPLITS here and CONTINUES there; the
    // oracle states this query's own rule (>=) rather than reusing the
    // other's.
    "events_session_window" ->
      """WITH e AS (
        |  SELECT user_id, value, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |flag AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms >= 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sess AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sn
        |  FROM flag)
        |SELECT user_id, min(ms) AS start_ms, count(*) AS n_events,
        |  ROUND(sum(value), 4) AS sum_value
        |FROM sess GROUP BY user_id, sn""".stripMargin,

    // hash-sample quantile sketch: rank by hash, keep 64, quantile_cont
    "events_value_sketch" ->
      """WITH h AS (SELECT event_type, value,
        |  CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |      FROM h),
        |s AS (SELECT event_type, value FROM r WHERE rn <= 64)
        |SELECT event_type, count(*) AS n_sample,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50_est,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90_est
        |FROM s GROUP BY 1""".stripMargin,

    // streaming KMV == the batch sketch replay (estimate only: a stream
    // cannot COUNT(DISTINCT) at all)
    "events_kmv_stream" ->
      """WITH e AS (SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
        |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |d AS (SELECT DISTINCT hour_ms, h FROM e),
        |r AS (SELECT hour_ms, h,
        |        row_number() OVER (PARTITION BY hour_ms ORDER BY h) AS rn,
        |        count(*) OVER (PARTITION BY hour_ms) AS cnt FROM d)
        |SELECT hour_ms,
        |  ROUND(CASE WHEN cnt < 16 THEN CAST(cnt AS DOUBLE)
        |        ELSE 15.0 / (h / 1152921504606846976.0) END, 6) AS n_est
        |FROM r WHERE rn = least(cnt, CAST(16 AS BIGINT))""".stripMargin,

    // stream-stream interval join == the batch range predicate
    "events_stream_join" ->
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  (epoch_us(c.ts) - epoch_us(v.ts)) // 1000 AS gap_ms
        |FROM events v JOIN events c ON c.user_id = v.user_id
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 24 HOUR""".stripMargin,

    "ts_ar_terms" ->
      s"""$S SELECT series_id, ds, y,
         |  lag(y, 1) OVER w AS ar_1, lag(y, 2) OVER w AS ar_2,
         |  lag(y, 3) OVER w AS ar_3, lag(y, 12) OVER w AS ar_12
         |FROM series WINDOW w AS (ORDER BY ds)""".stripMargin,

    "ts_calendar" ->
      s"""$S SELECT series_id, ds,
         |  CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t,
         |  CAST(month(ds) AS DOUBLE) AS month, CAST(quarter(ds) AS DOUBLE) AS quarter,
         |  CAST(year(ds) AS DOUBLE) AS year,
         |  ROUND(sin(pi() * month(ds) / 6.0), 6) + 0.0 AS monthsin,
         |  ROUND(cos(pi() * month(ds) / 6.0), 6) + 0.0 AS monthcos,
         |  ROUND(sin(pi() * (row_number() OVER (ORDER BY ds)) / 6.75), 6) + 0.0 AS cycsin,
         |  ROUND(cos(pi() * (row_number() OVER (ORDER BY ds)) / 6.75), 6) + 0.0 AS cyccos
         |FROM series""".stripMargin,

    "ts_naive" ->
      s"""$S, obs AS (
         |  SELECT series_id, ds, y,
         |    row_number() OVER (ORDER BY ds DESC) AS rnb,
         |    lag(y, 1) OVER (ORDER BY ds) AS yhat_naive,
         |    lag(y, 12) OVER (ORDER BY ds) AS yhat_snaive
         |  FROM series),
         |fut AS (
         |  SELECT 'orders' AS series_id,
         |    CAST((SELECT max(ds) FROM series) + to_months(CAST(i AS INT)) AS DATE) AS ds,
         |    CAST(NULL AS DOUBLE) AS y,
         |    (SELECT y FROM obs WHERE rnb = 1) AS yhat_naive,
         |    (SELECT y FROM obs o WHERE o.rnb = 12 - ((i - 1) % 12)) AS yhat_snaive
         |  FROM generate_series(1, 12) t(i))
         |SELECT series_id, ds, y, yhat_naive, yhat_snaive, FALSE AS is_future FROM obs
         |UNION ALL
         |SELECT series_id, ds, y, yhat_naive, yhat_snaive, TRUE AS is_future FROM fut""".stripMargin,

    "ts_metrics" ->
      s"""$S, p AS (SELECT avg(y) AS mu, stddev_samp(y) AS sd FROM series),
         |z AS (SELECT series_id, ds, (y - mu) / sd AS y FROM series, p),
         |f AS (SELECT series_id, ds, y,
         |        lag(y, 1) OVER (ORDER BY ds) AS f_naive,
         |        lag(y, 12) OVER (ORDER BY ds) AS f_snaive FROM z),
         |m AS (
         |  SELECT 'naive' AS model, series_id, count(*) AS n,
         |    ROUND(sqrt(avg(pow(f_naive - y, 2))), 6) AS rmse,
         |    ROUND(avg(pow(f_naive - y, 2)), 6) AS mse,
         |    ROUND(avg(abs(f_naive - y)), 6) AS mae,
         |    ROUND(avg(2 * abs(f_naive - y) / (abs(y) + abs(f_naive))), 6) AS smape,
         |    ROUND(CASE WHEN max(CASE WHEN y = 0 THEN 1 ELSE 0 END) = 1 THEN NULL
         |          ELSE avg(CASE WHEN y != 0 THEN abs((f_naive - y) / y) END) END, 6) AS mape,
         |    ROUND(1 - sum(pow(f_naive - y, 2)) / (sum(pow(y, 2)) - pow(sum(y), 2) / count(*)), 6) AS r2,
         |    ROUND(sum(f_naive - y), 6) AS bias,
         |    ROUND(abs(sum(f_naive - y)), 6) AS abias
         |  FROM f WHERE f_naive IS NOT NULL GROUP BY series_id
         |  UNION ALL
         |  SELECT 'snaive', series_id, count(*),
         |    ROUND(sqrt(avg(pow(f_snaive - y, 2))), 6),
         |    ROUND(avg(pow(f_snaive - y, 2)), 6),
         |    ROUND(avg(abs(f_snaive - y)), 6),
         |    ROUND(avg(2 * abs(f_snaive - y) / (abs(y) + abs(f_snaive))), 6),
         |    ROUND(CASE WHEN max(CASE WHEN y = 0 THEN 1 ELSE 0 END) = 1 THEN NULL
         |          ELSE avg(CASE WHEN y != 0 THEN abs((f_snaive - y) / y) END) END, 6),
         |    ROUND(1 - sum(pow(f_snaive - y, 2)) / (sum(pow(y, 2)) - pow(sum(y), 2) / count(*)), 6),
         |    ROUND(sum(f_snaive - y), 6),
         |    ROUND(abs(sum(f_snaive - y)), 6)
         |  FROM f WHERE f_snaive IS NOT NULL GROUP BY series_id)
         |SELECT model, series_id, n, rmse, mse, mae, smape, mape, r2, bias, abias FROM m""".stripMargin,

    "ts_scalers" ->
      s"""$S, p AS (
         |  SELECT avg(y) AS mu, stddev_samp(y) AS sd, min(y) AS lo, max(y) AS hi,
         |         quantile_cont(y, 0.5) AS med,
         |         quantile_cont(y, 0.75) - quantile_cont(y, 0.25) AS iqr
         |  FROM series)
         |SELECT series_id, ds,
         |  ROUND((y - mu) / sd, 6) AS y_scale,
         |  ROUND((y - lo) / (hi - lo), 6) AS y_minmax,
         |  ROUND((y - med) / iqr, 6) AS y_robust
         |FROM series, p""".stripMargin,

    "ts_pointwise" ->
      s"""$S SELECT series_id, ds, y,
         |  ROUND(ln(y), 6) AS y_log,
         |  ROUND(sqrt(y), 6) AS y_sqrt,
         |  ROUND((pow(y, 0.5) - 1) / 0.5, 6) AS y_boxcox
         |FROM series""".stripMargin,

    "ts_diff" ->
      s"""$S SELECT series_id, ds, y,
         |  ROUND(y - lag(y, 1) OVER w, 2) AS d1,
         |  ROUND(y - lag(y, 12) OVER w, 2) AS d12
         |FROM series WINDOW w AS (ORDER BY ds)""".stripMargin,

    "ts_detrend" ->
      s"""$S, s2 AS (SELECT series_id, ds, y,
         |    CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
         |fit AS (SELECT regr_slope(y, t) AS b, regr_intercept(y, t) AS a FROM s2)
         |SELECT series_id, ds, y,
         |  ROUND(y - (a + b * t), 0) AS resid,
         |  ROUND(y - (y - (a + b * t)), 0) AS trend
         |FROM s2, fit""".stripMargin,

    "ts_deseason" ->
      s"""$S, s2 AS (SELECT series_id, ds, y,
         |    row_number() OVER (ORDER BY ds) AS rn,
         |    count(*) OVER (ORDER BY ds ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS wn,
         |    (sum(y) OVER (ORDER BY ds ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)
         |     + sum(y) OVER (ORDER BY ds ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)) / 24.0 AS trend
         |  FROM series),
         |detr AS (SELECT series_id, (rn - 1) % 12 AS phase, y - trend AS dt
         |  FROM s2 WHERE wn = 13),
         |seas0 AS (SELECT series_id, phase, avg(dt) AS seasonal FROM detr GROUP BY 1, 2),
         |seas AS (SELECT series_id, phase,
         |    seasonal - avg(seasonal) OVER (PARTITION BY series_id) AS seasonal FROM seas0)
         |SELECT s2.series_id, s2.ds, s2.y,
         |  ROUND(s2.y - seas.seasonal, 0) AS deseasoned
         |FROM s2 JOIN seas ON seas.series_id = s2.series_id AND seas.phase = (s2.rn - 1) % 12""".stripMargin,

    "ts_trend_seasonal" -> trendSeasonalSql(
      "SELECT series_id, ds, y, ROUND(yhat, 0) AS yhat, is_test, is_future FROM scored"),

    "ts_conformal" -> trendSeasonalSql(
      """, width AS (
        |  SELECT series_id, quantile_cont(abs(y - yhat), 0.95) AS ci_width
        |  FROM scored WHERE is_test GROUP BY 1)
        |SELECT s.series_id, s.ds, ROUND(s.yhat, 0) AS yhat,
        |  ROUND(s.yhat - w.ci_width, 0) AS lower, ROUND(s.yhat + w.ci_width, 0) AS upper,
        |  ROUND(w.ci_width, 0) AS ci_width
        |FROM scored s JOIN width w ON s.series_id = w.series_id WHERE s.is_future""".stripMargin),

    // grouped conformal: one OLS fit per series via the KEYED moments +
    // solve chain (one CTE chain solves all 5 systems), then one
    // quantile_cont width per series over its own holdout
    "ts_conformal_by_series" -> {
      val w1 = graft.models.ProphetLike.omega(1, 12.0)
      val xs = Seq("t", s"sin($w1 * t)", s"cos($w1 * t)")
      val pred = s"beta_0 + beta_1*t + beta_2*sin($w1 * t) + beta_3*cos($w1 * t)"
      s"""$ZSEG,
         |s2 AS (SELECT series_id, ds, y, CAST(row_number() OVER
         |  (PARTITION BY series_id ORDER BY ds) AS DOUBLE) AS t FROM series),
         |nn AS (SELECT series_id, count(*) AS n, max(ds) AS ld FROM s2 GROUP BY 1),
         |s3 AS (SELECT s2.*, s2.t > nn.n - 12 AS is_test
         |       FROM s2 JOIN nn USING (series_id)),
         |${OracleGen.momentsCte("gc", xs, "s3 WHERE NOT is_test",
                                 keys = Seq("series_id"))},
         |${OracleGen.solveCtes("gc", 3)},
         |sc AS (SELECT s3.series_id, s3.ds, s3.y, s3.is_test, $pred AS yhat
         |       FROM s3 JOIN gc_fit USING (series_id)),
         |w AS (SELECT series_id, quantile_cont(abs(y - yhat), 0.95) AS ci_width
         |      FROM sc WHERE is_test GROUP BY 1),
         |fut AS (SELECT gc_fit.series_id,
         |        CAST(nn.ld + to_months(i::INT) AS DATE) AS ds, $pred AS yhat
         |        FROM gc_fit JOIN nn USING (series_id),
         |             LATERAL (SELECT i, CAST(nn.n + i AS DOUBLE) AS t
         |                      FROM generate_series(1, 12) g(i)))
         |SELECT f.series_id, f.ds, ROUND(f.yhat, 6) AS yhat,
         |  ROUND(f.yhat - w.ci_width, 6) AS lower,
         |  ROUND(f.yhat + w.ci_width, 6) AS upper,
         |  ROUND(w.ci_width, 6) AS ci_width
         |FROM fut f JOIN w USING (series_id)""".stripMargin
    },

    "mv_corr" ->
      s"""$SEG SELECT a.series_id AS sid_a, b.series_id AS sid_b,
         |  ROUND(corr(a.y, b.y), 6) AS corr, count(*) AS n
         |FROM series a JOIN series b ON a.ds = b.ds AND a.series_id < b.series_id
         |GROUP BY 1, 2""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |flag AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sess AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_num
        |  FROM flag)
        |SELECT user_id, session_num, count(*) AS n_events, min(ms) AS start_ms,
        |  max(ms) - min(ms) AS duration_ms, ROUND(sum(value), 4) AS sum_value
        |FROM sess GROUP BY 1, 2""".stripMargin,

    // top within-session 3-step paths: the sessionize CTEs plus two leads
    // over the session partition; ties on (count desc, path)
    "events_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |flag AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_num
        |  FROM flag),
        |p AS (
        |  SELECT event_type || '>' || lead(event_type, 1) OVER sw
        |      || '>' || lead(event_type, 2) OVER sw AS path
        |  FROM sess WINDOW sw AS (PARTITION BY user_id, session_num ORDER BY ms, event_id)
        |  QUALIFY lead(event_type, 2) OVER sw IS NOT NULL),
        |c AS (SELECT path, count(*) AS n_occurrences FROM p GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, path) AS BIGINT) AS rank,
        |  path, n_occurrences
        |FROM c QUALIFY rank <= 10""".stripMargin,

    // Cohort retention: distinct user-days, first-seen cohort, day offsets
    "events_retention" ->
      """WITH ed AS (SELECT DISTINCT user_id,
        |              epoch_ms(date_trunc('day', ts)) AS day_ms FROM events),
        |c AS (SELECT user_id, min(day_ms) AS c0 FROM ed GROUP BY 1)
        |SELECT c0 AS cohort_ms, (day_ms - c0) // 86400000 AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM ed JOIN c USING (user_id)
        |WHERE (day_ms - c0) // 86400000 <= 7
        |GROUP BY 1, 2""".stripMargin,

    // Windowed funnel: earliest qualifying event strictly after the prior
    // stage's time and within 24h of it
    "events_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |        AND e.ts <= v.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |        AND e.ts <= c.t2 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        |UNION ALL SELECT 'click', CAST(count(*) AS BIGINT) FROM c
        |UNION ALL SELECT 'purchase', CAST(count(*) AS BIGINT) FROM p""".stripMargin,

    // Hourly heavy hitters: same hour truncation, rank on (n desc, user)
    "events_topk_users" ->
      """WITH c AS (SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, user_id,
        |             count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT hour_ms, user_id, n,
        |        row_number() OVER (PARTITION BY hour_ms ORDER BY n DESC, user_id) AS rank
        |      FROM c)
        |SELECT hour_ms, CAST(rank AS BIGINT) AS rank, user_id, CAST(n AS BIGINT) AS n
        |FROM r WHERE rank <= 3""".stripMargin,

    "events_hourly" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        |  count(*) AS n,
        |  ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0, 4) AS sum_value,
        |  ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 / count(*), 6) AS avg_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // streaming sessionize emits exactly the CLOSED sessions: the batch
    // sessionization minus each user's final (open) session
    "events_sessionize_stream" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |flag AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sess AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_num
        |  FROM flag),
        |agg AS (
        |  SELECT user_id, session_num, count(*) AS n_events, min(ms) AS start_ms,
        |    max(ms) - min(ms) AS duration_ms, ROUND(sum(value), 4) AS sum_value
        |  FROM sess GROUP BY 1, 2)
        |SELECT * FROM agg
        |QUALIFY session_num < max(session_num) OVER (PARTITION BY user_id)""".stripMargin,

    // streaming exact dedup over one micro-batch == the batch DISTINCT
    "events_dedup_stream" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // streaming curation ledger == the batch gate + digest rollup (the
    // quality formula is doc_text_stats'; the gate is doc_pipeline's 0.7)
    "doc_stream_curate" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT doc_id, text,
        |  0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |  + 0.4 * (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) / CAST(len(toks) AS DOUBLE))
        |  + 0.2 * least(len(toks) / 100.0, 1.0) AS quality FROM t)
        |SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM q WHERE quality >= CAST(0.7 AS DOUBLE) GROUP BY 1""".stripMargin,

    // as-of semantics pinned against DuckDB's NATIVE ASOF JOIN: greatest
    // right time <= left time per key, null when no prior right row
    "events_asof_view" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, max(value) AS vval FROM events
        |      WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id, epoch_ms(v.ts) AS view_ms,
        |  ROUND(v.vval, 4) AS view_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,

    // windowed attribution pairs: the oracle states the range predicate
    // directly; the engine's bucketed equi-join must reproduce it exactly
    "events_interval_join" ->
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  (epoch_us(c.ts) - epoch_us(v.ts)) // 1000 AS gap_ms
        |FROM events v JOIN events c ON c.user_id = v.user_id
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 24 HOUR""".stripMargin,

    // typed JSON field extraction + keyed aggregation (DuckDB sums of
    // BIGINT widen to HUGEINT — cast back so the schemas agree)
    "events_props_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  ROUND(avg(CAST(props->>'k' AS BIGINT)), 6) AS avg_k,
        |  CAST(sum(CASE WHEN CAST(props->>'k' AS BIGINT) >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
        |FROM events GROUP BY 1""".stripMargin,

    // per-stratum exact interpolated quality quantiles over the SAME
    // 6dp-rounded composite score as doc_text_stats
    "doc_quality_quantiles" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT CASE WHEN len(toks) >= 60 THEN 'long' ELSE 'short' END AS stratum,
        |  ROUND(0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |      + 0.4 * (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) / CAST(len(toks) AS DOUBLE))
        |      + 0.2 * least(len(toks) / 100.0, 1.0), 6) AS q FROM t),
        |qn AS (SELECT stratum, quantile_cont(q, [0.1, 0.25, 0.5, 0.75, 0.9]) AS qs
        |       FROM s GROUP BY 1)
        |SELECT stratum, CAST(generate_subscripts(qs, 1) AS BIGINT) AS i,
        |  ROUND(unnest(qs), 6) AS quality_q
        |FROM qn""".stripMargin,

    // the streaming twin must produce EXACTLY the batch aggregation
    "events_hourly_stream" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        |  count(*) AS n,
        |  ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0, 4) AS sum_value,
        |  ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 / count(*), 6) AS avg_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // Gopher repetition gates: 2-gram/3-gram char fractions via lead()
    // windows, multiplicity preserved (no DISTINCT), keep = composite gate
    "doc_gopher_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts,
        |              length(text) AS nc FROM documents),
        |base AS (SELECT doc_id, CAST(nc AS DOUBLE) AS nc,
        |         CAST(len(ts) AS DOUBLE) AS nt,
        |         CAST(nc - len(ts) + 1 AS DOUBLE) AS wc FROM toks),
        |tok AS (SELECT doc_id, unnest(ts) AS w,
        |        generate_subscripts(ts, 1) AS pos FROM toks),
        |g2 AS (SELECT doc_id, w || ' ' || lead(w, 1) OVER win AS gram FROM tok
        |       WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |       QUALIFY lead(w, 1) OVER win IS NOT NULL),
        |g2c AS (SELECT doc_id, gram, count(*) AS c, length(gram) AS gc
        |        FROM g2 GROUP BY doc_id, gram),
        |t2 AS (SELECT doc_id, max(c * gc) AS topchars FROM g2c GROUP BY doc_id),
        |g3 AS (SELECT doc_id,
        |       w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS gram
        |       FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |       QUALIFY lead(w, 2) OVER win IS NOT NULL),
        |g3c AS (SELECT doc_id, gram, count(*) AS c, length(gram) AS gc
        |        FROM g3 GROUP BY doc_id, gram),
        |d3 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c * gc ELSE 0 END) AS dupchars
        |       FROM g3c GROUP BY doc_id)
        |SELECT b.doc_id,
        |  ROUND(coalesce(t2.topchars, 0) / b.nc, 6) AS top2gram_frac,
        |  ROUND(coalesce(d3.dupchars, 0) / b.nc, 6) AS dup3gram_frac,
        |  ROUND(b.wc / b.nt, 6) AS mean_word_len,
        |  (b.wc / b.nt >= 3.0 AND b.wc / b.nt <= 10.0
        |   AND coalesce(t2.topchars, 0) / b.nc <= 0.20
        |   AND coalesce(d3.dupchars, 0) / b.nc <= 0.30) AS keep
        |FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)""".stripMargin,

    // decontamination: distinct-3-gram overlap of every doc against the
    // doc_id % 20 = 0 benchmark slice, inverted-index join only
    "doc_decontaminate" ->
      s"""$SHINGLES
         |sz AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY 1),
         |bs AS (SELECT doc_id AS bench_id, shingle FROM ds WHERE doc_id % 20 = 0),
         |ov AS (SELECT a.doc_id, b.bench_id, count(*) AS common
         |       FROM ds a JOIN bs b USING (shingle)
         |       WHERE a.doc_id <> b.bench_id GROUP BY 1, 2)
         |SELECT ov.doc_id, bench_id,
         |  ROUND(common / CAST(sz AS DOUBLE), 6) AS overlap_frac
         |FROM ov JOIN sz ON ov.doc_id = sz.doc_id
         |WHERE common / CAST(sz AS DOUBLE) >= 0.5""".stripMargin,

    // Bloom-prefiltered decontamination: the Bloom layer is result-invariant
    // (prefilter + exact join == exact join), so the oracle is the plain
    // inverted-index overlap at this query's own bench slice / threshold
    "doc_decontaminate_bloom" ->
      s"""$SHINGLES
         |sz AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY 1),
         |bs AS (SELECT doc_id AS bench_id, shingle FROM ds WHERE doc_id % 17 = 3),
         |ov AS (SELECT a.doc_id, b.bench_id, count(*) AS common
         |       FROM ds a JOIN bs b USING (shingle)
         |       WHERE a.doc_id <> b.bench_id GROUP BY 1, 2)
         |SELECT ov.doc_id, bench_id,
         |  ROUND(common / CAST(sz AS DOUBLE), 6) AS overlap_frac
         |FROM ov JOIN sz ON ov.doc_id = sz.doc_id
         |WHERE common / CAST(sz AS DOUBLE) >= CAST(0.4 AS DOUBLE)""".stripMargin,

    // stratified hash sampling: the md5-bucket predicate replayed exactly
    // (fractions chosen so fraction * 2^32 is an exact integer — no
    // double->int rounding divergence between engines)
    "doc_sample_hash" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) >= 60 THEN 'long' ELSE 'short' END AS stratum
        |  FROM documents),
        |h AS (SELECT doc_id, stratum,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
        |  FROM t)
        |SELECT doc_id, stratum FROM h
        |WHERE b < CASE stratum WHEN 'long' THEN 2147483648 ELSE 1073741824 END""".stripMargin,

    // Temperature mixture: same strata, rates n^0.5-proportional, T=200,
    // 9dp-rounded fraction floored onto the 2^32 hash space
    "doc_mixture_temp" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) >= 60 THEN 'long' ELSE 'short' END AS stratum
        |  FROM documents),
        |c AS (SELECT stratum, CAST(count(*) AS DOUBLE) AS n FROM t GROUP BY 1),
        |s AS (SELECT sum(pow(n, 0.5)) AS wsum FROM c),
        |f AS (SELECT stratum,
        |  CAST(FLOOR(ROUND(least(1.0, 200.0 * pow(n, 0.5) / wsum / n), 9)
        |       * 4294967296) AS BIGINT) AS thr FROM c, s),
        |h AS (SELECT doc_id, stratum,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
        |  FROM t)
        |SELECT h.doc_id, h.stratum FROM h JOIN f USING (stratum) WHERE b < thr""".stripMargin,

    // Token-budget mixture plan: per-source token volume → integer budget
    // (6dp-round-then-floor of share·target — shares written CAST AS
    // DOUBLE so DuckDB's DECIMAL literals do the same IEEE math) → capped
    // 9dp rate. src0's budget exceeds availability at sf0.01 only, so the
    // dual-SF gate covers both sides of the least(1, ·) cap.
    "doc_token_budget" ->
      """WITH t AS (SELECT source, len(string_split(text, ' ')) AS nt FROM documents),
        |c AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS tokens_available
        |      FROM t GROUP BY 1),
        |p AS (SELECT source, tokens_available,
        |  CAST(FLOOR(ROUND(CASE source
        |    WHEN 'src0' THEN CAST(0.8 AS DOUBLE) WHEN 'src1' THEN CAST(0.1 AS DOUBLE)
        |    WHEN 'src2' THEN CAST(0.06 AS DOUBLE) WHEN 'src3' THEN CAST(0.04 AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END * 2000, 6)) AS BIGINT) AS token_budget
        |  FROM c)
        |SELECT source, tokens_available, token_budget,
        |  ROUND(LEAST(CAST(1 AS DOUBLE),
        |    token_budget / CAST(tokens_available AS DOUBLE)), 9) AS rate
        |FROM p""".stripMargin,

    // membership replay at the plan's rates: same md5-prefix 32-bit bucket
    // as every sampler oracle, thresholds floor(rate * 2^32)
    "doc_token_budget_sample" ->
      """WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS nt
        |      FROM documents),
        |c AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS tokens_available
        |      FROM t GROUP BY 1),
        |p AS (SELECT source,
        |  CAST(FLOOR(ROUND(CASE source
        |    WHEN 'src0' THEN CAST(0.8 AS DOUBLE) WHEN 'src1' THEN CAST(0.1 AS DOUBLE)
        |    WHEN 'src2' THEN CAST(0.06 AS DOUBLE) WHEN 'src3' THEN CAST(0.04 AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END * 2000, 6)) AS BIGINT) AS token_budget,
        |  tokens_available FROM c),
        |f AS (SELECT source,
        |  CAST(FLOOR(ROUND(LEAST(CAST(1 AS DOUBLE),
        |    token_budget / CAST(tokens_available AS DOUBLE)), 9)
        |    * 4294967296) AS BIGINT) AS thr FROM p),
        |h AS (SELECT doc_id, source, nt,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
        |  FROM t)
        |SELECT h.doc_id, h.source, CAST(h.nt AS BIGINT) AS n_tokens
        |FROM h JOIN f USING (source) WHERE b < thr""".stripMargin,

    // concat-and-chunk packing: md5 shard + per-shard running-offset window,
    // integer chunk spans (DuckDB window SUM(BIGINT) yields HUGEINT — cast)
    "doc_pack_chunks" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM documents),
        |s AS (SELECT doc_id, nt, h, CAST(h % 8 AS INT) AS shard FROM t),
        |o AS (SELECT doc_id, shard, nt,
        |  CAST(coalesce(sum(nt) OVER (PARTITION BY shard ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM s)
        |SELECT doc_id, shard, off AS offset_start,
        |  CAST(off // 256 AS BIGINT) AS chunk_start,
        |  CAST((off + nt - 1) // 256 AS BIGINT) AS chunk_end
        |FROM o""".stripMargin,

    // PII gate: the same deterministic profile construction, the same
    // RE2-safe patterns (group-0 counts) and the same 4-step redaction
    // chain, replayed verbatim — email → ipv4 → phone → long-id.
    "doc_pii_redact" ->
      """WITH prof AS (SELECT c_custkey AS doc_id,
        |  concat_ws(' ', c_name, 'segment', c_mktsegment,
        |    CASE WHEN c_custkey % 3 = 0 THEN concat('contact user', CAST(c_custkey AS VARCHAR), '@example.com') ELSE 'no email on file' END,
        |    CASE WHEN c_custkey % 4 = 0 THEN concat('tel 1-555-', lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0')) ELSE '' END,
        |    CASE WHEN c_custkey % 5 = 0 THEN concat('last ip 10.', CAST(c_custkey % 256 AS VARCHAR), '.0.', CAST((c_custkey * 3) % 256 AS VARCHAR)) ELSE '' END
        |  ) AS text FROM customer),
        |c AS (SELECT doc_id, text,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ipv4,
        |  len(regexp_extract_all(text, '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?')) AS n_phone,
        |  len(regexp_extract_all(text, '[0-9]{9,}')) AS n_long_id
        |  FROM prof)
        |SELECT doc_id, n_email, n_ipv4, n_phone, n_long_id,
        |  (n_email > 0 OR n_ipv4 > 0 OR n_phone > 0 OR n_long_id > 0) AS has_pii,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?', '<PHONE>', 'g'),
        |    '[0-9]{9,}', '<ID>', 'g') AS redacted
        |FROM c""".stripMargin,

    // tf-idf top terms: same smooth idf, same rounded-weight/term ranking
    "doc_tfidf_top_terms" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents),
        |w AS (SELECT doc_id, term,
        |        CAST(tf AS DOUBLE) * (ln((nd + 1.0) / (df + 1.0)) + 1.0) AS wt
        |      FROM tf JOIN dfreq USING (term), n),
        |r AS (SELECT doc_id, term, ROUND(wt, 6) AS tfidf,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY ROUND(wt, 6) DESC, term ASC) AS rank
        |      FROM w)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf
        |FROM r WHERE rank <= 3""".stripMargin,

    // BM25 against the same 4-term lexicon, same k1=1.2 / b=0.75 math
    "doc_bm25" ->
      """WITH lens AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
        |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM lens),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |h AS (SELECT doc_id, term FROM t
        |      WHERE term IN ('join', 'spark', 'stream', 'window')),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM h GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id,
        |        sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |            / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS s
        |      FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id), st GROUP BY 1)
        |SELECT l.doc_id, ROUND(coalesce(s, 0.0), 6) AS bm25
        |FROM lens l LEFT JOIN sc ON sc.doc_id = l.doc_id""".stripMargin,

    // Bigram perplexity: same MLE bigram LM, exp(-avg ln(c_ab/c_a))
    "doc_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bi AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
        |bg AS (SELECT doc_id, toks[i] AS a, toks[i + 1] AS b FROM bi),
        |cab AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
        |ca AS (SELECT a, count(*) AS c_a FROM bg GROUP BY 1),
        |sc AS (SELECT doc_id, count(*) AS n_bigrams,
        |         exp(-avg(ln(c_ab / c_a))) AS ppl
        |       FROM bg JOIN cab USING (a, b) JOIN ca USING (a) GROUP BY 1)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  ROUND(ppl, 6) AS ppl FROM sc""".stripMargin,

    // Interpolated Kneser-Ney trigram ppl: raw discounted counts at order
    // 3, continuation counts (distinct-type extensions) below, unigram
    // with a 1/(V+1) OOV reserve; arithmetic written in the operator's
    // exact association order so both engines round identically
    "doc_kn_perplexity" -> knOracleSql("TRUE", "TRUE"),

    // Same estimator, LM fit on doc_id % 10 <> 0, scored on % 10 = 0 —
    // the held-out split exercises OOV tokens + unseen-context backoff
    "doc_kn_perplexity_heldout" ->
      knOracleSql("doc_id % 10 <> 0", "doc_id % 10 = 0"),

    // Naive-Bayes quality classifier over hashed unigram+bigram features
    // (buckets 2^18, Laplace alpha=1): train on doc_id % 10 <> 0 labeled
    // good = (lang = 'en'), score every doc; unseen buckets take the
    // smoothing default via the left join (the OOV path). Same md5-prefix
    // bucket recipe and the operator's exact association order
    "doc_quality_classifier" ->
      """WITH tr AS (SELECT doc_id, (lang = 'en') AS good,
        |             string_split(text, ' ') AS toks
        |           FROM documents WHERE doc_id % 10 <> 0),
        |sr AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |trg AS (
        |  SELECT good, toks[i] AS g
        |  FROM (SELECT good, toks, unnest(range(1, len(toks) + 1)) AS i FROM tr)
        |  UNION ALL
        |  SELECT good, toks[i] || ' ' || toks[i + 1] AS g
        |  FROM (SELECT good, toks, unnest(range(1, len(toks))) AS i FROM tr
        |        WHERE len(toks) >= 2)),
        |model AS (SELECT CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 262144 AS f,
        |            CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS DOUBLE) AS cg,
        |            CAST(sum(CASE WHEN NOT good THEN 1 ELSE 0 END) AS DOUBLE) AS cb
        |          FROM trg GROUP BY 1),
        |tot AS (SELECT coalesce(sum(cg), 0.0) AS tg,
        |               coalesce(sum(cb), 0.0) AS tb FROM model),
        |pri AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS ndg,
        |               CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS ndb
        |        FROM documents WHERE doc_id % 10 <> 0),
        |srg AS (
        |  SELECT doc_id, toks[i] AS g
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM sr)
        |  UNION ALL
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM sr
        |        WHERE len(toks) >= 2)),
        |j AS (SELECT s.doc_id,
        |        ln((coalesce(m.cg, 0.0) + 1.0) / (tot.tg + 262144.0))
        |      - ln((coalesce(m.cb, 0.0) + 1.0) / (tot.tb + 262144.0)) AS llr
        |      FROM (SELECT doc_id,
        |              CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 262144 AS f
        |            FROM srg) s
        |      LEFT JOIN model m USING (f) CROSS JOIN tot),
        |sc AS (SELECT j.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |         ROUND(ln(greatest(pri.ndg, 1.0) / greatest(pri.ndb, 1.0))
        |               + sum(j.llr), 6) AS score
        |       FROM j CROSS JOIN pri GROUP BY j.doc_id, pri.ndg, pri.ndb)
        |SELECT doc_id, n_feats, score,
        |  CAST(score > 0 AS INT) AS pred_good FROM sc""".stripMargin,

    // BPE vocabulary training, 8 merges: full round-by-round replay of the
    // pair-count -> top-1 -> greedy-merge loop (ties: count desc, pair asc)
    "doc_bpe_vocab" -> bpeOracleSql(8),

    // The composed curation chain: perplexity band -> fingerprint dedup
    // over survivors -> temperature sample; stage-local dfs and counts
    "doc_curation_chain" ->
      s"""$CURATION_CTES
         |SELECT h2.doc_id, h2.stratum FROM h2 JOIN f2 USING (stratum)
         |WHERE b < thr""".stripMargin,

    // Curation lineage audit: same chain CTEs, every input doc labeled with
    // the FIRST stage that dropped it (stages are nested subsets, so the
    // CASE order IS the chain order); 'kept' = survived the whole chain
    "doc_curation_audit" ->
      s"""$CURATION_CTES,
         |fin AS (SELECT h2.doc_id FROM h2 JOIN f2 USING (stratum) WHERE b < thr)
         |SELECT d.doc_id,
         |  (d.doc_id IN (SELECT doc_id FROM fin)) AS keep,
         |  CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM d1) THEN 'perplexity'
         |       WHEN d.doc_id IN (SELECT doc_id FROM dup) THEN 'fingerprint'
         |       WHEN d.doc_id NOT IN (SELECT doc_id FROM fin) THEN 'sample'
         |       ELSE 'kept' END AS dropped_by
         |FROM documents d""".stripMargin,


    // Winnowing fingerprints: same base-31 mod 2^20 polynomial over char
    // 8-grams, same h*2^32+(2^32-1-p) order-embedding window min, w=4
    "doc_fingerprints" ->
      """WITH dd AS (SELECT doc_id, text FROM documents WHERE length(text) >= 11),
        |g AS (SELECT doc_id, unnest(range(1, length(text) - 6)) AS p, text FROM dd),
        |h AS (SELECT doc_id, CAST(p AS BIGINT) AS p,
        |        (CAST(ascii(substr(text, p, 1)) AS BIGINT) * 27512614111
        |       + CAST(ascii(substr(text, p + 1, 1)) AS BIGINT) * 887503681
        |       + CAST(ascii(substr(text, p + 2, 1)) AS BIGINT) * 28629151
        |       + CAST(ascii(substr(text, p + 3, 1)) AS BIGINT) * 923521
        |       + CAST(ascii(substr(text, p + 4, 1)) AS BIGINT) * 29791
        |       + CAST(ascii(substr(text, p + 5, 1)) AS BIGINT) * 961
        |       + CAST(ascii(substr(text, p + 6, 1)) AS BIGINT) * 31
        |       + CAST(ascii(substr(text, p + 7, 1)) AS BIGINT)) % 1048576 AS h
        |      FROM g),
        |k2 AS (SELECT doc_id, p, h, h * 4294967296 + (4294967295 - p) AS kk FROM h),
        |w2 AS (SELECT doc_id,
        |         min(kk) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
        |         count(*) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
        |       FROM k2),
        |sel0 AS (SELECT DISTINCT doc_id, 4294967295 - (wkey % 4294967296) AS p
        |         FROM w2 WHERE cnt = 4),
        |sel AS (SELECT s.doc_id, CAST(concat('0x',
        |          substr(md5(substr(d.text, CAST(s.p AS INT), 8)), 1, 15)) AS BIGINT) AS h
        |        FROM sel0 s JOIN dd d USING (doc_id)),
        |agg AS (SELECT doc_id, count(*) AS n_fp,
        |          CAST(sum(h % 1000000007) AS BIGINT) AS fp_sum,
        |          min(h) AS fp_min, max(h) AS fp_max FROM sel GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_fp, 0) AS BIGINT) AS n_fp,
        |  CAST(coalesce(fp_sum, 0) AS BIGINT) AS fp_sum,
        |  CAST(coalesce(fp_min, -1) AS BIGINT) AS fp_min,
        |  CAST(coalesce(fp_max, -1) AS BIGINT) AS fp_max
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,

    // MOSS pairs over the same winnowed set: df-cap 100, >= 50 shared hashes
    "doc_fingerprint_pairs" ->
      """WITH dd AS (SELECT doc_id, text FROM documents WHERE length(text) >= 11),
        |g AS (SELECT doc_id, unnest(range(1, length(text) - 6)) AS p, text FROM dd),
        |h AS (SELECT doc_id, CAST(p AS BIGINT) AS p,
        |        (CAST(ascii(substr(text, p, 1)) AS BIGINT) * 27512614111
        |       + CAST(ascii(substr(text, p + 1, 1)) AS BIGINT) * 887503681
        |       + CAST(ascii(substr(text, p + 2, 1)) AS BIGINT) * 28629151
        |       + CAST(ascii(substr(text, p + 3, 1)) AS BIGINT) * 923521
        |       + CAST(ascii(substr(text, p + 4, 1)) AS BIGINT) * 29791
        |       + CAST(ascii(substr(text, p + 5, 1)) AS BIGINT) * 961
        |       + CAST(ascii(substr(text, p + 6, 1)) AS BIGINT) * 31
        |       + CAST(ascii(substr(text, p + 7, 1)) AS BIGINT)) % 1048576 AS h
        |      FROM g),
        |k2 AS (SELECT doc_id, p, h, h * 4294967296 + (4294967295 - p) AS kk FROM h),
        |w2 AS (SELECT doc_id,
        |         min(kk) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
        |         count(*) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
        |       FROM k2),
        |sel0 AS (SELECT DISTINCT doc_id, 4294967295 - (wkey % 4294967296) AS p
        |         FROM w2 WHERE cnt = 4),
        |sel AS (SELECT DISTINCT s.doc_id, CAST(concat('0x',
        |          substr(md5(substr(d.text, CAST(s.p AS INT), 8)), 1, 15)) AS BIGINT) AS h
        |        FROM sel0 s JOIN dd d USING (doc_id)),
        |cap AS (SELECT doc_id, h FROM
        |          (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS dfq FROM sel)
        |        WHERE dfq <= greatest(100,
        |          CAST(ceil(0.05 * (SELECT count(*) FROM documents)) AS BIGINT))),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |       FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM pr WHERE n_shared >= 50""".stripMargin,

    // One-row corpus report: same stats/quality math aggregated corpus-wide
    "doc_corpus_summary" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT doc_id, text, len(toks) AS nt,
        |        0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |      + 0.4 * (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) / CAST(len(toks) AS DOUBLE))
        |      + 0.2 * least(len(toks) / 100.0, 1.0) AS quality FROM t)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  ROUND(avg(nt), 6) AS avg_tokens,
        |  ROUND(avg(quality), 6) AS avg_quality,
        |  ROUND(avg(CASE WHEN nt >= 60 THEN 1.0 ELSE 0.0 END), 6) AS pct_long
        |FROM q""".stripMargin,

    "doc_text_stats" ->
      """WITH t AS (SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, CAST(nc AS BIGINT) AS n_chars_calc,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |  ROUND(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) AS distinct_ratio,
        |  ROUND(list_aggregate(list_transform(toks, x -> len(x)), 'sum') / CAST(len(toks) AS DOUBLE), 6) AS avg_token_len,
        |  ROUND(len(list_filter(toks, x -> x IN ('the','a'))) / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
        |  ROUND(0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |      + 0.4 * (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) / CAST(len(toks) AS DOUBLE))
        |      + 0.2 * least(len(toks) / 100.0, 1.0), 6) AS quality
        |FROM t""".stripMargin,

    "doc_langid" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','a','big','small','fast','slow'))) / CAST(len(toks) AS DOUBLE) AS sg,
        |  len(list_filter(toks, x -> x IN ('table','join','query','scan','merge','sort','hash','group'))) / CAST(len(toks) AS DOUBLE) AS sq,
        |  len(list_filter(toks, x -> x IN ('stream','window','batch','spark','line'))) / CAST(len(toks) AS DOUBLE) AS ss
        | FROM t)
        |SELECT doc_id, ROUND(sg, 6) AS score_general, ROUND(sq, 6) AS score_sql,
        |  ROUND(ss, 6) AS score_stream,
        |  CASE WHEN ss > greatest(sg, sq) THEN 'stream'
        |       WHEN sq > sg THEN 'sql' ELSE 'general' END AS pred_profile
        |FROM s""".stripMargin,

    "doc_dedup_exact" ->
      "SELECT md5(text) AS digest, count(*) AS n_docs, min(doc_id) AS canonical_id FROM documents GROUP BY 1",

    "doc_dup_spans" ->
      s"""$SPAN_STARTS
         |dup AS (SELECT doc_id, pos FROM
         |  (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM sh)
         |  WHERE cnt >= 2),
         |brk AS (SELECT doc_id, pos,
         |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |       >= $SpanMinTokens THEN 1 ELSE 0 END AS b FROM dup),
         |isl AS (SELECT doc_id, pos,
         |  SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM brk)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) - min(pos) + $SpanMinTokens AS BIGINT) AS span_len
         |FROM isl GROUP BY doc_id, grp""".stripMargin,

    "doc_strip_spans" ->
      s"""$SPAN_STARTS
         |nc AS (SELECT doc_id, pos FROM
         |  (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt,
         |     row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sh)
         |  WHERE cnt >= 2 AND rn > 1),
         |isl AS (SELECT doc_id, pos,
         |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM nc),
         |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + ${SpanMinTokens - 1} AS e
         |  FROM isl GROUP BY doc_id, grp),
         |kept AS (SELECT t.doc_id, t.pos, t.w FROM toks t
         |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |    WHERE sp.doc_id = t.doc_id AND t.pos BETWEEN sp.s AND sp.e)),
         |reb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text2
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(len(string_split(coalesce(r.text2, ''), ' ')) AS BIGINT) AS n_tokens,
         |  md5(coalesce(r.text2, '')) AS digest
         |FROM documents d LEFT JOIN reb r ON r.doc_id = d.doc_id""".stripMargin,

    "doc_span_profile" ->
      s"""$SPAN_STARTS
         |dup AS (SELECT doc_id, pos FROM
         |  (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM sh)
         |  WHERE cnt >= 2),
         |brk AS (SELECT doc_id, pos,
         |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |       >= $SpanMinTokens THEN 1 ELSE 0 END AS b FROM dup),
         |isl AS (SELECT doc_id, pos,
         |  SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM brk),
         |sp AS (SELECT doc_id, max(pos) - min(pos) + $SpanMinTokens AS span_len
         |  FROM isl GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, SUM(span_len) AS dup_toks FROM sp GROUP BY doc_id),
         |base AS (SELECT doc_id, source,
         |  len(string_split(text, ' ')) AS nt FROM documents)
         |SELECT source, count(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(SUM(dup_toks), 0) AS BIGINT) AS dup_tokens,
         |  ROUND(COALESCE(SUM(dup_toks), 0) / CAST(SUM(nt) AS DOUBLE), 6) AS dup_ratio
         |FROM base LEFT JOIN agg USING (doc_id) GROUP BY source""".stripMargin,

    "doc_dedup_incremental" ->
      s"""$SHINGLES
         |capped AS (SELECT * FROM ds
         |  QUALIFY count(*) OVER (PARTITION BY shingle) <= $JaccardDfCap),
         |sz AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
         |l AS (SELECT * FROM capped WHERE doc_id % 10 = 0),
         |r AS (SELECT * FROM capped WHERE doc_id % 10 <> 0),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS c
         |  FROM l JOIN r ON l.shingle = r.shingle GROUP BY 1, 2),
         |near AS (SELECT DISTINCT a AS doc_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
         |  WHERE c / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.5),
         |ex AS (SELECT DISTINCT b.doc_id
         |  FROM documents b JOIN documents r2
         |    ON md5(b.text) = md5(r2.text)
         |   AND b.doc_id % 10 = 0 AND r2.doc_id % 10 <> 0)
         |SELECT d.doc_id,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
         |       WHEN near.doc_id IS NOT NULL THEN 'near'
         |       ELSE 'kept' END AS verdict
         |FROM documents d
         |LEFT JOIN ex ON ex.doc_id = d.doc_id
         |LEFT JOIN near ON near.doc_id = d.doc_id
         |WHERE d.doc_id % 10 = 0""".stripMargin,

    "doc_span_leakage" ->
      s"""$SPAN_STARTS
         |srcw AS (SELECT DISTINCT d.source AS src, s.h
         |  FROM sh s JOIN documents d USING (doc_id))
         |SELECT a.src AS source_a, b.src AS source_b,
         |  count(*) AS n_shared_windows
         |FROM srcw a JOIN srcw b ON a.h = b.h AND a.src < b.src
         |GROUP BY 1, 2""".stripMargin,

    "doc_jaccard_pairs" ->
      s"""$SHINGLES
         |dsc AS (SELECT * FROM ds
         |  QUALIFY count(*) OVER (PARTITION BY shingle) <= $JaccardDfCap),
         |sz AS (SELECT doc_id, count(*) AS sz FROM dsc GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM dsc a JOIN dsc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |  ROUND(n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.8""".stripMargin,

    // connected components over the jaccard pair graph: reachability
    // closure per vertex (min reachable id == component label) — DuckDB's
    // recursive CTE walks what the Spark side labels via min-label
    // propagation + pointer jumping
    "doc_dedup_clusters" ->
      s"""${SHINGLES.replaceFirst("WITH ", "WITH RECURSIVE ")}
         |dsc AS (SELECT * FROM ds
         |  QUALIFY count(*) OVER (PARTITION BY shingle) <= $JaccardDfCap),
         |sz AS (SELECT doc_id, count(*) AS sz FROM dsc GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM dsc a JOIN dsc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pr AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.8),
         |ed AS (SELECT doc_a AS a, doc_b AS b FROM pr
         |       UNION SELECT doc_b, doc_a FROM pr),
         |reach(v, r) AS (
         |  SELECT a, a FROM ed
         |  UNION
         |  SELECT reach.v, ed.b FROM reach JOIN ed ON ed.a = reach.r)
         |SELECT v AS doc_id, min(r) AS cluster_id, v = min(r) AS kept
         |FROM reach GROUP BY v""".stripMargin,

    "doc_minhash_lsh" ->
      s"""$SHINGLES
         |x AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS x FROM ds),
         |h AS (SELECT doc_id, i, min((x * (2*i+1) + (7919*(i+1)) % 2147483647) % 2147483647) AS m
         |      FROM x CROSS JOIN generate_series(0, 15) g(i) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, i // 4 AS band, md5(string_agg(m::VARCHAR, '_' ORDER BY i)) AS bh
         |          FROM h GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |est AS (SELECT doc_a, doc_b, sum(CASE WHEN ha.m = hb.m THEN 1 ELSE 0 END) / 16.0 AS ej
         |        FROM cand JOIN h ha ON ha.doc_id = doc_a
         |                  JOIN h hb ON hb.doc_id = doc_b AND hb.i = ha.i
         |        GROUP BY 1, 2)
         |SELECT doc_a, doc_b, ROUND(ej, 6) AS est_jaccard FROM est""".stripMargin,

    "doc_simhash" ->
      s"""$SIMHASH
         |SELECT doc_id, simhash FROM sh""".stripMargin,

    "doc_simhash_pairs" ->
      s"""$SIMHASH
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2""".stripMargin,

    "doc_multimodal" ->
      """WITH h AS (SELECT doc_id, strlen(text) AS nb, md5(text) AS checksum,
        |  CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h60 FROM documents)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes, checksum,
        |  64 + h60 % 1857 AS width,
        |  64 + (h60 // 7) % 1017 AS height,
        |  500 + (h60 // 13) % 59500 AS duration_ms
        |FROM h""".stripMargin,

    // planted-dimension replay of the real header decode: the Spark side
    // round-trips doc_id → PNG/JPEG/GIF bytes → parsed dims; the oracle
    // recomputes the plant + resize plan arithmetically
    // Byte-extract replay of the five-format plant: image + MP4 rows carry
    // the planted dims; WAV rows duration = nSamples*1000 // rate (the
    // decoder's dataSize*1000/byteRate reduces to exactly this) with zero
    // dims, so their resize targets are zero without the 512/0 division;
    // MP4 rows duration = units*1000 // timescale from the mvhd fields.
    "doc_multimodal_real" ->
      """WITH plant AS (SELECT doc_id, doc_id % 5 AS fmt,
        |  16 + (doc_id * 7) % 2033 AS w0,
        |  16 + (doc_id * 13) % 1525 AS h0,
        |  CASE (doc_id // 5) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS rate,
        |  CASE (doc_id // 5) % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS tsc
        |  FROM documents),
        |dims AS (SELECT doc_id, fmt,
        |  CASE WHEN fmt = 3 THEN 0 ELSE w0 END AS width,
        |  CASE WHEN fmt = 3 THEN 0 ELSE h0 END AS height,
        |  CASE WHEN fmt = 3
        |    THEN ((rate * (1 + doc_id % 5) + doc_id % 997) * 1000) // rate
        |  WHEN fmt = 4
        |    THEN ((tsc * (1 + doc_id % 7) + doc_id % 331) * 1000) // tsc
        |  ELSE 0 END AS duration_ms
        |  FROM plant),
        |sc AS (SELECT *, CASE WHEN fmt = 3 THEN 1.0
        |    ELSE least(1.0, CAST(512 AS DOUBLE) / greatest(width, height)) END AS scale
        |  FROM dims)
        |SELECT doc_id, width, height, duration_ms,
        |  CAST(floor(width * scale) AS BIGINT) AS target_width,
        |  CAST(floor(height * scale) AS BIGINT) AS target_height
        |FROM sc""".stripMargin,

    // dHash replay from the planted pixels: PNG is lossless so the Spark
    // side's decode(encode(px)) == px, and every post-decode step is
    // integer arithmetic. Grid mean: Spark sums all 3 RGB channels and
    // divides by 3·count — floor((3·Σg)/(3·cnt)) == Σg // cnt, the SQL
    // form. Bit b (= gy·8+gx) set iff grid(gx+1,gy) > grid(gx,gy);
    // words: hi = bits 63..32, lo = 31..0, both non-negative BIGINTs.
    "doc_image_phash" -> imagePhashSql,

    // PCM replay from the planted samples: WAV 16-bit PCM is lossless so
    // the Spark side's decode(encode(s)) == s, and every post-decode step
    // is integer arithmetic (Σs², sign-flip count, per-frame Σ|s| +
    // gradient-sign bits). The %10==9 rows pass only because gradient
    // signs survive the exact 2x gain — the fingerprint's invariance
    // property, oracle-checked.
    "doc_audio_features" -> audioFeaturesSql,

    // same 4x16-bit banding replay as the image pairs, over (fp_hi, fp_lo)
    "doc_audio_fp_pairs" ->
      s"""WITH af AS ($audioFeaturesSql),
        |banded AS (
        |  SELECT doc_id, fp_hi, fp_lo, b.band,
        |    CASE b.band WHEN 0 THEN fp_lo % 65536
        |      WHEN 1 THEN fp_lo // 65536
        |      WHEN 2 THEN fp_hi % 65536
        |      ELSE fp_hi // 65536 END AS band_val
        |  FROM af, range(4) b(band)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.fp_hi, b.fp_hi)) +
        |         bit_count(xor(a.fp_lo, b.fp_lo)) AS BIGINT) AS hamming
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_val = b.band_val
        |      AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3""".stripMargin,

    // banding replay: 4 bands × 16 bits over (hi, lo) — band 0 = lo%2^16,
    // 1 = lo//2^16, 2 = hi%2^16, 3 = hi//2^16 (= hammingPairs64's global
    // bit ranges at maxDist 3) — then the exact bit_count re-check
    "doc_image_phash_pairs" ->
      s"""WITH ph AS ($imagePhashSql),
        |banded AS (
        |  SELECT doc_id, dh_hi, dh_lo, b.band,
        |    CASE b.band WHEN 0 THEN dh_lo % 65536
        |      WHEN 1 THEN dh_lo // 65536
        |      WHEN 2 THEN dh_hi % 65536
        |      ELSE dh_hi // 65536 END AS band_val
        |  FROM ph, range(4) b(band)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.dh_hi, b.dh_hi)) +
        |         bit_count(xor(a.dh_lo, b.dh_lo)) AS BIGINT) AS hamming
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_val = b.band_val
        |      AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3""".stripMargin,

    // sample-table + raw-keyframe replay: counts/duration arithmetically,
    // the first-keyframe dHash from the planted pixels (image-grid math)
    "doc_video_keyframes" -> videoKeyframesSql,

    // same 4x16-bit banding replay as the image/audio pairs, over
    // (kf_hi, kf_lo)
    "doc_video_kf_pairs" ->
      s"""WITH vk AS ($videoKeyframesSql),
        |banded AS (
        |  SELECT doc_id, kf_hi, kf_lo, b.band,
        |    CASE b.band WHEN 0 THEN kf_lo % 65536
        |      WHEN 1 THEN kf_lo // 65536
        |      WHEN 2 THEN kf_hi % 65536
        |      ELSE kf_hi // 65536 END AS band_val
        |  FROM vk, range(4) b(band)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.kf_hi, b.kf_hi)) +
        |         bit_count(xor(a.kf_lo, b.kf_lo)) AS BIGINT) AS hamming
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_val = b.band_val
        |      AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3""".stripMargin,

    "emb_knn" ->
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |ed AS (SELECT vec_id, i, CAST(v AS DOUBLE) AS v FROM e),
        |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ed GROUP BY 1),
        |dots AS (SELECT a.vec_id AS qa, b.vec_id AS qb, sum(a.v * b.v) AS d
        |  FROM ed a JOIN ed b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 50 GROUP BY 1, 2),
        |sims AS (SELECT qa, qb, d / (na.n * nb.n) AS sim
        |  FROM dots JOIN nrm na ON na.vec_id = qa JOIN nrm nb ON nb.vec_id = qb),
        |ranked AS (SELECT qa AS query_id, qb AS neighbor_id, ROUND(sim, 6) AS sim,
        |    row_number() OVER (PARTITION BY qa ORDER BY ROUND(sim, 6) DESC, qb) AS rank
        |  FROM sims)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // auto_arima replay: per (p, q) cell, the two Hannan-Rissanen OLS stages
    // (long-AR(L) residuals, then y-lags + innovation-lags) via unrolled
    // Cholesky, AIC = n·ln(sse/n) + 2(p+q+1), argmin in grid order
    "ts_auto_arima" -> {
      // grid order matches AutoSelect.autoArma(maxP=2, maxQ=1)
      val cells = Seq((0, 1), (1, 0), (1, 1), (2, 0), (2, 1))
      val maxL = cells.map { case (p, q) => p + q + 4 }.max
      val defs = cells.zipWithIndex.map { case ((p, q), i) =>
        val l = p + q + 4
        val s1xs = (1 to l).map(j => s"l$j")
        val s1 = s"${OracleGen.momentsCte(s"c${i}s1", s1xs, s"lagd WHERE t > $l")},\n" +
          OracleGen.solveCtes(s"c${i}s1", l)
        val pred1 = ("beta_0" +: s1xs.zipWithIndex.map { case (x, j) => s"beta_${j + 1}*$x" })
          .mkString(" + ")
        // innovations + their lags (e rows are contiguous t > L, so window
        // lags over them are exactly e_{t-j})
        val eCte = s"e$i AS (SELECT t, y, " +
          (1 to p).map(j => s"l$j, ").mkString +
          s"y - ($pred1) AS e FROM lagd, c${i}s1_fit WHERE t > $l)"
        val elCte = s"el$i AS (SELECT t, y, " +
          (1 to p).map(j => s"l$j, ").mkString +
          (1 to q).map(j => s"lag(e, $j) OVER (ORDER BY t) AS el$j").mkString(", ") +
          (if (q == 0) "e" else "") + s" FROM e$i)"
        val s2xs = (1 to p).map(j => s"l$j") ++ (1 to q).map(j => s"el$j")
        // q = 0: stage 2 sees only y-lags, which exist on the FULL observed
        // frame (t > p) — innovations constrain rows only when q >= 1
        val lo2 = if (q == 0) p else l + q
        val from2 = if (q == 0) "lagd" else s"el$i"
        val s2 = s"${OracleGen.momentsCte(s"c${i}s2", s2xs, s"$from2 WHERE t > $lo2")},\n" +
          OracleGen.solveCtes(s"c${i}s2", s2xs.size)
        val pred2 = ("beta_0" +: s2xs.zipWithIndex.map { case (x, j) => s"beta_${j + 1}*$x" })
          .mkString(" + ")
        val ss = s"ss$i AS (SELECT sum(pow(y - ($pred2), 2)) AS sse, " +
          s"CAST(count(*) AS DOUBLE) AS n FROM $from2, c${i}s2_fit WHERE t > $lo2)"
        (Seq(s1) ++ (if (q > 0) Seq(eCte, elCte) else Nil) ++ Seq(s2, ss)).mkString(",\n")
      }.mkString(",\n")
      val rows = cells.zipWithIndex.map { case ((p, q), i) =>
        s"SELECT CAST($p AS BIGINT) AS p, CAST($q AS BIGINT) AS q, $i AS idx, " +
          s"n * ln(sse / n) + 2.0 * ${p + q + 1} AS aic FROM ss$i"
      }.mkString("\nUNION ALL\n")
      s"""$ZS,
         |lagd AS (SELECT series_id, ds, y,
         |         CAST(row_number() OVER (ORDER BY ds) AS INT) AS t,
         |         ${(1 to maxL).map(j => s"lag(y, $j) OVER (ORDER BY ds) AS l$j").mkString(", ")}
         |         FROM series),
         |$defs,
         |scored AS ($rows)
         |SELECT p, q, ROUND(aic, 6) AS aic FROM scored ORDER BY aic, idx LIMIT 1""".stripMargin
    },

    // determine_best_series_length replay: per candidate L, AR(1) Cholesky
    // OLS on the kept slice's train rows, holdout RMSE, argmin (list order
    // breaks ties like the reference's scan)
    "ts_best_length" -> {
      val cands = Seq(36, 60, 84)
      val defs = cands.zipWithIndex.map { case (l, i) =>
        s"${OracleGen.momentsCte(s"bl$i", Seq("x1"), s"lagd WHERE rb > 12 AND rb <= $l - 1")},\n" +
          OracleGen.solveCtes(s"bl$i", 1)
      }.mkString(",\n")
      val rows = cands.zipWithIndex.map { case (l, i) =>
        s"SELECT CAST($l AS BIGINT) AS best_length, $i AS idx, " +
          s"(SELECT sqrt(avg(pow(beta_0 + beta_1 * x1 - y, 2))) " +
          s"FROM lagd, bl${i}_fit WHERE rb <= 12) AS rmse"
      }.mkString("\nUNION ALL\n")
      s"""$ZS,
         |lagd AS (SELECT series_id, ds, y,
         |         lag(y) OVER (ORDER BY ds) AS x1,
         |         row_number() OVER (ORDER BY ds DESC) AS rb FROM series),
         |$defs,
         |scored AS ($rows)
         |SELECT best_length, ROUND(rmse, 6) AS rmse FROM scored
         |ORDER BY rmse, idx LIMIT 1""".stripMargin
    },

    // find_statistical_transformation replay: ADF(p=1) on the raw series →
    // CASE-gated log + diff(1) → lag-12 ACF significance on the result →
    // CASE-gated seasonal diff(12); output is the transformed series
    "ts_stat_transform" ->
      s"""$S,
         |cum AS (SELECT series_id, ds, sum(y) OVER (ORDER BY ds) AS y FROM series),
         |r0 AS (SELECT series_id, ds, y,
         |       y - lag(y) OVER (ORDER BY ds) AS dy,
         |       lag(y) OVER (ORDER BY ds) AS ylag FROM cum),
         |r1 AS (SELECT *, lag(dy) OVER (ORDER BY ds) AS dy1 FROM r0),
         |rws AS (SELECT * FROM r1
         |        WHERE dy IS NOT NULL AND ylag IS NOT NULL AND dy1 IS NOT NULL),
         |${OracleGen.momentsCte("ad", Seq("ylag", "dy1"), "rws", yExpr = "dy")},
         |${OracleGen.solveCtes("ad", 2)},
         |ex AS (SELECT sum(dy * dy) AS syy, CAST(count(*) AS DOUBLE) AS n FROM rws),
         |adf AS (SELECT beta_1 / sqrt(
         |    (syy - (beta_0 * sb_0 + beta_1 * sb_1 + beta_2 * sb_2)) / (n - 3) *
         |    ((sa_0_0 * sa_2_2 - sa_2_0 * sa_2_0) /
         |     (sa_0_0 * (sa_1_1 * sa_2_2 - sa_2_1 * sa_2_1)
         |      - sa_1_0 * (sa_1_0 * sa_2_2 - sa_2_1 * sa_2_0)
         |      + sa_2_0 * (sa_1_0 * sa_2_1 - sa_1_1 * sa_2_0)))) AS t
         |  FROM ad_fit, ex),
         |dec AS (SELECT (SELECT t FROM adf) > -2.86 AS nonstat,
         |               (SELECT min(y) FROM cum) > 0 AS pos),
         |s1 AS (SELECT series_id, ds,
         |    CASE WHEN (SELECT nonstat FROM dec) AND (SELECT pos FROM dec)
         |         THEN ln(y) ELSE y END AS y FROM cum),
         |s2 AS (SELECT series_id, ds,
         |    CASE WHEN (SELECT nonstat FROM dec)
         |         THEN y - lag(y) OVER (ORDER BY ds) ELSE y END AS y FROM s1),
         |s3 AS (SELECT * FROM s2 WHERE y IS NOT NULL),
         |mu AS (SELECT avg(y) AS mu, CAST(count(*) AS DOUBLE) AS n FROM s3),
         |cc AS (SELECT series_id, ds, y - (SELECT mu FROM mu) AS c,
         |       row_number() OVER (ORDER BY ds) AS rn FROM s3),
         |acf12 AS (SELECT sum(a.c * b.c) / (SELECT sum(c * c) FROM cc) AS r
         |  FROM cc a JOIN cc b ON b.rn = a.rn - 12),
         |d2 AS MATERIALIZED (SELECT coalesce((SELECT r FROM acf12), 0.0)
         |              > 1.96 / sqrt((SELECT n FROM mu)) AS seas),
         |s4 AS (SELECT series_id, ds,
         |    CASE WHEN (SELECT seas FROM d2)
         |         THEN y - lag(y, 12) OVER (ORDER BY ds) ELSE y END AS y FROM s3)
         |SELECT series_id, ds, ROUND(y, 6) AS y FROM s4 WHERE y IS NOT NULL""".stripMargin,

    // transfer_predict: AR(1) OLS fitted on orders train rows scores the
    // BUILDING segment; transfer_cis: the source's 95% test-residual
    // percentile becomes the target's CI width.
    "ts_transfer" ->
      s"""$S,
         |s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS t,
         |       lag(y) OVER (ORDER BY ds) AS yl FROM series),
         |nn AS (SELECT count(*) AS n FROM s2),
         |fit AS (SELECT regr_slope(y, yl) AS b, regr_intercept(y, yl) AS a
         |        FROM s2, nn WHERE t <= n - 12 AND yl IS NOT NULL),
         |wid AS (SELECT quantile_cont(abs(y - (a + b * yl)), 0.95) AS w
         |        FROM s2, nn, fit WHERE t > n - 12),
         |tgt AS (SELECT c_mktsegment AS series_id,
         |        CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
         |        ROUND(SUM(o_totalprice), 2) AS y
         |        FROM orders JOIN customer ON o_custkey = c_custkey
         |        WHERE c_mktsegment = 'BUILDING' GROUP BY 1, 2),
         |t2 AS (SELECT series_id, ds, y, lag(y) OVER (ORDER BY ds) AS yl FROM tgt)
         |SELECT series_id, ds, ROUND(y, 2) AS y, ROUND(a + b * yl, 0) AS yhat,
         |       ROUND(a + b * yl - w, 0) AS lower, ROUND(a + b * yl + w, 0) AS upper
         |FROM t2, fit, wid WHERE yl IS NOT NULL""".stripMargin,

    // add_signals + mlr stacking: naive/seasonal-naive signals, exact-OLS
    // meta fit over signal-complete rows.
    "ts_signals" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, lag(y, 1) OVER (ORDER BY ds) AS sn,
         |       lag(y, 12) OVER (ORDER BY ds) AS ss FROM series),
         |tr AS (SELECT * FROM s2 WHERE sn IS NOT NULL AND ss IS NOT NULL),
         |${OracleGen.momentsCte("mt", Seq("sn", "ss"), "tr")},
         |${OracleGen.solveCtes("mt", 2)}
         |SELECT series_id, ds, ROUND(y, 6) AS y, ROUND(sn, 6) AS signal_naive,
         |  ROUND(ss, 6) AS signal_snaive,
         |  ROUND(beta_0 + beta_1*sn + beta_2*ss, 6) AS yhat
         |FROM tr, mt_fit""".stripMargin,

    "ts_reduce_xvars" -> reduceXvarsOracleSql,

    "mv_var_order" -> mvVarOrderOracleSql,

    "ts_auto_xvar" -> autoXvarOracleSql,
    "ts_xvar_replay" -> xvarReplayOracleSql,

    "ts_opt_transform" -> optTransformOracleSql,

    // Classical additive decomposition, m = 12: centered even-period MA
    // (average of the two 12-windows), per-phase means normalized to zero
    // mean, residual where the trend window is complete.
    "ts_decompose" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS rn FROM series),
         |tr AS (SELECT *, CASE WHEN count(y) OVER (ORDER BY ds ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) = 13
         |    THEN (sum(y) OVER (ORDER BY ds ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)
         |        + sum(y) OVER (ORDER BY ds ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)) / 24.0
         |  END AS trend, (rn - 1) % 12 AS phase FROM s2),
         |pm AS (SELECT phase, avg(y - trend) AS ps FROM tr WHERE trend IS NOT NULL GROUP BY 1),
         |pn AS (SELECT phase, ps - (SELECT avg(ps) FROM pm) AS seasonal FROM pm)
         |SELECT tr.series_id, tr.ds, ROUND(tr.y, 6) AS y, ROUND(tr.trend, 6) AS trend,
         |       ROUND(pn.seasonal, 6) AS seasonal,
         |       ROUND(tr.y - tr.trend - pn.seasonal, 6) AS resid
         |FROM tr LEFT JOIN pn ON pn.phase = tr.phase""".stripMargin,

    // Full STL replay: two inner iterations of cycle-subseries LOWESS,
    // triple-MA low-pass, and trend LOWESS, each pass a window self-join +
    // closed-form weighted local line (the stl* generators above ZS).
    "ts_stl" ->
      s"""$ZS,
         |s0 AS (SELECT series_id, ds, y AS v, row_number() OVER (ORDER BY ds) - 1 AS i FROM series),
         |nn AS (SELECT count(*) AS n FROM s0),
         |${stlIteration(1, None)},
         |${stlIteration(2, Some("tr1"))}
         |SELECT s0.series_id, s0.ds, ROUND(tr2.fit, 6) AS trend,
         |       ROUND(seas2.v, 6) AS seasonal,
         |       ROUND(s0.v - tr2.fit - seas2.v, 6) AS resid
         |FROM s0 JOIN tr2 ON tr2.i = s0.i JOIN seas2 ON seas2.i = s0.i""".stripMargin,

    // Direct-DFT periodogram on the z-scored series: one (freq k) bin per
    // k in 1..n/2, power = (re^2 + im^2)/n over mean-centered values.
    "ts_periodogram" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS rn FROM series),
         |nn AS (SELECT count(*) AS n FROM s2),
         |ks AS (SELECT unnest(range(1, CAST(n // 2 AS BIGINT) + 1)) AS k FROM nn),
         |mu AS (SELECT avg(y) AS mu FROM s2),
         |c AS (SELECT series_id, rn - 1 AS tt, y - mu AS c FROM s2, mu)
         |SELECT c.series_id, ks.k AS freq,
         |  ROUND((pow(sum(c.c * cos(2*pi()*ks.k*c.tt/nn.n)), 2)
         |       + pow(sum(c.c * sin(2*pi()*ks.k*c.tt/nn.n)), 2)) / any_value(nn.n), 6) AS power
         |FROM c CROSS JOIN ks CROSS JOIN nn
         |GROUP BY 1, 2""".stripMargin,

    // find_seasonal_length: ACF at each candidate period, winner flagged by
    // strict argmax on the unrounded statistic.
    "ts_seasonal_length" ->
      s"""$S, s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS rn FROM series),
         |mu AS (SELECT avg(y) AS mu, count(*) AS n FROM s2),
         |c AS (SELECT series_id, rn, y - mu AS c FROM s2, mu),
         |d AS (SELECT sum(c * c) AS d FROM c),
         |acfs AS (SELECT a.series_id, g.k AS lag,
         |    sum(a.c * b.c) / (SELECT d FROM d) AS acf
         |  FROM (VALUES (3), (4), (6), (12)) g(k)
         |  JOIN c a ON a.rn > g.k
         |  JOIN c b ON b.rn = a.rn - g.k AND b.series_id = a.series_id
         |  GROUP BY 1, 2)
         |SELECT series_id, CAST(lag AS BIGINT) AS lag, ROUND(acf, 6) AS acf,
         |       acf = max(acf) OVER () AS is_best
         |FROM acfs""".stripMargin,

    // grouped find_seasonal_length: one ACF pass over all 5 segment series,
    // per-series argmax (tie-break: smaller period), statistic hash-checked.
    "ts_seasonal_length_by_series" ->
      s"""$SEG, s2 AS (SELECT series_id, ds, y,
         |    row_number() OVER (PARTITION BY series_id ORDER BY ds) AS rn FROM series),
         |mu AS (SELECT series_id, avg(y) AS mu FROM s2 GROUP BY 1),
         |c AS (SELECT s2.series_id, rn, y - mu AS c FROM s2 JOIN mu USING (series_id)),
         |d AS (SELECT series_id, sum(c * c) AS d FROM c GROUP BY 1),
         |acfs AS (SELECT a.series_id, g.k AS lag,
         |    sum(a.c * b.c) / any_value(d.d) AS acf
         |  FROM (VALUES (3), (4), (6), (12)) g(k)
         |  JOIN c a ON a.rn > g.k
         |  JOIN c b ON b.rn = a.rn - g.k AND b.series_id = a.series_id
         |  JOIN d ON d.series_id = a.series_id
         |  GROUP BY 1, 2),
         |best AS (SELECT series_id, lag, acf, row_number()
         |    OVER (PARTITION BY series_id ORDER BY acf DESC, lag ASC) AS rk FROM acfs)
         |SELECT series_id, CAST(lag AS BIGINT) AS m, ROUND(acf, 6) AS acf
         |FROM best WHERE rk = 1""".stripMargin,

    // grouped find_optimal_transformation: detrend -> diff1 greedy with
    // per-series accepts; three grouped AR(4) scoring chains (base, detrend
    // candidate, diff candidate over the blended input), per-series detrend
    // fit in closed form, accept CASEs mirror the engine's strict-< + NaN
    // skip policy
    "ts_opt_transform_by_series" ->
      s"""$ZSEG,
         |${ar4ScoreBySeriesCtes("q0", "series")},
         |st AS (SELECT series_id, ds, y,
         |  CAST(row_number() OVER (PARTITION BY series_id ORDER BY ds) AS DOUBLE) AS t
         |  FROM series),
         |dt AS (SELECT series_id, covar_samp(t, y) / var_samp(t) AS slope,
         |       avg(y) - covar_samp(t, y) / var_samp(t) * avg(t) AS icept
         |       FROM st GROUP BY 1),
         |d1 AS (SELECT st.series_id, st.ds, st.y - (icept + slope * t) AS y
         |       FROM st JOIN dt USING (series_id)),
         |${ar4ScoreBySeriesCtes("q1", "d1")},
         |a1 AS MATERIALIZED (SELECT q0_sc.series_id, q0_sc.r AS r0, q1_sc.r AS r1,
         |  (q1_sc.r IS NOT NULL AND NOT isnan(q1_sc.r) AND NOT isnan(q0_sc.r)
         |   AND q1_sc.r < q0_sc.r) AS acc1
         |  FROM q0_sc LEFT JOIN q1_sc USING (series_id)),
         |yc AS (SELECT s.series_id, s.ds,
         |  CASE WHEN a.acc1 THEN d.y ELSE s.y END AS y
         |  FROM series s JOIN a1 a USING (series_id)
         |  LEFT JOIN d1 d ON d.series_id = s.series_id AND d.ds = s.ds
         |  WHERE CASE WHEN a.acc1 THEN d.y ELSE s.y END IS NOT NULL),
         |d2 AS (SELECT series_id, ds,
         |  y - lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS y FROM yc),
         |${ar4ScoreBySeriesCtes("q2", "d2")},
         |a2 AS MATERIALIZED (SELECT a1.series_id,
         |  CASE WHEN a1.acc1 THEN a1.r1 ELSE a1.r0 END AS cs, q2_sc.r AS r2,
         |  (q2_sc.r IS NOT NULL AND NOT isnan(q2_sc.r)
         |   AND NOT isnan(CASE WHEN a1.acc1 THEN a1.r1 ELSE a1.r0 END)
         |   AND q2_sc.r < CASE WHEN a1.acc1 THEN a1.r1 ELSE a1.r0 END) AS acc2
         |  FROM a1 LEFT JOIN q2_sc USING (series_id))
         |SELECT series_id, 'detrend' AS candidate, ROUND(r1, 6) AS cand_rmse,
         |       acc1 AS accepted FROM a1
         |UNION ALL
         |SELECT series_id, 'diff1', ROUND(r2, 6), acc2 FROM a2""".stripMargin,

    // grouped auto_Xvar_select: the full 12-candidate staged search run per
    // series — grouped moments chains + a per-series greedy decision tree
    "ts_auto_xvar_by_series" -> {
      val tags = for ((tKey, _) <- xvarTrendSets; sKey <- 0 to 1; aKey <- 0 to 2)
        yield s"x$tKey$sKey$aKey"
      val rJoin = s"${tags.head}_r" +
        tags.tail.map(t => s" JOIN ${t}_r USING (series_id)").mkString
      s"""$ZSEG,
         |${xvarPrepBySeriesSql("s", "series")},
         |${xvarChainsBySeriesSql("x", "s")},
         |sel AS (SELECT series_id,
         |  CASE WHEN r_xa00 <= r_xb00 THEN 0 ELSE 1 END AS dt,
         |  CASE WHEN dt = 0 THEN (CASE WHEN r_xa00 <= r_xa10 THEN 0 ELSE 1 END)
         |       ELSE (CASE WHEN r_xb00 <= r_xb10 THEN 0 ELSE 1 END) END AS dsn,
         |  CASE WHEN dt = 0 AND dsn = 0 THEN r_xa00 WHEN dt = 0 THEN r_xa10
         |       WHEN dsn = 0 THEN r_xb00 ELSE r_xb10 END AS r0,
         |  CASE WHEN dt = 0 AND dsn = 0 THEN r_xa01 WHEN dt = 0 THEN r_xa11
         |       WHEN dsn = 0 THEN r_xb01 ELSE r_xb11 END AS r1,
         |  CASE WHEN dt = 0 AND dsn = 0 THEN r_xa02 WHEN dt = 0 THEN r_xa12
         |       WHEN dsn = 0 THEN r_xb02 ELSE r_xb12 END AS r2,
         |  CASE WHEN r0 <= r1 AND r0 <= r2 THEN 0 WHEN r1 <= r2 THEN 1 ELSE 2 END AS da
         |  FROM $rJoin)
         |SELECT series_id, CASE dt WHEN 0 THEN 't' ELSE 't,t2' END AS trend,
         |  CASE dsn WHEN 0 THEN '' ELSE 'monthsin,monthcos' END AS seasonal,
         |  CAST(da AS BIGINT) AS ar_order,
         |  ROUND(CASE da WHEN 0 THEN r0 WHEN 1 THEN r1 ELSE r2 END, 6) AS rmse
         |FROM sel""".stripMargin
    },

    // grouped find_statistical_transformation decision table: every
    // segment's ADF(p=1) regression solved in ONE grouped Cholesky chain
    // (momentsCte keys = series_id; the solve CTEs are row-wise, so one
    // moments row per series flows through as one fit per series).
    "ts_stat_recipes_by_series" ->
      s"""$ZSEG,
         |r0 AS (SELECT series_id, ds, y,
         |       y - lag(y) OVER w AS dy, lag(y) OVER w AS ylag FROM series
         |       WINDOW w AS (PARTITION BY series_id ORDER BY ds)),
         |r1 AS (SELECT *, lag(dy) OVER (PARTITION BY series_id ORDER BY ds) AS dy1 FROM r0),
         |rws AS (SELECT * FROM r1
         |        WHERE dy IS NOT NULL AND ylag IS NOT NULL AND dy1 IS NOT NULL),
         |${OracleGen.momentsCte("ad", Seq("ylag", "dy1"), "rws", yExpr = "dy",
                                 keys = Seq("series_id"))},
         |${OracleGen.solveCtes("ad", 2)},
         |ex AS (SELECT series_id, sum(dy * dy) AS syy,
         |       CAST(count(*) AS DOUBLE) AS n FROM rws GROUP BY 1),
         |fin AS MATERIALIZED (SELECT f.series_id,
         |  sa_0_0 * (sa_1_1 * sa_2_2 - sa_2_1 * sa_2_1)
         |  - sa_1_0 * (sa_1_0 * sa_2_2 - sa_2_1 * sa_2_0)
         |  + sa_2_0 * (sa_1_0 * sa_2_1 - sa_1_1 * sa_2_0) AS det,
         |  (sa_0_0 * sa_2_2 - sa_2_0 * sa_2_0) AS c11,
         |  syy - (beta_0 * sb_0 + beta_1 * sb_1 + beta_2 * sb_2) AS rss,
         |  n, beta_1
         |  FROM ad_fit f JOIN ex USING (series_id)),
         |tt AS (SELECT series_id,
         |  beta_1 / sqrt(rss / (n - 3) * (c11 / det)) AS t FROM fin)
         |SELECT tt.series_id, ROUND(t, 6) AS adf_t, t > -2.86 AS needs_diff,
         |       (t > -2.86 AND miny > 0) AS use_log
         |FROM tt JOIN zp USING (series_id)""".stripMargin,

    // blocked cross-lag VAR: lag-1 corr screen (rank by |c| desc, src asc) →
    // per-target design (self + top-2 sources + intercept, k=4) → moments
    // pivoted per target → one grouped Cholesky chain solves every equation
    // ANN-screened source selection == the exact quadratic screen, replayed
    // in SQL over the same planted-coupling fixture (followers = ±driver
    // lag + md5 wiggle; hash noise series must keep self-only blocks)
    "mv_screen_approx" -> {
      def nz(tag: String) =
        s"((CAST(concat('0x', substr(md5(concat(CAST(ds AS VARCHAR), '_$tag')), 1, 8)) AS BIGINT) % 1000) / 1000.0 - 0.5)"
      val fdefs = Seq("f1" -> "1.0", "f2" -> "-1.0", "f3" -> "0.9", "f4" -> "-0.9")
        .map { case (n, c) =>
          s"SELECT '$n' AS series_id, ds, $c * ylag + 0.1 * ${nz(n)} AS y FROM b2" }
      val ndefs = Seq("n1", "n2", "n3")
        .map(n => s"SELECT '$n' AS series_id, ds, ${nz(n)} AS y FROM b2")
      s"""$ZS,
         |sp AS (SELECT ds, y, lag(y) OVER (ORDER BY ds) AS ylag FROM series),
         |b2 AS (SELECT ds, y, ylag FROM sp WHERE ylag IS NOT NULL),
         |uni AS (
         |  SELECT 'a' AS series_id, ds, y FROM b2
         |  UNION ALL ${(fdefs ++ ndefs).mkString("\n  UNION ALL ")}),
         |lg AS (SELECT series_id AS src, ds,
         |       lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS xval FROM uni),
         |pr AS (SELECT t.series_id AS target, l.src, corr(t.y, l.xval) AS c
         |       FROM uni t JOIN lg l USING (ds)
         |       WHERE t.series_id <> l.src AND l.xval IS NOT NULL GROUP BY 1, 2),
         |rk AS (SELECT target, src,
         |       row_number() OVER (PARTITION BY target ORDER BY abs(c) DESC, src ASC) AS r
         |       FROM pr WHERE c IS NOT NULL AND abs(c) >= 0.6),
         |blk AS (SELECT series_id AS target, series_id AS src, 0 AS r
         |        FROM (SELECT DISTINCT series_id FROM uni)
         |        UNION ALL SELECT target, src, r FROM rk WHERE r <= 1)
         |SELECT target, src, CAST(r AS BIGINT) AS src_rank FROM blk""".stripMargin
    },

    "mv_blocked_var" ->
      s"""$ZSEG,
         |bounds AS (SELECT max(mn) AS lo, min(mx) AS hi FROM
         |  (SELECT series_id, min(ds) AS mn, max(ds) AS mx FROM series GROUP BY 1)),
         |series2 AS (SELECT s.* FROM series s, bounds WHERE s.ds BETWEEN lo AND hi),
         |${blockedVarCtes("series2")}
         |SELECT f.target AS series_id, CAST(g.fi AS BIGINT) AS fi,
         |  coalesce(b2.src, 'intercept') AS src,
         |  ROUND(CASE g.fi WHEN 0 THEN beta_0 WHEN 1 THEN beta_1
         |        WHEN 2 THEN beta_2 ELSE beta_3 END, 6) AS beta
         |FROM bv_fit f CROSS JOIN (VALUES (0), (1), (2), (3)) g(fi)
         |LEFT JOIN blk b2 ON b2.target = f.target AND b2.r = g.fi""".stripMargin,

    // blocked-VAR coupled recursion: the per-target blocked equations
    // collapse to one 5x5 update matrix W + intercepts; a recursive CTE
    // walks the 6 steps from the last observed state
    "mv_blocked_dynamic" -> {
      val sids = Segments
      def sn(s: String) = s.take(2).toLowerCase
      val wcols = (for (t <- sids; s <- sids) yield
        s"sum(CASE WHEN b.target = '$t' AND b.src = '$s' THEN " +
          s"(CASE b.r WHEN 0 THEN f.beta_0 WHEN 1 THEN f.beta_1 ELSE f.beta_2 END) " +
          s"ELSE 0 END) AS w_${sn(t)}_${sn(s)}").mkString(", ")
      val ccols = sids.map(t =>
        s"max(CASE WHEN b.target = '$t' AND b.r = 0 THEN f.beta_3 END) AS c_${sn(t)}")
        .mkString(", ")
      val seed = sids.map(s =>
        s"(SELECT y FROM series2, nn WHERE series_id = '$s' AND ds = ld) AS p_${sn(s)}")
        .mkString(", ")
      val step = sids.map(t =>
        s"w.c_${sn(t)} + " +
          sids.map(s => s"w.w_${sn(t)}_${sn(s)} * rec.p_${sn(s)}").mkString(" + "))
        .mkString(", ")
      val fin = sids.map(s =>
        s"SELECT '$s' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds, " +
          s"ROUND(p_${sn(s)}, 6) AS yhat FROM rec, nn WHERE i >= 1")
        .mkString("\n UNION ALL ")
      s"""${ZSEG.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |bounds AS (SELECT max(mn) AS lo, min(mx) AS hi FROM
         |  (SELECT series_id, min(ds) AS mn, max(ds) AS mx FROM series GROUP BY 1)),
         |series2 AS (SELECT s.* FROM series s, bounds WHERE s.ds BETWEEN lo AND hi),
         |${blockedVarCtes("series2")},
         |wm AS (SELECT $wcols, $ccols FROM blk b JOIN bv_fit f ON f.target = b.target),
         |nn AS (SELECT max(ds) AS ld FROM series2),
         |rec AS (
         |  SELECT 0 AS i, $seed FROM nn
         |  UNION ALL
         |  SELECT rec.i + 1, $step FROM rec, wm w WHERE rec.i < 6)
         |$fin""".stripMargin
    },

    // save_feature_importance: |standardized coefficient| = |beta_j| * sd_j
    // of the unstandardized OLS fit; rank by importance desc with the
    // feature-order tiebreak of a stable sort.
    "ts_feature_imp" -> {
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y,
         |  CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t,
         |  sin(pi() * month(ds) / 6.0) AS ms, cos(pi() * month(ds) / 6.0) AS mc,
         |  lag(y, 1) OVER (ORDER BY ds) AS ar1 FROM series),
         |nn AS (SELECT count(*) AS n FROM s2),
         |tr AS (SELECT s2.* FROM s2, nn WHERE t <= n - 12 AND ar1 IS NOT NULL),
         |sds AS (SELECT stddev_samp(t) AS sd_t, stddev_samp(ms) AS sd_ms,
         |        stddev_samp(mc) AS sd_mc, stddev_samp(ar1) AS sd_ar1 FROM tr),
         |${OracleGen.momentsCte("fi", Seq("t", "ms", "mc", "ar1"), "tr")},
         |${OracleGen.solveCtes("fi", 4)},
         |vals AS (SELECT f.feature, f.idx,
         |    CASE f.idx WHEN 1 THEN abs(beta_1) * sd_t WHEN 2 THEN abs(beta_2) * sd_ms
         |         WHEN 3 THEN abs(beta_3) * sd_mc ELSE abs(beta_4) * sd_ar1 END AS importance
         |  FROM (VALUES ('t', 1), ('monthsin', 2), ('monthcos', 3), ('ar_1', 4)) f(feature, idx),
         |       fi_fit, sds)
         |SELECT feature, ROUND(importance, 6) AS importance,
         |       row_number() OVER (ORDER BY importance DESC, idx) AS rank
         |FROM vals""".stripMargin
    },

    // Seasonal ARMA (1,1)x(1,0)_12, additive Hannan-Rissanen: long-AR(16)
    // stage 1 for innovations, stage 2 on y-lags {1,12} + elag {1}; the
    // 12-step horizon recursion carries only the previous prediction (lag-12
    // cells stay observed inside h=12, future innovations are 0).
    "ts_sarma" -> {
      val s1pred = "beta_0" + (1 to 16).map(i => s" + beta_$i*x$i").mkString
      s"""$ZSR,
         |lagd AS (SELECT series_id, ds, y,
         |  ${(1 to 16).map(i => s"lag(y, $i) OVER (ORDER BY ds) AS x$i").mkString(", ")}
         |  FROM series),
         |${OracleGen.momentsCte("s1", (1 to 16).map(i => s"x$i"), "lagd WHERE x16 IS NOT NULL")},
         |${OracleGen.solveCtes("s1", 16)},
         |er AS (SELECT lagd.*, CASE WHEN x16 IS NOT NULL THEN y - ($s1pred)
         |       END AS e FROM lagd, s1_fit),
         |e2 AS (SELECT series_id, ds, y, x1 AS ar1, x12 AS ar12,
         |       lag(e, 1) OVER (ORDER BY ds) AS elag,
         |       row_number() OVER (ORDER BY ds) AS t FROM er),
         |${OracleGen.momentsCte("s2f", Seq("ar1", "ar12", "elag"), "e2 WHERE elag IS NOT NULL")},
         |${OracleGen.solveCtes("s2f", 3)},
         |f2 AS (SELECT beta_0 AS c, beta_1 AS phi1, beta_2 AS phi12, beta_3 AS th1
         |       FROM s2f_fit),
         |obs AS (SELECT series_id, ds, ROUND(y, 6) AS y,
         |        ROUND(CASE WHEN ar1 IS NOT NULL AND ar12 IS NOT NULL AND elag IS NOT NULL
         |              THEN c + phi1*ar1 + phi12*ar12 + th1*elag END, 6) AS yhat,
         |        FALSE AS is_future FROM e2, f2),
         |nn AS (SELECT count(*) AS n, max(ds) AS ld FROM series),
         |tl AS (SELECT n - t AS back, y FROM e2, nn WHERE t > n - 12),
         |le AS (SELECT e FROM er ORDER BY ds DESC LIMIT 1),
         |st AS (SELECT y AS yh FROM e2, nn WHERE t = n),
         |fc AS (
         |  SELECT 0 AS i, yh FROM st
         |  UNION ALL
         |  SELECT fc.i + 1,
         |         c + phi1*fc.yh + phi12*tl.y
         |           + CASE WHEN fc.i = 0 THEN th1*le.e ELSE 0 END
         |  FROM fc JOIN tl ON tl.back = 11 - fc.i CROSS JOIN f2 CROSS JOIN le
         |  WHERE fc.i < 12),
         |fut AS (SELECT 'orders' AS series_id,
         |        CAST(ld + to_months(i::INT) AS DATE) AS ds, CAST(NULL AS DOUBLE) AS y,
         |        ROUND(fc.yh, 6) AS yhat, TRUE AS is_future
         |        FROM fc, nn WHERE fc.i >= 1)
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin
    },

    "doc_token_counts" ->
      """SELECT doc_id,
        |  CAST(length(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(length(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT)
        |    AS n_bpeish_tokens
        |FROM documents""".stripMargin,

    // full-probe IVF == brute force (ExactPropertySpec), so the all-pairs
    // definition is the oracle; query side bounded like emb_knn
    // PQ at a fixture-covering candidate pool re-ranks exactly, so brute
    // force is its oracle too (same argument as emb_knn_ivf below)
    "emb_knn_pq" ->
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |ed AS (SELECT vec_id, i, CAST(v AS DOUBLE) AS v FROM e),
        |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ed GROUP BY 1),
        |dots AS (SELECT a.vec_id AS qa, b.vec_id AS qb, sum(a.v * b.v) AS d
        |  FROM ed a JOIN ed b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 50 GROUP BY 1, 2),
        |sims AS (SELECT qa, qb, d / (na.n * nb.n) AS sim
        |  FROM dots JOIN nrm na ON na.vec_id = qa JOIN nrm nb ON nb.vec_id = qb),
        |ranked AS (SELECT qa AS query_id, qb AS neighbor_id, ROUND(sim, 6) AS sim,
        |    row_number() OVER (PARTITION BY qa ORDER BY ROUND(sim, 6) DESC, qb) AS rank
        |  FROM sims)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // full probe + full pool ⇒ exact: identical brute-force oracle as pq/ivf
    "emb_knn_ivfpq" ->
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |ed AS (SELECT vec_id, i, CAST(v AS DOUBLE) AS v FROM e),
        |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ed GROUP BY 1),
        |dots AS (SELECT a.vec_id AS qa, b.vec_id AS qb, sum(a.v * b.v) AS d
        |  FROM ed a JOIN ed b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 50 GROUP BY 1, 2),
        |sims AS (SELECT qa, qb, d / (na.n * nb.n) AS sim
        |  FROM dots JOIN nrm na ON na.vec_id = qa JOIN nrm nb ON nb.vec_id = qb),
        |ranked AS (SELECT qa AS query_id, qb AS neighbor_id, ROUND(sim, 6) AS sim,
        |    row_number() OVER (PARTITION BY qa ORDER BY ROUND(sim, 6) DESC, qb) AS rank
        |  FROM sims)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rank <= 3""".stripMargin,

    "emb_knn_ivf" ->
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |ed AS (SELECT vec_id, i, CAST(v AS DOUBLE) AS v FROM e),
        |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ed GROUP BY 1),
        |dots AS (SELECT a.vec_id AS qa, b.vec_id AS qb, sum(a.v * b.v) AS d
        |  FROM ed a JOIN ed b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 50 GROUP BY 1, 2),
        |sims AS (SELECT qa, qb, d / (na.n * nb.n) AS sim
        |  FROM dots JOIN nrm na ON na.vec_id = qa JOIN nrm nb ON nb.vec_id = qb),
        |ranked AS (SELECT qa AS query_id, qb AS neighbor_id, ROUND(sim, 6) AS sim,
        |    row_number() OVER (PARTITION BY qa ORDER BY ROUND(sim, 6) DESC, qb) AS rank
        |  FROM sims)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rank <= 3""".stripMargin,

    "emb_knn_lsh" ->
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |ed AS (SELECT vec_id, i, CAST(v AS DOUBLE) AS v FROM e),
        |proj AS (SELECT vec_id, b,
        |    sum(v * (((2654435761 * i * (2*b+1) + 40503*(b+1)) % 100003) / 100003.0 - 0.5)) AS p
        |  FROM ed CROSS JOIN generate_series(0, 3) g(b) GROUP BY 1, 2),
        |bk AS (SELECT vec_id, CAST(sum(CASE WHEN p > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY 1),
        |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ed GROUP BY 1),
        |cand AS (SELECT a.vec_id AS qa, b.vec_id AS qb
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |dots AS (SELECT c.qa, c.qb, sum(ea.v * eb.v) AS d
        |  FROM cand c JOIN ed ea ON ea.vec_id = c.qa
        |              JOIN ed eb ON eb.vec_id = c.qb AND eb.i = ea.i
        |  GROUP BY 1, 2),
        |sims AS (SELECT qa, qb, d / (na.n * nb.n) AS sim
        |  FROM dots JOIN nrm na ON na.vec_id = qa JOIN nrm nb ON nb.vec_id = qb),
        |ranked AS (SELECT qa AS query_id, qb AS neighbor_id, ROUND(sim, 6) AS sim,
        |    row_number() OVER (PARTITION BY qa ORDER BY ROUND(sim, 6) DESC, qb) AS rank
        |  FROM sims)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // brute-force definition of the trigram-embedding near-dup pairs (the
    // Spark side goes through banded-LSH blocking; precision is exact and
    // recall on this fixture is proven equal by ExactPropertySpec + this hash)
    "doc_neardup_cosine" ->
      """WITH tri AS (
        |  SELECT doc_id,
        |    (CAST(concat('0x', substr(md5(substr(text, i, 3)), 1, 4)) AS BIGINT) % 64) AS b
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-2)) AS i)
        |),
        |vec AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS c FROM tri GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, sqrt(sum(c*c)) AS n FROM vec GROUP BY 1),
        |dots AS (SELECT a.doc_id AS qa, b.doc_id AS qb, sum(a.c*b.c) AS d
        |  FROM vec a JOIN vec b ON a.b = b.b AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sims AS (SELECT qa, qb, d / (na.n * nb.n) AS sim
        |  FROM dots JOIN nrm na ON na.doc_id = qa JOIN nrm nb ON nb.doc_id = qb)
        |SELECT qa AS doc_a, qb AS doc_b, ROUND(sim, 6) AS sim
        |FROM sims WHERE sim >= 0.98""".stripMargin,

    // cross-corpus decontamination: the SAME trigram-vector construction as
    // doc_neardup_cosine, restricted to (train, benchmark) cross pairs
    "doc_cross_decontaminate" ->
      """WITH tri AS (
        |  SELECT doc_id,
        |    (CAST(concat('0x', substr(md5(substr(text, i, 3)), 1, 4)) AS BIGINT) % 64) AS b
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-2)) AS i)
        |),
        |vec AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS c FROM tri GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, sqrt(sum(c*c)) AS n FROM vec GROUP BY 1),
        |dots AS (SELECT a.doc_id AS cid, b.doc_id AS pid, sum(a.c*b.c) AS d
        |  FROM vec a JOIN vec b ON a.b = b.b
        |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0 GROUP BY 1, 2),
        |sims AS (SELECT cid, pid, d / (na.n * nb.n) AS sim
        |  FROM dots JOIN nrm na ON na.doc_id = cid JOIN nrm nb ON nb.doc_id = pid)
        |SELECT cid AS corpus_id, pid AS probe_id, ROUND(sim, 6) AS sim
        |FROM sims WHERE sim >= 0.98""".stripMargin,

    "emb_norms" ->
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    len(embedding) AS dim FROM embeddings)
        |SELECT vec_id, CAST(min(dim) AS BIGINT) AS dim,
        |  ROUND(sqrt(sum(v * v)), 6) AS norm
        |FROM e GROUP BY 1""".stripMargin,

    "emb_lsh_buckets" ->
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |proj AS (SELECT vec_id, b,
        |    sum(CAST(v AS DOUBLE) *
        |        (((2654435761 * i * (2*b+1) + 40503*(b+1)) % 100003) / 100003.0 - 0.5)) AS p
        |  FROM e CROSS JOIN generate_series(0, 7) g(b) GROUP BY 1, 2)
        |SELECT vec_id, CAST(sum(CASE WHEN p > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
        |FROM proj GROUP BY 1""".stripMargin,

    "ts_ar1_mlr" ->
      s"""$ZS,
         |lagd AS (SELECT series_id, ds, y, lag(y) OVER (ORDER BY ds) AS yl FROM series),
         |fit AS (SELECT regr_slope(y, yl) AS b, regr_intercept(y, yl) AS a
         |        FROM lagd WHERE yl IS NOT NULL),
         |nn AS (SELECT max(ds) AS ld, count(*) AS n FROM series),
         |yt AS (SELECT y AS yT FROM series ORDER BY ds DESC LIMIT 1),
         |obs AS (SELECT series_id, ds, ROUND(y, 6) AS y, ROUND(a + b * yl, 6) AS yhat,
         |        FALSE AS is_future FROM lagd, fit),
         |fut AS (SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |        CAST(NULL AS DOUBLE) AS y,
         |        ROUND(a * (1 - pow(b, i)) / (1 - b) + pow(b, i) * yT, 6) AS yhat,
         |        TRUE AS is_future
         |        FROM nn, fit, yt, generate_series(1, 12) g(i))
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin,

    // prophet_like: trend + order-2 Fourier OLS; the sin/cos angular
    // coefficients are spliced as the SAME Scala double literals the Spark
    // side uses, so both engines evaluate sin(c*t) on identical bits.
    // tbats_like: λ grid argmax (engine tie-break: earlier candidate = l ASC)
    // → Box-Cox series → trend+Fourier OLS via unrolled Cholesky → revert
    "ts_tbats_like" -> {
      val w1 = graft.models.ProphetLike.omega(1, 12.0)
      val w2 = graft.models.ProphetLike.omega(2, 12.0)
      val xs = Seq("t", s"sin($w1 * t)", s"cos($w1 * t)", s"sin($w2 * t)", s"cos($w2 * t)")
      val pred = s"beta_0 + beta_1*t + beta_2*sin($w1 * t) + beta_3*cos($w1 * t) " +
        s"+ beta_4*sin($w2 * t) + beta_5*cos($w2 * t)"
      val inv = s"CASE WHEN b.l = 0.0 THEN exp($pred) " +
        s"ELSE pow(($pred) * b.l + 1, 1.0 / b.l) END"
      s"""$S,
         |cands AS (SELECT i / 10.0 AS l FROM generate_series(-20, 20) g(i)),
         |bcp AS (SELECT c.l,
         |  CASE WHEN c.l = 0.0 THEN ln(s.y) ELSE (pow(s.y, c.l) - 1) / c.l END AS p
         |  FROM series s CROSS JOIN cands c),
         |slog AS (SELECT sum(ln(y)) AS sl, CAST(count(*) AS DOUBLE) AS n FROM series),
         |vv AS (SELECT l, sum(p*p)/count(*) - pow(sum(p)/count(*), 2) AS v
         |       FROM bcp GROUP BY l),
         |ll AS (SELECT l, CASE WHEN v <= 0 THEN -1e308
         |       ELSE -(n/2.0) * ln(v) + (l - 1.0) * sl END AS ll FROM vv, slog),
         |best AS (SELECT l FROM ll ORDER BY ll DESC, l ASC LIMIT 1),
         |s2 AS (SELECT s.series_id, s.ds, s.y,
         |  CASE WHEN b.l = 0.0 THEN ln(s.y) ELSE (pow(s.y, b.l) - 1) / b.l END AS yb,
         |  CAST(row_number() OVER (ORDER BY s.ds) AS DOUBLE) AS t
         |  FROM series s, best b),
         |nn AS (SELECT count(*) AS n, max(ds) AS ld FROM s2),
         |${OracleGen.momentsCte("tb", xs, "s2", yExpr = "yb")},
         |${OracleGen.solveCtes("tb", 5)},
         |obs AS (SELECT series_id, ds, y, ROUND($inv, 0) AS yhat,
         |        FALSE AS is_future FROM s2, tb_fit, best b),
         |fut AS (SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |        CAST(NULL AS DOUBLE) AS y, ROUND($inv, 0) AS yhat, TRUE AS is_future
         |        FROM nn, tb_fit, best b, LATERAL (SELECT i, CAST(n + i AS DOUBLE) AS t
         |                                          FROM generate_series(1, 12) g(i)))
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin
    },

    // tbats_like ∘ ARMA(1,1): the ts_tbats_like oracle extended with the
    // two-stage Hannan–Rissanen replay (ts_arma's shape) on the curve's
    // Box-Cox-scale residuals; per-fit beta aliases (tb*/a*) keep the three
    // solve chains from colliding
    "ts_tbats_arma" -> {
      val w1 = graft.models.ProphetLike.omega(1, 12.0)
      val w2 = graft.models.ProphetLike.omega(2, 12.0)
      val xs = Seq("t", s"sin($w1 * t)", s"cos($w1 * t)", s"sin($w2 * t)", s"cos($w2 * t)")
      val tbp = s"tb0 + tb1*t + tb2*sin($w1 * t) + tb3*cos($w1 * t) " +
        s"+ tb4*sin($w2 * t) + tb5*cos($w2 * t)"
      def inv(x: String) = s"CASE WHEN b.l = 0.0 THEN exp($x) " +
        s"ELSE pow(($x) * b.l + 1, 1.0 / b.l) END"
      val corrObs = "COALESCE(CASE WHEN e2.ar1 IS NOT NULL AND e2.elag IS NOT NULL " +
        "THEN a0 + a1*e2.ar1 + a2*e2.elag END, 0.0)"
      val corrFut = "CASE WHEN i = 1 THEN r1 " +
        "ELSE a0 * (1 - pow(a1, i - 1)) / (1 - a1) + pow(a1, i - 1) * r1 END"
      s"""$S,
         |cands AS (SELECT i / 10.0 AS l FROM generate_series(-20, 20) g(i)),
         |bcp AS (SELECT c.l,
         |  CASE WHEN c.l = 0.0 THEN ln(s.y) ELSE (pow(s.y, c.l) - 1) / c.l END AS p
         |  FROM series s CROSS JOIN cands c),
         |slog AS (SELECT sum(ln(y)) AS sl, CAST(count(*) AS DOUBLE) AS n FROM series),
         |vv AS (SELECT l, sum(p*p)/count(*) - pow(sum(p)/count(*), 2) AS v
         |       FROM bcp GROUP BY l),
         |ll AS (SELECT l, CASE WHEN v <= 0 THEN -1e308
         |       ELSE -(n/2.0) * ln(v) + (l - 1.0) * sl END AS ll FROM vv, slog),
         |best AS (SELECT l FROM ll ORDER BY ll DESC, l ASC LIMIT 1),
         |s2 AS (SELECT s.series_id, s.ds, s.y,
         |  CASE WHEN b.l = 0.0 THEN ln(s.y) ELSE (pow(s.y, b.l) - 1) / b.l END AS yb,
         |  CAST(row_number() OVER (ORDER BY s.ds) AS DOUBLE) AS t
         |  FROM series s, best b),
         |nn AS (SELECT count(*) AS n, max(ds) AS ld FROM s2),
         |${OracleGen.momentsCte("tb", xs, "s2", yExpr = "yb")},
         |${OracleGen.solveCtes("tb", 5)},
         |tbf AS (SELECT beta_0 AS tb0, beta_1 AS tb1, beta_2 AS tb2,
         |        beta_3 AS tb3, beta_4 AS tb4, beta_5 AS tb5 FROM tb_fit),
         |cur AS (SELECT s2.series_id, s2.ds, s2.y, s2.yb, s2.t, $tbp AS fb
         |        FROM s2, tbf),
         |lagd AS (SELECT series_id, ds, yb - fb AS y,
         |  ${(1 to 6).map(i => s"lag(yb - fb, $i) OVER (ORDER BY ds) AS x$i").mkString(", ")}
         |  FROM cur),
         |${OracleGen.momentsCte("ta1", (1 to 6).map(i => s"x$i"), "lagd WHERE x6 IS NOT NULL")},
         |${OracleGen.solveCtes("ta1", 6)},
         |er AS (SELECT lagd.*, CASE WHEN x6 IS NOT NULL THEN y -
         |  (beta_0 + beta_1*x1 + beta_2*x2 + beta_3*x3 + beta_4*x4 + beta_5*x5 + beta_6*x6)
         |  END AS e FROM lagd, ta1_fit),
         |e2 AS (SELECT series_id, ds, y, x1 AS ar1,
         |       lag(e, 1) OVER (ORDER BY ds) AS elag FROM er),
         |${OracleGen.momentsCte("ta2", Seq("ar1", "elag"), "e2 WHERE elag IS NOT NULL")},
         |${OracleGen.solveCtes("ta2", 2)},
         |af AS (SELECT beta_0 AS a0, beta_1 AS a1, beta_2 AS a2 FROM ta2_fit),
         |obs AS (SELECT c.series_id, c.ds, c.y,
         |        ROUND(${inv(s"c.fb + $corrObs")}, 0) AS yhat,
         |        FALSE AS is_future FROM cur c JOIN e2 ON e2.ds = c.ds, af, best b),
         |lastrow AS (SELECT y AS rT, e AS eT FROM er ORDER BY ds DESC LIMIT 1),
         |h1 AS (SELECT a0 + a1*rT + a2*eT AS r1 FROM af, lastrow),
         |fut AS (SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |        CAST(NULL AS DOUBLE) AS y,
         |        ROUND(${inv(s"($tbp) + ($corrFut)")}, 0) AS yhat, TRUE AS is_future
         |        FROM nn, tbf, af, h1, best b,
         |             LATERAL (SELECT i, CAST(n + i AS DOUBLE) AS t
         |                      FROM generate_series(1, 12) g(i)))
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin
    },

    // the SQL-surface twin: snaive = lag(12), OLS = k=1 Cholesky chain,
    // metrics = plain aggregates — one row per model
    "ts_sql_surface" -> {
      def met(f: String, filter: String) =
        s"""SELECT ROUND(sqrt(avg(pow($f - y, 2))), 6) AS rmse,
           |  ROUND(avg(abs($f - y)), 6) AS mae,
           |  ROUND(avg(2 * abs($f - y) / (abs(y) + abs($f))), 6) AS smape,
           |  ROUND(1 - sum(pow($f - y, 2)) /
           |    (sum(pow(y, 2)) - pow(sum(y), 2) / count(y)), 6) AS r2
           |FROM sc $filter""".stripMargin
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y,
         |       CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
         |${OracleGen.momentsCte("sf", Seq("t"), "s2")},
         |${OracleGen.solveCtes("sf", 1)},
         |sc AS (SELECT s2.*, lag(y, 12) OVER (ORDER BY ds) AS f_sn,
         |       beta_0 + beta_1*t AS f_ols FROM s2, sf_fit)
         |SELECT 'snaive' AS model, m.* FROM (${met("f_sn", "WHERE f_sn IS NOT NULL")}) m
         |UNION ALL
         |SELECT 'ols_trend' AS model, m.* FROM (${met("f_ols", "")}) m""".stripMargin
    },

    "ts_prophet_like" -> {
      val w1 = graft.models.ProphetLike.omega(1, 12.0)
      val w2 = graft.models.ProphetLike.omega(2, 12.0)
      val xs = Seq("t", s"sin($w1 * t)", s"cos($w1 * t)", s"sin($w2 * t)", s"cos($w2 * t)")
      val pred = s"beta_0 + beta_1*t + beta_2*sin($w1 * t) + beta_3*cos($w1 * t) " +
        s"+ beta_4*sin($w2 * t) + beta_5*cos($w2 * t)"
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y,
         |       CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
         |nn AS (SELECT count(*) AS n, max(ds) AS ld FROM s2),
         |${OracleGen.momentsCte("pl", xs, "s2")},
         |${OracleGen.solveCtes("pl", 5)},
         |obs AS (SELECT series_id, ds, ROUND(y, 6) AS y, ROUND($pred, 6) AS yhat,
         |        FALSE AS is_future FROM s2, pl_fit),
         |fut AS (SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |        CAST(NULL AS DOUBLE) AS y, ROUND($pred, 6) AS yhat, TRUE AS is_future
         |        FROM nn, pl_fit, LATERAL (SELECT i, CAST(n + i AS DOUBLE) AS t
         |                                  FROM generate_series(1, 12) g(i)))
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin
    },

    // prophet_like changepoint trend: replay the planted slope break, the
    // integer-quantile knots c_j = (8nj)//(10(nCp+1)), the hinge basis, and
    // the 9-feature Cholesky OLS
    "ts_prophet_cp" -> {
      val w1 = graft.models.ProphetLike.omega(1, 12.0)
      val w2 = graft.models.ProphetLike.omega(2, 12.0)
      val hinges = (1 to 4).map(j => s"greatest(0.0, t - c$j)")
      val xs = Seq("t") ++ hinges ++
        Seq(s"sin($w1 * t)", s"cos($w1 * t)", s"sin($w2 * t)", s"cos($w2 * t)")
      val pred = "beta_0 + beta_1*t + " +
        (1 to 4).map(j => s"beta_${j + 1}*greatest(0.0, t - c$j)").mkString(" + ") +
        s" + beta_6*sin($w1 * t) + beta_7*cos($w1 * t)" +
        s" + beta_8*sin($w2 * t) + beta_9*cos($w2 * t)"
      s"""$ZS,
         |s1 AS (SELECT series_id, ds, y,
         |       CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
         |s2 AS (SELECT series_id, ds,
         |       y + 0.08 * greatest(0.0, t - 36.0) AS y, t FROM s1),
         |nn AS (SELECT count(*) AS n, max(ds) AS ld FROM s2),
         |cp AS (SELECT ${(1 to 4).map(j =>
                  s"CAST((8*n*$j)//(10*5) AS DOUBLE) AS c$j").mkString(", ")} FROM nn),
         |s3 AS (SELECT s2.*, ${(1 to 4).map(j => s"c$j").mkString(", ")} FROM s2, cp),
         |${OracleGen.momentsCte("pc", xs, "s3")},
         |${OracleGen.solveCtes("pc", 9)},
         |obs AS (SELECT series_id, ds, ROUND(y, 6) AS y, ROUND($pred, 6) AS yhat,
         |        FALSE AS is_future FROM s3, pc_fit),
         |fut AS (SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |        CAST(NULL AS DOUBLE) AS y, ROUND($pred, 6) AS yhat, TRUE AS is_future
         |        FROM nn, cp, pc_fit, LATERAL (SELECT i, CAST(n + i AS DOUBLE) AS t
         |                                      FROM generate_series(1, 12) g(i)))
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin
    },

    "ts_ses" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS t FROM series),
         |nn AS (SELECT count(*) AS n, max(ds) AS ld FROM s2),
         |obs AS (SELECT a.series_id, a.ds, ROUND(a.y, 6) AS y,
         |        ROUND((SELECT sum(CASE WHEN b.t = 1 THEN pow(0.7, a.t - 2) * b.y
         |                       ELSE 0.3 * pow(0.7, a.t - 1 - b.t) * b.y END)
         |               FROM s2 b WHERE b.t < a.t), 6) AS yhat, FALSE AS is_future
         |        FROM s2 a),
         |lvl AS (SELECT (SELECT sum(CASE WHEN b.t = 1 THEN pow(0.7, n - 1) * b.y
         |                      ELSE 0.3 * pow(0.7, n - b.t) * b.y END)
         |                FROM s2 b, nn) AS lT),
         |fut AS (SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |        CAST(NULL AS DOUBLE) AS y, ROUND(lT, 6) AS yhat, TRUE AS is_future
         |        FROM nn, lvl, generate_series(1, 6) g(i))
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin,

    "ts_impute" ->
      """WITH daily AS (SELECT 'lineitem' AS series_id, CAST(l_shipdate AS DATE) AS ds,
        |    ROUND(SUM(l_quantity), 2) AS y FROM lineitem GROUP BY 1, 2),
        |gapped AS (SELECT * FROM daily WHERE day(ds) % 7 <> 3),
        |bounds AS (SELECT min(ds) AS d0, max(ds) AS d1 FROM gapped),
        |spine AS (SELECT 'lineitem' AS series_id,
        |    CAST(unnest(generate_series(d0::TIMESTAMP, d1::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS ds
        |  FROM bounds),
        |j AS (SELECT s.series_id, s.ds, g.y FROM spine s LEFT JOIN gapped g ON g.ds = s.ds),
        |wv AS (SELECT series_id, ds, y,
        |  datediff('day', DATE '1970-01-01', ds) AS dn,
        |  last_value(y IGNORE NULLS) OVER wp AS pv,
        |  first_value(y IGNORE NULLS) OVER wf AS nv,
        |  last_value(CASE WHEN y IS NOT NULL THEN datediff('day', DATE '1970-01-01', ds) END IGNORE NULLS) OVER wp AS pd,
        |  first_value(CASE WHEN y IS NOT NULL THEN datediff('day', DATE '1970-01-01', ds) END IGNORE NULLS) OVER wf AS nd,
        |  last_value(y IGNORE NULLS) OVER wc AS ff,
        |  avg(y) OVER (ORDER BY ds ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS ma
        | FROM j
        | WINDOW wp AS (ORDER BY ds ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |        wf AS (ORDER BY ds ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |        wc AS (ORDER BY ds ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT series_id, ds, y IS NULL AS is_missing,
        |  ROUND(coalesce(y, pv + (nv - pv) * (dn - pd) / (nd - pd)), 4) AS y_interp,
        |  ROUND(coalesce(y, ff), 2) AS y_ffill,
        |  ROUND(coalesce(y, ma), 4) AS y_ma7
        |FROM wv""".stripMargin,

    "ts_cv_rolling" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y,
         |    CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
         |nn AS (SELECT count(*) AS n FROM s2),
         |folds AS (SELECT i AS f FROM generate_series(0, 2) g(i)),
         |fr AS (SELECT s2.*, f, n FROM s2, folds, nn WHERE t <= n - f * 8),
         |tr AS (SELECT * FROM fr WHERE t <= n - f * 8 - 8),
         |fit AS (SELECT f, regr_slope(y, t) AS b, regr_intercept(y, t) AS a FROM tr GROUP BY 1),
         |eff AS (SELECT tr.f, month(ds) AS m, avg(y - (a + b * t)) AS e
         |        FROM tr JOIN fit ON fit.f = tr.f GROUP BY 1, 2),
         |te AS (SELECT fr.series_id, fr.f, fr.y, a + b * fr.t + coalesce(e, 0.0) AS yhat
         |       FROM fr JOIN fit ON fit.f = fr.f
         |                 LEFT JOIN eff ON eff.f = fr.f AND eff.m = month(fr.ds)
         |       WHERE fr.t > fr.n - fr.f * 8 - 8)
         |SELECT CAST(f AS BIGINT) AS fold, series_id,
         |  ROUND(sqrt(avg(pow(yhat - y, 2))), 6) AS rmse,
         |  ROUND(avg(abs(yhat - y)), 6) AS mae
         |FROM te GROUP BY 1, 2""".stripMargin,

    "ts_backtest" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS t FROM series),
         |nn AS (SELECT count(*) AS n FROM s2),
         |iters AS (SELECT i AS it FROM generate_series(0, 2) g(i)),
         |fr AS (SELECT s2.*, it, n FROM s2, iters, nn WHERE t <= n - it * 6),
         |te AS (SELECT fr.series_id, fr.it, fr.y, b.y AS yhat
         |       FROM fr JOIN s2 b ON b.t = fr.t - 12
         |       WHERE fr.t > fr.n - fr.it * 6 - 12)
         |SELECT CAST(it AS BIGINT) AS iter, series_id,
         |  ROUND(sqrt(avg(pow(yhat - y, 2))), 6) AS rmse,
         |  ROUND(avg(abs(yhat - y)), 6) AS mae
         |FROM te GROUP BY 1, 2""".stripMargin,

    // backtest_metrics: the ts_backtest math pivoted to (series, metric) ×
    // iter columns; average = (i0+i1+i2)/3 in the same explicit order as the
    // Spark reduce so both engines add identically before rounding.
    "ts_backtest_metrics" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS t FROM series),
         |nn AS (SELECT count(*) AS n FROM s2),
         |iters AS (SELECT i AS it FROM generate_series(0, 2) g(i)),
         |fr AS (SELECT s2.*, it, n FROM s2, iters, nn WHERE t <= n - it * 6),
         |te AS (SELECT fr.series_id, fr.it, fr.y, b.y AS yhat
         |       FROM fr JOIN s2 b ON b.t = fr.t - 12
         |       WHERE fr.t > fr.n - fr.it * 6 - 12),
         |per AS (SELECT it, series_id,
         |        sqrt(avg(pow(yhat - y, 2))) AS rmse, avg(abs(yhat - y)) AS mae
         |        FROM te GROUP BY 1, 2),
         |lng AS (SELECT series_id, 'rmse' AS metric, it, rmse AS v FROM per
         |        UNION ALL SELECT series_id, 'mae', it, mae FROM per),
         |pv AS (SELECT series_id, metric,
         |       max(CASE WHEN it = 0 THEN v END) AS i0,
         |       max(CASE WHEN it = 1 THEN v END) AS i1,
         |       max(CASE WHEN it = 2 THEN v END) AS i2
         |       FROM lng GROUP BY 1, 2)
         |SELECT series_id, metric, ROUND(i0, 6) AS iter_0, ROUND(i1, 6) AS iter_1,
         |  ROUND(i2, 6) AS iter_2, ROUND((i0 + i1 + i2) / 3, 6) AS average
         |FROM pv""".stripMargin,

    "ts_mase_msis" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS t,
         |       lag(y, 12) OVER (ORDER BY ds) AS yhat FROM series),
         |nn AS (SELECT count(*) AS n FROM s2),
         |tr AS (SELECT s2.* FROM s2, nn WHERE t <= n - 24),
         |den AS (SELECT avg(abs(y - yhat)) AS denom FROM tr WHERE yhat IS NOT NULL),
         |wid AS (SELECT quantile_cont(abs(y - yhat), 0.95) AS width FROM tr WHERE yhat IS NOT NULL),
         |te AS (SELECT s2.*, width, yhat + width AS uf, yhat - width AS lf
         |       FROM s2, nn, wid WHERE t > n - 24),
         |agg AS (SELECT series_id,
         |  avg(abs(yhat - y)) AS mae_num,
         |  avg((uf - lf)
         |      + CASE WHEN y < lf THEN (lf - y) * (2 / 0.05) ELSE 0 END
         |      + CASE WHEN y > uf THEN (y - uf) * (2 / 0.05) ELSE 0 END) AS msis_num
         |  FROM te GROUP BY 1)
         |SELECT series_id, ROUND(mae_num / denom, 6) AS mase,
         |  ROUND(msis_num / denom, 6) AS msis FROM agg, den""".stripMargin,

    // train_only scaler: μ/σ from the bounded slice, applied everywhere.
    "ts_train_only" ->
      s"""$S,
         |zp AS (SELECT avg(y) AS mu, stddev_samp(y) AS sd FROM series
         |       WHERE ds <= DATE '1999-12-01')
         |SELECT series_id, ds, ROUND((y - mu) / sd, 6) AS y_scaled
         |FROM series, zp""".stripMargin,

    // ingest_Xvars_df: dummies from the sorted category levels + 0-padding
    // for the 6 trailing dates the regressor frame does not cover.
    "ts_ingest_xvars" ->
      s"""$S,
         |xv AS (SELECT ds, CAST(month(ds) AS DOUBLE) AS mnum,
         |       CASE WHEN month(ds) % 2 = 0 THEN 'even' ELSE 'odd' END AS season,
         |       row_number() OVER (ORDER BY ds DESC) AS rb FROM series),
         |xt AS (SELECT * FROM xv WHERE rb > 6)
         |SELECT s.series_id, s.ds, s.y,
         |  coalesce(xt.mnum, 0.0) AS mnum,
         |  coalesce(CASE WHEN xt.season = 'even' THEN 1.0 ELSE 0.0 END, 0.0) AS season_even,
         |  coalesce(CASE WHEN xt.season = 'odd' THEN 1.0 ELSE 0.0 END, 0.0) AS season_odd
         |FROM series s LEFT JOIN xt ON xt.ds = s.ds""".stripMargin,

    // export_fitted_vals: snaive fitted values over the train slice.
    "ts_export_fitted" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS t,
         |       lag(y, 12) OVER (ORDER BY ds) AS fv FROM series),
         |nn AS (SELECT count(*) AS n FROM s2)
         |SELECT series_id, ds, ROUND(y, 6) AS actuals, ROUND(fv, 6) AS fitted_vals,
         |  ROUND(y - fv, 6) AS residuals
         |FROM s2, nn WHERE t <= n - 12 AND fv IS NOT NULL""".stripMargin,

    // combo: simple average + metric-weighted (worst→best reversal collapses
    // to f1·(r2/t) + f2·(r1/t) — the worse model always takes the other's
    // rmse share).
    "ts_combo" ->
      s"""$ZS,
         |l AS (SELECT series_id, ds, y, lag(y, 1) OVER (ORDER BY ds) AS f1,
         |      lag(y, 12) OVER (ORDER BY ds) AS f2 FROM series),
         |f AS (SELECT * FROM l WHERE f1 IS NOT NULL AND f2 IS NOT NULL),
         |w AS (SELECT sqrt(avg(pow(y - f1, 2))) AS r1,
         |      sqrt(avg(pow(y - f2, 2))) AS r2 FROM f)
         |SELECT series_id, ds, ROUND(y, 6) AS y,
         |  ROUND((f1 + f2) / 2, 6) AS combo_avg,
         |  ROUND(f1 * (r2 / (r1 + r2)) + f2 * (r1 / (r1 + r2)), 6) AS combo_w
         |FROM f, w""".stripMargin,

    // corr_lags: Pearson corr of A with the row-lagged B series, lags 0..3.
    "mv_corr_lags" ->
      s"""$SEG,
         |a AS (SELECT ds, y AS ya FROM series WHERE series_id = 'AUTOMOBILE'),
         |bb AS (SELECT ds, y, row_number() OVER (ORDER BY ds) AS rn
         |       FROM series WHERE series_id = 'BUILDING'),
         |bl AS (SELECT cur.ds, g.k AS lag, prev.y AS yb
         |       FROM generate_series(0, 3) g(k)
         |       JOIN bb cur ON TRUE
         |       JOIN bb prev ON prev.rn = cur.rn - g.k),
         |j AS (SELECT a.ya, bl.yb, bl.lag FROM a JOIN bl ON bl.ds = a.ds)
         |SELECT 'AUTOMOBILE' AS sid_a, 'BUILDING' AS sid_b,
         |  CAST(lag AS BIGINT) AS lag, ROUND(corr(ya, yb), 6) AS corr
         |FROM j GROUP BY 3""".stripMargin,

    // ADF(p=1): OLS of Δy on [1, y_(t−1), Δy_(t−1)] via Cholesky; the γ
    // standard error needs (X'X)⁻¹[1][1] — computed from the 3×3 cofactor.
    "ts_adf" ->
      s"""$ZS,
         |r0 AS (SELECT series_id, ds, y,
         |       y - lag(y) OVER (ORDER BY ds) AS dy,
         |       lag(y) OVER (ORDER BY ds) AS ylag FROM series),
         |r1 AS (SELECT *, lag(dy) OVER (ORDER BY ds) AS dy1 FROM r0),
         |rws AS (SELECT * FROM r1
         |        WHERE dy IS NOT NULL AND ylag IS NOT NULL AND dy1 IS NOT NULL),
         |${OracleGen.momentsCte("ad", Seq("ylag", "dy1"), "rws", yExpr = "dy")},
         |${OracleGen.solveCtes("ad", 2)},
         |ex AS (SELECT sum(dy * dy) AS syy, CAST(count(*) AS DOUBLE) AS n,
         |       max(series_id) AS series_id FROM rws),
         |fin AS MATERIALIZED (SELECT series_id,
         |  sa_0_0 * (sa_1_1 * sa_2_2 - sa_2_1 * sa_2_1)
         |  - sa_1_0 * (sa_1_0 * sa_2_2 - sa_2_1 * sa_2_0)
         |  + sa_2_0 * (sa_1_0 * sa_2_1 - sa_1_1 * sa_2_0) AS det,
         |  (sa_0_0 * sa_2_2 - sa_2_0 * sa_2_0) AS c11,
         |  syy - (beta_0 * sb_0 + beta_1 * sb_1 + beta_2 * sb_2) AS rss,
         |  n, beta_1
         |  FROM ad_fit, ex)
         |SELECT series_id,
         |  ROUND(beta_1 / sqrt(rss / (n - 3) * (c11 / det)), 6) AS adf_t
         |FROM fin""".stripMargin,

    // D'Agostino-Pearson K²: population g1/g2 from raw central-moment
    // averages (matches Spark's skewness/kurtosis, NOT DuckDB's
    // sample-corrected builtins), z-score algebra chained through CTEs.
    "ts_normality" ->
      s"""$ZS,
         |mu AS (SELECT avg(y) AS mu, CAST(count(*) AS DOUBLE) AS n FROM series),
         |mom AS (SELECT s.series_id, m.n,
         |        avg(pow(y - mu, 2)) AS m2, avg(pow(y - mu, 3)) AS m3,
         |        avg(pow(y - mu, 4)) AS m4
         |        FROM series s, mu m GROUP BY 1, 2),
         |g AS (SELECT series_id, n, m3 / pow(m2, 1.5) AS g1,
         |      m4 / (m2 * m2) - 3 AS g2 FROM mom),
         |s1 AS (SELECT *, g1 * sqrt((n+1)*(n+3) / (6*(n-2))) AS yy,
         |       3.0*(n*n + 27*n - 70)*(n+1)*(n+3)
         |         / ((n-2)*(n+5)*(n+7)*(n+9)) AS beta2 FROM g),
         |s2 AS (SELECT *, -1 + sqrt(2*(beta2 - 1)) AS w2 FROM s1),
         |s3 AS (SELECT *, 1 / sqrt(0.5 * ln(w2)) AS delta,
         |       sqrt(2 / (w2 - 1)) AS alpha FROM s2),
         |s4 AS (SELECT *, yy / alpha AS ya FROM s3),
         |s5 AS (SELECT *, delta * ln(ya + sqrt(ya*ya + 1)) AS zs FROM s4),
         |k1 AS (SELECT *, g2 + 3 AS b2, 3.0*(n-1)/(n+1) AS eb2,
         |       24.0*n*(n-2)*(n-3) / ((n+1)*(n+1)*(n+3)*(n+5)) AS varb2 FROM s5),
         |k2_ AS (SELECT *, (b2 - eb2)/sqrt(varb2) AS x,
         |        6.0*(n*n - 5*n + 2)/((n+7)*(n+9))
         |          * sqrt(6.0*(n+3)*(n+5)/(n*(n-2)*(n-3))) AS sqrtb1 FROM k1),
         |k3 AS (SELECT *, 6.0 + 8.0/sqrtb1
         |          * (2.0/sqrtb1 + sqrt(1 + 4.0/(sqrtb1*sqrtb1))) AS a FROM k2_),
         |k4 AS (SELECT *, (1 - 2.0/a) / (1 + x*sqrt(2.0/(a - 4))) AS t FROM k3),
         |k5 AS (SELECT *, ((1 - 2.0/(9*a)) - cbrt(t)) / sqrt(2.0/(9*a)) AS zk FROM k4)
         |SELECT series_id, ROUND(zs*zs + zk*zk, 6) AS k2,
         |  ROUND(exp(-(zs*zs + zk*zk)/2), 6) AS pvalue FROM k5""".stripMargin,

    // PACF lags 1..3: Durbin-Levinson unrolled in closed form over the
    // unrounded ACF values (φ11 = r1; φ22, φ33 the textbook recursions).
    "ts_pacf" ->
      s"""$S, s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS rn FROM series),
         |mu AS (SELECT avg(y) AS mu, count(*) AS n FROM s2),
         |c AS (SELECT series_id, rn, y - mu AS c FROM s2, mu),
         |d AS (SELECT sum(c * c) AS d FROM c),
         |ac AS (SELECT g.k AS lag, sum(a.c * b.c) / (SELECT d FROM d) AS r
         |  FROM generate_series(1, 3) g(k)
         |  JOIN c a ON a.rn > g.k
         |  JOIN c b ON b.rn = a.rn - g.k AND b.series_id = a.series_id
         |  GROUP BY 1),
         |rr AS (SELECT
         |  max(CASE WHEN lag = 1 THEN r END) AS r1,
         |  max(CASE WHEN lag = 2 THEN r END) AS r2,
         |  max(CASE WHEN lag = 3 THEN r END) AS r3 FROM ac),
         |p2 AS (SELECT *, (r2 - r1*r1) / (1 - r1*r1) AS phi22 FROM rr),
         |p3 AS (SELECT *, r1 * (1 - phi22) AS phi21 FROM p2),
         |p4 AS (SELECT *, (r3 - phi21*r2 - phi22*r1)
         |                 / (1 - phi21*r1 - phi22*r2) AS phi33 FROM p3)
         |SELECT 'orders' AS series_id, CAST(1 AS BIGINT) AS lag, ROUND(r1, 6) AS pacf FROM p4
         |UNION ALL SELECT 'orders', 2, ROUND(phi22, 6) FROM p4
         |UNION ALL SELECT 'orders', 3, ROUND(phi33, 6) FROM p4""".stripMargin,

    "ts_acf" ->
      s"""$S, s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS rn FROM series),
         |mu AS (SELECT avg(y) AS mu, count(*) AS n FROM s2),
         |c AS (SELECT series_id, rn, y - mu AS c FROM s2, mu),
         |d AS (SELECT sum(c * c) AS d FROM c)
         |SELECT a.series_id, g.k AS lag,
         |  ROUND(sum(a.c * b.c) / (SELECT d FROM d), 6) AS acf
         |FROM generate_series(1, 12) g(k)
         |JOIN c a ON a.rn > g.k
         |JOIN c b ON b.rn = a.rn - g.k AND b.series_id = a.series_id
         |GROUP BY 1, 2""".stripMargin,

    "ts_model_summaries" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, month(ds) AS mon,
         |    CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
         |nn AS (SELECT count(*) AS n FROM s2),
         |fit AS (SELECT regr_slope(y, t) AS b, regr_intercept(y, t) AS a
         |        FROM s2, nn WHERE t <= n - 12),
         |eff AS (SELECT mon, avg(y - (a + b * t)) AS e
         |        FROM s2, nn, fit WHERE t <= n - 12 GROUP BY 1),
         |scored AS (
         |  SELECT 'naive' AS model, s2.series_id, s2.y, t > n - 12 AS is_test,
         |         lag(y, 1) OVER (ORDER BY ds) AS yhat FROM s2, nn
         |  UNION ALL
         |  SELECT 'snaive', s2.series_id, s2.y, t > n - 12,
         |         lag(y, 12) OVER (ORDER BY ds) FROM s2, nn
         |  UNION ALL
         |  SELECT 'trend_seasonal', s2.series_id, s2.y, t > n - 12,
         |         a + b * t + coalesce(e, 0.0)
         |  FROM s2 CROSS JOIN nn CROSS JOIN fit LEFT JOIN eff ON eff.mon = s2.mon),
         |valid AS (SELECT * FROM scored WHERE yhat IS NOT NULL),
         |ins AS (SELECT model, series_id,
         |    ROUND(sqrt(avg(pow(yhat - y, 2))), 6) AS insample_rmse,
         |    ROUND(avg(abs(yhat - y)), 6) AS insample_mae,
         |    ROUND(avg(2 * abs(yhat - y) / (abs(y) + abs(yhat))), 6) AS insample_smape,
         |    ROUND(1 - sum(pow(yhat - y, 2)) / (sum(pow(y, 2)) - pow(sum(y), 2) / count(*)), 6) AS insample_r2,
         |    count(*) AS insample_n
         |  FROM valid WHERE NOT is_test GROUP BY 1, 2),
         |tes AS (SELECT model, series_id,
         |    ROUND(sqrt(avg(pow(yhat - y, 2))), 6) AS test_rmse,
         |    ROUND(avg(abs(yhat - y)), 6) AS test_mae,
         |    ROUND(avg(2 * abs(yhat - y) / (abs(y) + abs(yhat))), 6) AS test_smape,
         |    ROUND(1 - sum(pow(yhat - y, 2)) / (sum(pow(y, 2)) - pow(sum(y), 2) / count(*)), 6) AS test_r2,
         |    count(*) AS test_n
         |  FROM valid WHERE is_test GROUP BY 1, 2)
         |SELECT ins.model, ins.series_id, insample_rmse, insample_mae, insample_smape,
         |  insample_r2, insample_n, test_rmse, test_mae, test_smape, test_r2, test_n
         |FROM ins JOIN tes ON tes.model = ins.model AND tes.series_id = ins.series_id""".stripMargin,

    "doc_pipeline" ->
      s"""$SHINGLES
         |dsc AS (SELECT * FROM ds
         |  QUALIFY count(*) OVER (PARTITION BY shingle) <= $JaccardDfCap),
         |sz AS (SELECT doc_id, count(*) AS sz FROM dsc GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM dsc a JOIN dsc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |dups AS (SELECT DISTINCT doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE n_common / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.8),
         |q AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         |scoredq AS (SELECT doc_id, text,
         |    0.4 * (len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE))
         |    + 0.4 * (1.0 - len(list_filter(tk, x -> x IN ('the','a'))) / CAST(len(tk) AS DOUBLE))
         |    + 0.2 * least(len(tk) / 100.0, 1.0) AS quality FROM q)
         |SELECT s.doc_id, ROUND(s.quality, 6) AS quality,
         |  CAST(concat('0x', substr(md5(s.text), 1, 15)) AS BIGINT) AS fingerprint
         |FROM scoredq s LEFT JOIN dups ON dups.doc_b = s.doc_id
         |WHERE dups.doc_b IS NULL AND s.quality >= 0.7""".stripMargin,

    "events_forecast" ->
      """WITH counts AS (
        |  SELECT epoch_ms(ts) // 3600000 AS hr, count(*) AS n FROM events GROUP BY 1),
        |bounds AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM counts),
        |spine AS (SELECT unnest(generate_series(h0, h1)) AS hr FROM bounds),
        |dense AS (SELECT s.hr, coalesce(c.n, 0) AS n FROM spine s LEFT JOIN counts c ON c.hr = s.hr),
        |fitted AS (SELECT hr, n, lag(n, 24) OVER (ORDER BY hr) AS yhat, FALSE AS is_future
        |           FROM dense),
        |fut AS (SELECT d.hr + 24 AS hr, CAST(NULL AS BIGINT) AS n, d.n AS yhat, TRUE AS is_future
        |        FROM dense d, bounds WHERE d.hr > h1 - 24)
        |SELECT CAST(n AS BIGINT) AS n, CAST(yhat AS BIGINT) AS yhat, is_future,
        |  CAST(hr * 3600000 AS BIGINT) AS hour_ms
        |FROM (SELECT * FROM fitted UNION ALL SELECT * FROM fut)""".stripMargin,

    "mv_xlags" ->
      s"""$SEG, wide AS (SELECT ds,
         |  ${Segments.map(x => s"max(CASE WHEN series_id = '$x' THEN y END) AS c_$x").mkString(",\n  ")}
         |  FROM series GROUP BY 1),
         |lagged AS (SELECT ds,
         |  ${Segments.map(x => s"""lag(c_$x) OVER (ORDER BY ds) AS "xlag_${x}_1"""").mkString(",\n  ")}
         |  FROM wide)
         |SELECT s.series_id, s.ds, s.y,
         |  ${Segments.map(x => s""""xlag_${x}_1"""").mkString(", ")}
         |FROM series s JOIN lagged ON lagged.ds = s.ds""".stripMargin,

    "ts_synthesize" -> zTrendSeasonalForecastSql(
      """, futsteps AS (
        |  SELECT CAST(last_ds + to_months(CAST(i AS INT)) AS DATE) AS ds, i
        |  FROM nn, generate_series(1, 12) g(i)),
        |all3 AS (
        |  SELECT ds, yhat FROM scored WHERE is_future
        |  UNION ALL
        |  SELECT fs.ds, (SELECT y FROM s2, nn WHERE t = n) AS yhat FROM futsteps fs
        |  UNION ALL
        |  SELECT fs.ds, (SELECT y FROM s2, nn WHERE t = n - 12 + fs.i) AS yhat
        |  FROM futsteps fs),
        |syn AS (SELECT ds, avg(yhat) AS yhat, stddev_samp(yhat) AS sd, count(yhat) AS n3
        |        FROM all3 GROUP BY 1)
        |SELECT 'orders' AS series_id, ds, ROUND(yhat, 6) AS yhat,
        |  ROUND(yhat - 1.959963984540054 * sd / sqrt(n3), 6) AS lower,
        |  ROUND(yhat + 1.959963984540054 * sd / sqrt(n3), 6) AS upper
        |FROM syn""".stripMargin),

    // Hannan–Rissanen ARMA(1,1): stage-1 long-AR(6) OLS via unrolled Cholesky
    // (OracleGen), residuals as innovation estimates, stage-2 OLS on
    // (y-lag, resid-lag), flat-innovation horizon recursion in closed form.
    "ts_arma" ->
      s"""$ZS,
         |lagd AS (SELECT series_id, ds, y,
         |  ${(1 to 6).map(i => s"lag(y, $i) OVER (ORDER BY ds) AS x$i").mkString(", ")}
         |  FROM series),
         |${OracleGen.momentsCte("s1", (1 to 6).map(i => s"x$i"), "lagd WHERE x6 IS NOT NULL")},
         |${OracleGen.solveCtes("s1", 6)},
         |er AS (SELECT lagd.*, CASE WHEN x6 IS NOT NULL THEN y -
         |  (beta_0 + beta_1*x1 + beta_2*x2 + beta_3*x3 + beta_4*x4 + beta_5*x5 + beta_6*x6)
         |  END AS e FROM lagd, s1_fit),
         |e2 AS (SELECT series_id, ds, y, x1 AS ar1,
         |       lag(e, 1) OVER (ORDER BY ds) AS elag FROM er),
         |${OracleGen.momentsCte("s2f", Seq("ar1", "elag"), "e2 WHERE elag IS NOT NULL")},
         |${OracleGen.solveCtes("s2f", 2)},
         |f2 AS (SELECT beta_0, beta_1, beta_2 FROM s2f_fit),
         |obs AS (SELECT series_id, ds, ROUND(y, 6) AS y,
         |        ROUND(CASE WHEN ar1 IS NOT NULL AND elag IS NOT NULL
         |              THEN beta_0 + beta_1*ar1 + beta_2*elag END, 6) AS yhat,
         |        FALSE AS is_future FROM e2, f2),
         |lastrow AS (SELECT y AS yT, e AS eT FROM er ORDER BY ds DESC LIMIT 1),
         |nn AS (SELECT max(ds) AS ld FROM series),
         |h1 AS (SELECT beta_0 + beta_1*yT + beta_2*eT AS y1 FROM f2, lastrow),
         |fut AS (SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |        CAST(NULL AS DOUBLE) AS y,
         |        ROUND(CASE WHEN i = 1 THEN y1
         |              ELSE beta_0 * (1 - pow(beta_1, i - 1)) / (1 - beta_1)
         |                   + pow(beta_1, i - 1) * y1 END, 6) AS yhat,
         |        TRUE AS is_future
         |        FROM nn, f2, h1, generate_series(1, 12) g(i))
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin,

    // Additive Holt-Winters (α=.3, β=.1, γ=.2, m=12), classical first-cycle
    // init: the level/trend recursion runs in a recursive CTE; the seasonal
    // array rides along as a rotating LIST (head = current season, updated
    // value appended to the tail), so seas[1] is always this step's index.
    "ts_holtwinters" ->
      s"""$ZSR,
         |s2 AS (SELECT series_id, ds, y,
         |       CAST(row_number() OVER (ORDER BY ds) AS INT) AS t FROM series),
         |agg AS (SELECT list(y ORDER BY ds) AS ys, CAST(count(*) AS INT) AS n,
         |        max(ds) AS ld FROM s2),
         |init AS (SELECT n, ld,
         |         (${(1 to 12).map(i => s"ys[$i]").mkString(" + ")}) / 12.0 AS m1,
         |         (${(13 to 24).map(i => s"ys[$i]").mkString(" + ")}) / 12.0 AS m2,
         |         (m2 - m1) / 12.0 AS b0,
         |         list_transform(ys[1:12], s -> s - m1) AS seas0 FROM agg),
         |hw AS (
         |  SELECT 0 AS t, m1 AS level, b0 AS trend, seas0 AS seas,
         |         CAST(NULL AS DOUBLE) AS yhat FROM init
         |  UNION ALL
         |  SELECT s2.t,
         |    0.3 * (s2.y - hw.seas[1]) + 0.7 * (hw.level + hw.trend) AS newlevel,
         |    0.1 * (newlevel - hw.level) + 0.9 * hw.trend,
         |    hw.seas[2:] || [0.2 * (s2.y - newlevel) + 0.8 * hw.seas[1]],
         |    hw.level + hw.trend + hw.seas[1]
         |  FROM hw JOIN s2 ON s2.t = hw.t + 1),
         |obs AS (SELECT s2.series_id, s2.ds, ROUND(s2.y, 6) AS y,
         |        ROUND(hw.yhat, 6) AS yhat, FALSE AS is_future
         |        FROM s2 JOIN hw ON hw.t = s2.t),
         |fin AS MATERIALIZED (SELECT hw.* FROM hw, agg WHERE hw.t = agg.n),
         |fut AS (SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |        CAST(NULL AS DOUBLE) AS y,
         |        ROUND(fin.level + i * fin.trend + fin.seas[i], 6) AS yhat, TRUE AS is_future
         |        FROM agg, fin, generate_series(1, 12) g(i))
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin,

    // HW grid search: all 9 (α, β, γ) recursions advance in ONE recursive
    // CTE (the grid point is part of the state), SSE accumulates in time
    // order, argmin at the end — mirrors holtWintersGridSearch exactly.
    "ts_hw_opt" ->
      s"""$ZSR,
         |s2 AS (SELECT series_id, ds, y,
         |       CAST(row_number() OVER (ORDER BY ds) AS INT) AS t FROM series),
         |agg AS (SELECT list(y ORDER BY ds) AS ys, CAST(count(*) AS INT) AS n FROM s2),
         |init AS (SELECT n,
         |         (${(1 to 12).map(i => s"ys[$i]").mkString(" + ")}) / 12.0 AS m1,
         |         (${(13 to 24).map(i => s"ys[$i]").mkString(" + ")}) / 12.0 AS m2,
         |         (m2 - m1) / 12.0 AS b0,
         |         list_transform(ys[1:12], s -> s - m1) AS seas0 FROM agg),
         |grid AS (SELECT CAST(a AS DOUBLE) AS a, CAST(b AS DOUBLE) AS b,
         |                CAST(g AS DOUBLE) AS g
         |         FROM (VALUES (0.2), (0.5), (0.8)) va(a),
         |              (VALUES (0.1)) vb(b),
         |              (VALUES (0.1), (0.3), (0.5)) vg(g)),
         |hw AS (
         |  SELECT a, b, g, 0 AS t, m1 AS level, b0 AS trend, seas0 AS seas,
         |         CAST(0.0 AS DOUBLE) AS sse FROM init, grid
         |  UNION ALL
         |  SELECT hw.a, hw.b, hw.g, s2.t,
         |    hw.a * (s2.y - hw.seas[1]) + (1 - hw.a) * (hw.level + hw.trend) AS newlevel,
         |    hw.b * (newlevel - hw.level) + (1 - hw.b) * hw.trend,
         |    hw.seas[2:] || [hw.g * (s2.y - newlevel) + (1 - hw.g) * hw.seas[1]],
         |    hw.sse + pow(hw.level + hw.trend + hw.seas[1] - s2.y, 2)
         |  FROM hw JOIN s2 ON s2.t = hw.t + 1),
         |fin AS MATERIALIZED (SELECT a, b, g, sse FROM hw, agg WHERE hw.t = agg.n)
         |SELECT a AS alpha, b AS beta, g AS gamma, ROUND(sse, 6) AS sse
         |FROM fin ORDER BY sse, a, b, g LIMIT 1""".stripMargin,

    // AR(3) OLS (Cholesky) + 12-step dynamic recursion carrying the last
    // three predictions through a recursive CTE.
    "ts_ar3_dynamic" ->
      s"""$ZSR,
         |lagd AS (SELECT series_id, ds, y, lag(y, 1) OVER win AS x1,
         |         lag(y, 2) OVER win AS x2, lag(y, 3) OVER win AS x3
         |         FROM series WINDOW win AS (ORDER BY ds)),
         |${OracleGen.momentsCte("a3", Seq("x1", "x2", "x3"), "lagd WHERE x3 IS NOT NULL")},
         |${OracleGen.solveCtes("a3", 3)},
         |f AS (SELECT beta_0, beta_1, beta_2, beta_3 FROM a3_fit),
         |tl AS (SELECT list(y ORDER BY ds DESC) AS t3
         |       FROM (SELECT y, ds FROM series ORDER BY ds DESC LIMIT 3)),
         |nn AS (SELECT max(ds) AS ld FROM series),
         |rec AS (
         |  SELECT 0 AS i, t3[1] AS p1, t3[2] AS p2, t3[3] AS p3 FROM tl
         |  UNION ALL
         |  SELECT rec.i + 1, beta_0 + beta_1*rec.p1 + beta_2*rec.p2 + beta_3*rec.p3,
         |         rec.p1, rec.p2
         |  FROM rec, f WHERE rec.i < 12)
         |SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |       ROUND(p1, 6) AS yhat
         |FROM rec, nn WHERE i >= 1""".stripMargin,

    // The SQL-surface twin (graft_ols_fit + LATERAL VIEW graft_forecast)
    // replays with the IDENTICAL chain as ts_ar3_dynamic: same AR(3) fit
    // rows, same 12-step recursive CTE carrying the last three predictions.
    "ts_sql_forecast" ->
      s"""$ZSR,
         |lagd AS (SELECT series_id, ds, y, lag(y, 1) OVER win AS x1,
         |         lag(y, 2) OVER win AS x2, lag(y, 3) OVER win AS x3
         |         FROM series WINDOW win AS (ORDER BY ds)),
         |${OracleGen.momentsCte("sq", Seq("x1", "x2", "x3"), "lagd WHERE x3 IS NOT NULL")},
         |${OracleGen.solveCtes("sq", 3)},
         |f AS (SELECT beta_0, beta_1, beta_2, beta_3 FROM sq_fit),
         |tl AS (SELECT list(y ORDER BY ds DESC) AS t3
         |       FROM (SELECT y, ds FROM series ORDER BY ds DESC LIMIT 3)),
         |nn AS (SELECT max(ds) AS ld FROM series),
         |rec AS (
         |  SELECT 0 AS i, t3[1] AS p1, t3[2] AS p2, t3[3] AS p3 FROM tl
         |  UNION ALL
         |  SELECT rec.i + 1, beta_0 + beta_1*rec.p1 + beta_2*rec.p2 + beta_3*rec.p3,
         |         rec.p1, rec.p2
         |  FROM rec, f WHERE rec.i < 12)
         |SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |       ROUND(p1, 6) AS yhat
         |FROM rec, nn WHERE i >= 1""".stripMargin,

    // dynamic_testing=4: AR(1) OLS fit on train; each 4-step test chunk
    // recurses from the actual value preceding the chunk (closed form).
    "ts_mlr_dynk4" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y,
         |       CAST(row_number() OVER (ORDER BY ds) AS INT) AS t,
         |       lag(y, 1) OVER (ORDER BY ds) AS yl FROM series),
         |nn AS (SELECT CAST(count(*) AS INT) AS n FROM s2),
         |fit AS (SELECT regr_slope(y, yl) AS b, regr_intercept(y, yl) AS a
         |        FROM s2, nn WHERE yl IS NOT NULL AND t <= n - 24),
         |test AS (SELECT s2.*, t - (n - 24) AS s, n FROM s2, nn WHERE t > n - 24),
         |steps AS (SELECT series_id, ds, y, ((s - 1) % 4) + 1 AS j,
         |          n - 24 + 4 * ((s - 1) // 4) AS t0 FROM test),
         |seeded AS (SELECT st.*, sd.y AS y0 FROM steps st JOIN s2 sd ON sd.t = st.t0)
         |SELECT series_id, ds, ROUND(y, 6) AS y,
         |       ROUND(a * (1 - pow(b, j)) / (1 - b) + pow(b, j) * y0, 6) AS yhat
         |FROM seeded, fit""".stripMargin,

    // Row-range ops: last 48 observations minus the final 6.
    "ts_history_ops" ->
      s"""$S,
         |s2 AS (SELECT series_id, ds, y,
         |       row_number() OVER (ORDER BY ds DESC) AS rb FROM series)
         |SELECT series_id, ds, ROUND(y, 2) AS y
         |FROM s2 WHERE rb <= 48 AND rb > 6""".stripMargin,

    // Dynamic per-step conformal: backtest iteration i tests rows
    // t ∈ (n−6i−6, n−6i] against the seasonal naive; width(step) = 95th
    // quantile_cont of |resid| across iterations; bounds on the 6-step
    // seasonal-naive forecast.
    "ts_dynamic_ci" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y,
         |       CAST(row_number() OVER (ORDER BY ds) AS INT) AS t FROM series),
         |nn AS (SELECT CAST(count(*) AS INT) AS n, max(ds) AS ld FROM s2),
         |resid AS (SELECT g.i AS iter, a.t - (n - 6*g.i - 6) AS s, abs(a.y - b.y) AS r
         |  FROM generate_series(0, 2) g(i)
         |  CROSS JOIN nn
         |  JOIN s2 a ON a.t > n - 6*g.i - 6 AND a.t <= n - 6*g.i
         |  JOIN s2 b ON b.t = a.t - 12),
         |w AS (SELECT s, quantile_cont(r, 0.95) AS wd FROM resid GROUP BY s),
         |fut AS (SELECT CAST(ld + to_months(k::INT) AS DATE) AS ds, b.y AS yhat, k AS s
         |        FROM nn CROSS JOIN generate_series(1, 6) g(k)
         |        JOIN s2 b ON b.t = n - 12 + k)
         |SELECT 'orders' AS series_id, fut.ds, ROUND(yhat, 6) AS yhat,
         |  ROUND(yhat - wd, 6) AS lower, ROUND(yhat + wd, 6) AS upper
         |FROM fut JOIN w ON w.s = fut.s""".stripMargin,

    // The by-series twin of ts_dynamic_ci: the identical 3-iteration
    // seasonal-naive backtest and per-step 95th quantile_cont, GROUPED by
    // segment — every window, count, and residual join keys on series_id.
    "ts_dynamic_ci_by_series" ->
      s"""$ZSEG,
         |s2 AS (SELECT series_id, ds, y,
         |  CAST(row_number() OVER (PARTITION BY series_id ORDER BY ds) AS INT) AS t
         |  FROM series),
         |nn AS (SELECT series_id, CAST(count(*) AS INT) AS n, max(ds) AS ld
         |       FROM s2 GROUP BY 1),
         |resid AS (SELECT a.series_id, g.i AS iter,
         |    a.t - (n - 6*g.i - 6) AS s, abs(a.y - b.y) AS r
         |  FROM generate_series(0, 2) g(i)
         |  CROSS JOIN nn
         |  JOIN s2 a ON a.series_id = nn.series_id
         |            AND a.t > n - 6*g.i - 6 AND a.t <= n - 6*g.i
         |  JOIN s2 b ON b.series_id = a.series_id AND b.t = a.t - 12),
         |w AS (SELECT series_id, s, quantile_cont(r, 0.95) AS wd
         |      FROM resid GROUP BY 1, 2),
         |fut AS (SELECT nn.series_id, CAST(ld + to_months(k::INT) AS DATE) AS ds,
         |        b.y AS yhat, k AS s
         |        FROM nn CROSS JOIN generate_series(1, 6) g(k)
         |        JOIN s2 b ON b.series_id = nn.series_id AND b.t = n - 12 + k)
         |SELECT fut.series_id, fut.ds, ROUND(yhat, 6) AS yhat,
         |  ROUND(yhat - wd, 6) AS lower, ROUND(yhat + wd, 6) AS upper
         |FROM fut JOIN w ON w.series_id = fut.series_id AND w.s = fut.s""".stripMargin,

    // Streaming per-series fit (graft_ols_fit state over the series
    // stream) == the batch fit: grouped Cholesky chain on the identical
    // calendar-anchored trend + Fourier features, 6-month horizon.
    "ts_stream_forecast" -> {
      val w1 = graft.models.ProphetLike.omega(1, 12.0)
      val xs = Seq("t", s"sin($w1 * t)", s"cos($w1 * t)")
      val pred = s"beta_0 + beta_1*t + beta_2*sin($w1 * t) + beta_3*cos($w1 * t)"
      s"""$ZSEG,
         |s2 AS (SELECT series_id, ds, y,
         |  CAST(datediff('month', DATE '1992-01-01', ds) AS DOUBLE) AS t
         |  FROM series),
         |nn AS (SELECT series_id, max(ds) AS ld FROM s2 GROUP BY 1),
         |${OracleGen.momentsCte("sf", xs, "s2", keys = Seq("series_id"))},
         |${OracleGen.solveCtes("sf", 3)},
         |fut AS (SELECT sf_fit.series_id,
         |        CAST(nn.ld + to_months(k::INT) AS DATE) AS ds,
         |        CAST(datediff('month', DATE '1992-01-01',
         |             CAST(nn.ld + to_months(k::INT) AS DATE)) AS DOUBLE) AS t
         |        FROM sf_fit JOIN nn USING (series_id)
         |        CROSS JOIN generate_series(1, 6) g(k))
         |SELECT f.series_id, f.ds, ROUND($pred, 6) AS yhat
         |FROM fut f JOIN sf_fit USING (series_id)""".stripMargin
    },

    // VECM per-equation OLS (k=2, one Δ-lag): per-series z-scoring, Δy
    // target with own-row lag, level/Δ-lag features over the union calendar
    // (date spine densify), one Cholesky fit per equation, ŷ = y(t−1) + Δŷ.
    "mv_vecm" -> {
      val feats = Seq("lvl_a", "lvl_b", "dl_a", "dl_b")
      def eq(tag: String, sid: String) = {
        val filter = s"eqrows WHERE series_id = '$sid' AND dy IS NOT NULL AND " +
          feats.map(f => s"$f IS NOT NULL").mkString(" AND ")
        s"""${OracleGen.momentsCte(tag, feats, filter, yExpr = "dy")},
           |${OracleGen.solveCtes(tag, 4)}""".stripMargin
      }
      def out(tag: String, sid: String) =
        s"""SELECT e.series_id, e.ds, ROUND(e.y, 6) AS y,
           |  ROUND(CASE WHEN e.dy IS NOT NULL AND e.lvl_a IS NOT NULL
           |         AND e.lvl_b IS NOT NULL AND e.dl_a IS NOT NULL AND e.dl_b IS NOT NULL
           |        THEN e.y - e.dy + (beta_0 + beta_1*e.lvl_a + beta_2*e.lvl_b
           |                           + beta_3*e.dl_a + beta_4*e.dl_b) END, 6) AS yhat
           |FROM eqrows e, ${tag}_fit WHERE e.series_id = '$sid'""".stripMargin
      s"""$SEG,
         |two AS (SELECT * FROM series WHERE series_id IN ('AUTOMOBILE', 'BUILDING')),
         |zp AS (SELECT series_id, avg(y) AS mu, stddev_samp(y) AS sd
         |       FROM two GROUP BY 1),
         |tz AS (SELECT t.series_id, t.ds, (t.y - zp.mu) / zp.sd AS y
         |       FROM two t JOIN zp USING (series_id)),
         |longd AS (SELECT series_id, ds, y,
         |          y - lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS dy FROM tz),
         |spine AS (SELECT DISTINCT ds FROM tz),
         |dense AS (SELECT sp.ds, sid.series_id, l.y, l.dy
         |  FROM spine sp CROSS JOIN (VALUES ('AUTOMOBILE'), ('BUILDING')) sid(series_id)
         |  LEFT JOIN longd l ON l.series_id = sid.series_id AND l.ds = sp.ds),
         |lagged AS (SELECT *, lag(y) OVER wv AS lvl, lag(dy) OVER wv AS dl
         |  FROM dense WINDOW wv AS (PARTITION BY series_id ORDER BY ds)),
         |fw AS (SELECT ds,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN lvl END) AS lvl_a,
         |  max(CASE WHEN series_id = 'BUILDING' THEN lvl END) AS lvl_b,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN dl END) AS dl_a,
         |  max(CASE WHEN series_id = 'BUILDING' THEN dl END) AS dl_b
         |  FROM lagged GROUP BY ds),
         |eqrows AS (SELECT l.series_id, l.ds, l.y, l.dy, f.lvl_a, f.lvl_b, f.dl_a, f.dl_b
         |  FROM longd l JOIN fw f ON f.ds = l.ds),
         |${eq("va", "AUTOMOBILE")},
         |${eq("vb", "BUILDING")}
         |${out("va", "AUTOMOBILE")}
         |UNION ALL
         |${out("vb", "BUILDING")}""".stripMargin
    },

    // Validation grid: (AR order, trend) × 2 rolling folds. Chopping removes
    // rows from the END, so row numbers / lags of surviving rows are the
    // full-series ones — one lagd CTE serves every fold via t-range filters.
    "ts_validation_grid" -> {
      val cells = Seq((1, false), (1, true), (2, false), (2, true))
      def xsOf(p: Int, tr: Boolean): Seq[String] =
        (1 to p).map(i => s"x$i") ++ (if (tr) Seq("tt") else Nil)
      val defs = cells.zipWithIndex.flatMap { case ((p, tr), ci) =>
        (0 to 1).map { f =>
          val xs = xsOf(p, tr)
          val notNull = xs.map(x => s"$x IS NOT NULL").mkString(" AND ")
          val tag = s"g${ci}f$f"
          val from = s"lagd, nn WHERE $notNull AND t <= n - ${f * 8 + 8}"
          s"${OracleGen.momentsCte(tag, xs, from)},\n${OracleGen.solveCtes(tag, xs.size)}"
        }
      }.mkString(",\n")
      val rows = cells.zipWithIndex.map { case ((p, tr), ci) =>
        val xs = xsOf(p, tr)
        def rmse(f: Int): String = {
          val tag = s"g${ci}f$f"
          val pred = ("beta_0" +: xs.zipWithIndex.map { case (x, i) => s"beta_${i + 1}*$x" })
            .mkString(" + ")
          s"(SELECT sqrt(avg(pow(($pred) - y, 2))) FROM lagd, nn, ${tag}_fit " +
            s"WHERE t > n - ${f * 8 + 8} AND t <= n - ${f * 8})"
        }
        s"SELECT CAST($p AS DOUBLE) AS ar, CAST(${if (tr) 1 else 0} AS DOUBLE) AS trend, " +
          s"ROUND(${rmse(0)}, 6) AS fold_0_rmse, ROUND(${rmse(1)}, 6) AS fold_1_rmse, " +
          s"ROUND((${rmse(0)} + ${rmse(1)}) / 2, 6) AS mean_rmse"
      }.mkString("\nUNION ALL\n")
      s"""$ZS,
         |lagd AS (SELECT series_id, ds, y,
         |         CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS tt,
         |         CAST(row_number() OVER (ORDER BY ds) AS INT) AS t,
         |         lag(y, 1) OVER (ORDER BY ds) AS x1,
         |         lag(y, 2) OVER (ORDER BY ds) AS x2 FROM series),
         |nn AS (SELECT CAST(count(*) AS INT) AS n FROM lagd),
         |$defs
         |$rows""".stripMargin
    },

    // Pooled AR(1) over 5 z-scored segment series; recursion per series is
    // the AR(1) closed form seeded from each series' last observation.
    "ts_seg_dynamic" ->
      s"""$SEG,
         |zp AS (SELECT series_id, avg(y) AS mu, stddev_samp(y) AS sd
         |       FROM series GROUP BY 1),
         |tz AS (SELECT t.series_id, t.ds, (t.y - zp.mu) / zp.sd AS y
         |       FROM series t JOIN zp USING (series_id)),
         |lagd AS (SELECT series_id, ds, y,
         |         lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS x1 FROM tz),
         |fit AS (SELECT regr_slope(y, x1) AS b, regr_intercept(y, x1) AS a
         |        FROM lagd WHERE x1 IS NOT NULL),
         |lastv AS (SELECT series_id, max(ds) AS ld FROM tz GROUP BY 1),
         |seed AS (SELECT l.series_id, l.ld, t.y AS y0
         |         FROM lastv l JOIN tz t ON t.series_id = l.series_id AND t.ds = l.ld)
         |SELECT s.series_id, CAST(s.ld + to_months(i::INT) AS DATE) AS ds,
         |  ROUND(a * (1 - pow(b, i)) / (1 - b) + pow(b, i) * s.y0, 6) AS yhat
         |FROM seed s, fit, generate_series(1, 6) g(i)""".stripMargin,

    // MV recursion (k=2, lag 1): per-series z-score, per-equation OLS of y
    // on BOTH series' lag-1 values (union-calendar spine), then a recursive
    // CTE where step i+1's lags are step i's predictions for both series.
    "mv_dynamic" -> {
      def eq(tag: String, sid: String) =
        s"""${OracleGen.momentsCte(tag, Seq("xa", "xb"),
             s"eqrows WHERE series_id = '$sid' AND xa IS NOT NULL AND xb IS NOT NULL")},
           |${OracleGen.solveCtes(tag, 2)}""".stripMargin
      s"""${SEG.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |two AS (SELECT * FROM series WHERE series_id IN ('AUTOMOBILE', 'BUILDING')),
         |zp AS (SELECT series_id, avg(y) AS mu, stddev_samp(y) AS sd
         |       FROM two GROUP BY 1),
         |tz AS (SELECT t.series_id, t.ds, (t.y - zp.mu) / zp.sd AS y
         |       FROM two t JOIN zp USING (series_id)),
         |spine AS (SELECT DISTINCT ds FROM tz),
         |dense AS (SELECT sp.ds, sid.series_id, l.y
         |  FROM spine sp CROSS JOIN (VALUES ('AUTOMOBILE'), ('BUILDING')) sid(series_id)
         |  LEFT JOIN tz l ON l.series_id = sid.series_id AND l.ds = sp.ds),
         |lagged AS (SELECT *, lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS lv
         |  FROM dense),
         |fw AS (SELECT ds,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN lv END) AS xa,
         |  max(CASE WHEN series_id = 'BUILDING' THEN lv END) AS xb
         |  FROM lagged GROUP BY ds),
         |eqrows AS (SELECT l.series_id, l.ds, l.y, f.xa, f.xb
         |  FROM tz l JOIN fw f ON f.ds = l.ds),
         |${eq("ma", "AUTOMOBILE")},
         |${eq("mb", "BUILDING")},
         |nn AS (SELECT max(ds) AS ld FROM tz),
         |seed AS (SELECT
         |  (SELECT y FROM tz, nn WHERE series_id = 'AUTOMOBILE' AND ds = ld) AS pa,
         |  (SELECT y FROM tz, nn WHERE series_id = 'BUILDING' AND ds = ld) AS pb),
         |rec AS (
         |  SELECT 0 AS i, pa, pb FROM seed
         |  UNION ALL
         |  SELECT rec.i + 1,
         |         ma_fit.beta_0 + ma_fit.beta_1 * rec.pa + ma_fit.beta_2 * rec.pb,
         |         mb_fit.beta_0 + mb_fit.beta_1 * rec.pa + mb_fit.beta_2 * rec.pb
         |  FROM rec, ma_fit, mb_fit WHERE rec.i < 6)
         |SELECT 'AUTOMOBILE' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |       ROUND(pa, 6) AS yhat FROM rec, nn WHERE i >= 1
         |UNION ALL
         |SELECT 'BUILDING', CAST(ld + to_months(i::INT) AS DATE), ROUND(pb, 6)
         |FROM rec, nn WHERE i >= 1""".stripMargin
    },

    // MV backtest: per-(iter, target) keyed moments over the shared
    // cross-lag table, one Cholesky chain solving every (iter, target)
    // equation at once, static holdout predictions, per-cell rmse/mae.
    // Chop/flag replication: rb = per-series row index from the back on the
    // date-aligned frame; iteration `it` trains on rb > it*6+12 and tests
    // on the 12 rows after the origin.
    "mv_backtest" ->
      s"""$SEG,
         |two AS (SELECT * FROM series WHERE series_id IN ('AUTOMOBILE', 'BUILDING')),
         |zp AS (SELECT series_id, avg(y) AS mu, stddev_samp(y) AS sd
         |       FROM two GROUP BY 1),
         |tz AS (SELECT t.series_id, t.ds, (t.y - zp.mu) / zp.sd AS y
         |       FROM two t JOIN zp USING (series_id)),
         |bdp AS (SELECT series_id, min(ds) AS lo, max(ds) AS hi FROM tz GROUP BY 1),
         |bd AS (SELECT max(lo) AS lo, min(hi) AS hi FROM bdp),
         |al AS (SELECT tz.* FROM tz, bd WHERE ds BETWEEN lo AND hi),
         |wide AS (SELECT ds,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN y END) AS ca,
         |  max(CASE WHEN series_id = 'BUILDING' THEN y END) AS cb
         |  FROM al GROUP BY 1),
         |lagged AS (SELECT ds, lag(ca) OVER (ORDER BY ds) AS xa,
         |           lag(cb) OVER (ORDER BY ds) AS xb FROM wide),
         |eqr AS (SELECT a.series_id, a.ds, a.y, l.xa, l.xb,
         |        row_number() OVER (PARTITION BY a.series_id ORDER BY a.ds DESC) AS rb
         |        FROM al a JOIN lagged l USING (ds)),
         |its AS (SELECT i AS it FROM generate_series(0, 1) g(i)),
         |tr AS (SELECT e.*, i.it FROM eqr e, its i
         |       WHERE e.rb > i.it * 6 + 12 AND e.xa IS NOT NULL
         |         AND e.xb IS NOT NULL AND e.y IS NOT NULL),
         |${OracleGen.momentsCte("bt", Seq("xa", "xb"), "tr",
             keys = Seq("it", "series_id"))},
         |${OracleGen.solveCtes("bt", 2)},
         |te AS (SELECT e.series_id, e.y, e.xa, e.xb, i.it FROM eqr e, its i
         |       WHERE e.rb > i.it * 6 AND e.rb <= i.it * 6 + 12),
         |pred AS (SELECT te.it, te.series_id, te.y,
         |         f.beta_0 + f.beta_1 * te.xa + f.beta_2 * te.xb AS yhat
         |         FROM te JOIN bt_fit f
         |           ON f.it = te.it AND f.series_id = te.series_id)
         |SELECT CAST(it AS BIGINT) AS iter, series_id,
         |  ROUND(sqrt(avg(pow(yhat - y, 2))), 6) AS rmse,
         |  ROUND(avg(abs(yhat - y)), 6) AS mae
         |FROM pred GROUP BY 1, 2""".stripMargin,

    // Theta (θ=2): Z0 = per-series OLS trend, Z2 = 2y − Z0, ŷ = (Z0 + SES(Z2))/2;
    // SES via the ts_ses closed-form unroll with α=0.3.
    "ts_theta" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y,
         |       CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
         |fit AS (SELECT regr_slope(y, t) AS b, regr_intercept(y, t) AS a FROM s2),
         |z3 AS (SELECT s2.series_id, s2.ds, s2.y, s2.t,
         |       CAST(s2.t AS INT) AS ti, a + b * s2.t AS trend,
         |       2 * s2.y - (a + b * s2.t) AS z2 FROM s2, fit),
         |nn AS (SELECT count(*) AS n, max(ds) AS ld FROM s2),
         |obs AS (SELECT x.series_id, x.ds, ROUND(x.y, 6) AS y,
         |        ROUND((x.trend + (SELECT sum(CASE WHEN b.ti = 1 THEN pow(0.7, x.ti - 2) * b.z2
         |                       ELSE 0.3 * pow(0.7, x.ti - 1 - b.ti) * b.z2 END)
         |               FROM z3 b WHERE b.ti < x.ti)) / 2.0, 6) AS yhat,
         |        FALSE AS is_future FROM z3 x),
         |lvl AS (SELECT (SELECT sum(CASE WHEN b.ti = 1 THEN pow(0.7, n - 1) * b.z2
         |               ELSE 0.3 * pow(0.7, n - b.ti) * b.z2 END)
         |               FROM z3 b, nn) AS lT),
         |fut AS (SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |        CAST(NULL AS DOUBLE) AS y,
         |        ROUND(((a + b * (n + i)) + lT) / 2.0, 6) AS yhat, TRUE AS is_future
         |        FROM nn, fit, lvl, generate_series(1, 12) g(i))
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin,

    // Johansen trace (k=2, p=1, no deterministic term): per-series Δ/level/
    // Δ-lag columns → date-wide complete cases → 6×6 moments → partial
    // regression on Z → closed-form 2×2 generalized eigenvalues → trace
    // stats vs the MHM 5% case-0 table. Mirrors Vecm.johansenTrace exactly.
    "mv_coint_rank" -> {
      def adj(a: Int, b: Int) = { // S entries: m_ab − m_aZ · MZZ⁻¹ · m_Zb
        def sa(i: Int, j: Int) = s"sa_${math.max(i, j)}_${math.min(i, j)}"
        s"${sa(a, b)} - ((${sa(a, 4)})*(izz00*(${sa(b, 4)}) + izz01*(${sa(b, 5)}))" +
          s" + (${sa(a, 5)})*(izz01*(${sa(b, 4)}) + izz11*(${sa(b, 5)})))"
      }
      val vars = Seq("d_0", "d_1", "l_0", "l_1", "z_0", "z_1")
      val moms = (for (i <- 0 until 6; j <- 0 to i)
        yield s"sum((${vars(i)})*(${vars(j)})) AS sa_${i}_$j").mkString(", ")
      s"""$SEG,
         |two AS (SELECT * FROM series WHERE series_id IN ('AUTOMOBILE', 'BUILDING')),
         |lng AS (SELECT series_id, ds, y,
         |        y - lag(y) OVER win AS dy, lag(y) OVER win AS lvl
         |        FROM two WINDOW win AS (PARTITION BY series_id ORDER BY ds)),
         |lng2 AS (SELECT *, lag(dy) OVER (PARTITION BY series_id ORDER BY ds) AS dl
         |         FROM lng),
         |wide AS (SELECT ds,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN dy END) AS d_0,
         |  max(CASE WHEN series_id = 'BUILDING' THEN dy END) AS d_1,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN lvl END) AS l_0,
         |  max(CASE WHEN series_id = 'BUILDING' THEN lvl END) AS l_1,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN dl END) AS z_0,
         |  max(CASE WHEN series_id = 'BUILDING' THEN dl END) AS z_1
         |  FROM lng2 GROUP BY ds),
         |cc AS (SELECT * FROM wide WHERE d_0 IS NOT NULL AND d_1 IS NOT NULL
         |       AND l_0 IS NOT NULL AND l_1 IS NOT NULL
         |       AND z_0 IS NOT NULL AND z_1 IS NOT NULL),
         |mom AS (SELECT $moms, count(*) AS n FROM cc),
         |j0 AS (SELECT *, sa_4_4*sa_5_5 - sa_5_4*sa_5_4 AS detz FROM mom),
         |j1 AS (SELECT *, sa_5_5/detz AS izz00, -sa_5_4/detz AS izz01,
         |       sa_4_4/detz AS izz11 FROM j0),
         |j2 AS (SELECT *,
         |  ${adj(0, 0)} AS s00_00, ${adj(0, 1)} AS s00_01, ${adj(1, 1)} AS s00_11,
         |  ${adj(2, 2)} AS s11_00, ${adj(2, 3)} AS s11_01, ${adj(3, 3)} AS s11_11,
         |  ${adj(0, 2)} AS s01_00, ${adj(0, 3)} AS s01_01,
         |  ${adj(1, 2)} AS s01_10, ${adj(1, 3)} AS s01_11
         |  FROM j1),
         |j3 AS (SELECT *, s00_00*s00_11 - s00_01*s00_01 AS det00,
         |       s11_00*s11_11 - s11_01*s11_01 AS det11 FROM j2),
         |j4 AS (SELECT *, s00_11/det00 AS i00_00, -s00_01/det00 AS i00_01,
         |       s00_00/det00 AS i00_11, s11_11/det11 AS i11_00,
         |       -s11_01/det11 AS i11_01, s11_00/det11 AS i11_11 FROM j3),
         |j5 AS (SELECT *, i00_00*s01_00 + i00_01*s01_10 AS c00,
         |       i00_00*s01_01 + i00_01*s01_11 AS c01,
         |       i00_01*s01_00 + i00_11*s01_10 AS c10,
         |       i00_01*s01_01 + i00_11*s01_11 AS c11 FROM j4),
         |j6 AS (SELECT *, s01_00*c00 + s01_10*c10 AS b00,
         |       s01_00*c01 + s01_10*c11 AS b01,
         |       s01_01*c00 + s01_11*c10 AS b10,
         |       s01_01*c01 + s01_11*c11 AS b11 FROM j5),
         |j7 AS (SELECT *, i11_00*b00 + i11_01*b10 AS a00,
         |       i11_00*b01 + i11_01*b11 AS a01,
         |       i11_01*b00 + i11_11*b10 AS a10,
         |       i11_01*b01 + i11_11*b11 AS a11 FROM j6),
         |j8 AS (SELECT *, a00 + a11 AS tr, a00*a11 - a01*a10 AS dd FROM j7),
         |j9 AS (SELECT *, sqrt(greatest(tr*tr - 4*dd, 0.0)) AS disc FROM j8),
         |jA AS (SELECT *,
         |  least(greatest((tr + disc) / 2, 0.0), 1.0 - 1e-12) AS lam1,
         |  least(greatest((tr - disc) / 2, 0.0), 1.0 - 1e-12) AS lam2 FROM j9),
         |jB AS (SELECT *, -n * (ln(1.0 - lam1) + ln(1.0 - lam2)) AS trace0,
         |       -n * ln(1.0 - lam2) AS trace1 FROM jA)
         |SELECT ROUND(lam1, 6) AS lambda1, ROUND(lam2, 6) AS lambda2,
         |  ROUND(trace0, 6) AS trace0, ROUND(trace1, 6) AS trace1,
         |  CAST(CASE WHEN trace0 < 12.321 THEN 0
         |            WHEN trace1 < 4.130 THEN 1 ELSE 2 END AS BIGINT) AS rank
         |FROM jB""".stripMargin
    },

    // Quadratic detrend: 3-basis OLS (1, t, t²) via the Cholesky CTE chain;
    // y_detrended = y − (β0 + β1·t + β2·t²).
    "ts_detrend_poly" ->
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y,
         |       CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
         |${OracleGen.momentsCte("dp", Seq("t", "t*t"), "s2")},
         |${OracleGen.solveCtes("dp", 2)}
         |SELECT series_id, ds,
         |  ROUND(y - (beta_0 + beta_1 * t + beta_2 * (t*t)), 6) AS y_detrended
         |FROM s2, dp_fit""".stripMargin,

    // Yeo-Johnson candidate-grid MLE: λ over -2.0..2.0 step 0.1; profile
    // log-likelihood -(n/2)·ln(var ψ) + (λ-1)·Σ sign(y)·ln(|y|+1), argmax
    // with the smallest-λ tie-break (mirrors the Scala candidates order).
    "ts_yeojohnson" ->
      s"""$ZS,
         |cands AS (SELECT i / 10.0 AS l FROM generate_series(-20, 20) g(i)),
         |psi AS (SELECT c.l, s.ds, s.y,
         |  CASE WHEN s.y >= 0 THEN
         |    CASE WHEN c.l = 0.0 THEN ln(s.y + 1) ELSE (pow(s.y + 1, c.l) - 1) / c.l END
         |  ELSE
         |    CASE WHEN c.l = 2.0 THEN -ln(-s.y + 1)
         |         ELSE -(pow(-s.y + 1, 2 - c.l) - 1) / (2 - c.l) END
         |  END AS p
         |  FROM series s CROSS JOIN cands c),
         |slog AS (SELECT sum(sign(y) * ln(abs(y) + 1)) AS sl FROM series),
         |ll AS (SELECT l,
         |  CASE WHEN sum(p*p)/count(*) - pow(sum(p)/count(*), 2) <= 0 THEN -1e308
         |       ELSE -(count(*)/2.0) * ln(sum(p*p)/count(*) - pow(sum(p)/count(*), 2))
         |            + (l - 1.0) * sl END AS ll
         |  FROM psi, slog GROUP BY l, sl),
         |best AS (SELECT l FROM ll ORDER BY ll DESC, l ASC LIMIT 1)
         |SELECT s.series_id, s.ds,
         |  ROUND(CASE WHEN s.y >= 0 THEN
         |    CASE WHEN b.l = 0.0 THEN ln(s.y + 1) ELSE (pow(s.y + 1, b.l) - 1) / b.l END
         |  ELSE
         |    CASE WHEN b.l = 2.0 THEN -ln(-s.y + 1)
         |         ELSE -(pow(-s.y + 1, 2 - b.l) - 1) / (2 - b.l) END
         |  END, 6) AS y_yj
         |FROM series s, best b""".stripMargin,

    // Weekly series + naive: checks the weekly horizon spine (ds + 7·i days)
    // that frequency inference must produce.
    "ts_weekly_naive" ->
      """WITH series AS (
        |  SELECT 'lineitem' AS series_id,
        |         CAST(date_trunc('week', l_shipdate) AS DATE) AS ds,
        |         ROUND(SUM(l_quantity), 2) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |nn AS (SELECT max(ds) AS ld FROM series),
        |yt AS (SELECT y AS yT FROM series ORDER BY ds DESC LIMIT 1),
        |obs AS (SELECT series_id, ds, y, lag(y, 1) OVER (ORDER BY ds) AS yhat,
        |        FALSE AS is_future FROM series),
        |fut AS (SELECT 'lineitem' AS series_id, CAST(ld + to_days(7 * i::INT) AS DATE) AS ds,
        |        CAST(NULL AS DOUBLE) AS y, yT AS yhat, TRUE AS is_future
        |        FROM nn, yt, generate_series(1, 8) g(i))
        |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin
  )

  /** Z-scored trend+seasonal scoring with horizon (train = all but last 12);
    * same shape as [[trendSeasonalSql]] but over the z-scored series. */
  private def zTrendSeasonalForecastSql(tail: String): String =
    s"""$ZS, s2 AS (SELECT series_id, ds, y,
       |    CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
       |nn AS (SELECT count(*) AS n, max(ds) AS last_ds FROM s2),
       |train AS (SELECT s2.* FROM s2, nn WHERE t <= n - 12),
       |fit AS (SELECT regr_slope(y, t) AS b, regr_intercept(y, t) AS a FROM train),
       |eff AS (SELECT month(ds) AS m, avg(y - (a + b * t)) AS e
       |        FROM train, fit GROUP BY 1),
       |allrows AS (
       |  SELECT series_id, ds, y, t, FALSE AS is_future FROM s2
       |  UNION ALL
       |  SELECT 'orders', CAST(last_ds + to_months(CAST(i AS INT)) AS DATE),
       |         CAST(NULL AS DOUBLE), n + i, TRUE
       |  FROM nn, generate_series(1, 12) t(i)),
       |scored AS (
       |  SELECT r.series_id, r.ds, r.y, r.is_future,
       |         a + b * r.t + coalesce(eff.e, 0.0) AS yhat
       |  FROM allrows r CROSS JOIN fit LEFT JOIN eff ON eff.m = month(r.ds))
       |$tail""".stripMargin

  /** Shared DuckDB CTE: z-scored monthly orders series. */
  private val ZS =
    """WITH base AS (
      |  SELECT 'orders' AS series_id,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
      |         ROUND(SUM(o_totalprice), 2) AS y
      |  FROM orders GROUP BY 1, 2),
      |zp AS (SELECT avg(y) AS mu, stddev_samp(y) AS sd FROM base),
      |series AS (SELECT series_id, ds, (y - mu) / sd AS y FROM base, zp)""".stripMargin

  /** [[ZS]] with RECURSIVE enabled (DuckDB scopes the keyword to the whole
    * WITH clause) for oracles that carry sequential state in a recursive CTE. */
  private val ZSR = ZS.replaceFirst("WITH ", "WITH RECURSIVE ")

  // ---- STL oracle machinery -----------------------------------------------
  // DuckDB text generators replaying [[graft.operators.Transforms.lowess]] /
  // [[Transforms.stl]] closed-form. A degree-1 tricube LOWESS pass with zero
  // robustness iterations is pure arithmetic: a contiguous-window self-join
  // plus the 2x2 weighted-least-squares solve — so the old "iterative LOESS
  // has no SQL equivalent" boundary only ever covered the bisquare
  // reweighting the STL inner loop doesn't use.

  /** Tricube weight of neighbor row `b` around target row `m` over index
    * `ix`: u = 1 − (|j−i|/dmax)³, w = u³ clamped at 0. dmax ≥ 1 always
    * (q ≥ 2 and the target sits inside its own window). */
  private def stlWeight(ix: String): String = {
    val ad = s"(abs(b.$ix - m.$ix) / CAST(m.dmax AS DOUBLE))"
    val u = s"(1.0 - $ad * $ad * $ad)"
    s"CASE WHEN $u <= 0 THEN 0.0 ELSE $u * $u * $u END"
  }

  /** The closed-form local-line evaluation at the target index from the five
    * weighted moments, with the singular-window fallback to the weighted
    * mean (den < 1e-12 — e.g. a q = 2 window whose far point weighs 0). */
  private def stlFitBranches(ix: String): String =
    s"""WHEN abs(sw * swxx - swx * swx) < 1e-12 THEN swy / sw
       |    ELSE (swy - (sw * swxy - swx * swy) / (sw * swxx - swx * swx) * swx) / sw
       |         + (sw * swxy - swx * swy) / (sw * swxx - swx * swx) * s.$ix END""".stripMargin

  /** One global LOWESS pass of `src(i, v)` over the 0-based index, series
    * length from `nn(n)`: emits `name(i, fit)`. q = max(2, min(n,
    * ceil(frac·n))); the q-point window clamps to the series ends exactly
    * like the Scala `lo0`. `frac` must CAST to DOUBLE in SQL — DuckDB
    * decimal literals would make ceil(0.4·80) = 32 where IEEE gives 33. */
  private def stlGlobalLowess(name: String, src: String, frac: String): String = {
    val lo0 = "GREATEST(0, LEAST(a.i - (q.q - 1) // 2, q.n - q.q))"
    s"""${name}_q AS (SELECT GREATEST(2, LEAST(n, CAST(ceil(CAST($frac AS DOUBLE) * n) AS BIGINT))) AS q, n FROM nn),
       |${name}_m AS (SELECT a.i, $lo0 AS lo0, q.q AS q,
       |    GREATEST(a.i - $lo0, $lo0 + q.q - 1 - a.i) AS dmax
       |  FROM $src a, ${name}_q q),
       |${name}_s AS (SELECT m.i, sum(t.wj) AS sw, sum(t.wj * b.i) AS swx, sum(t.wj * b.v) AS swy,
       |    sum(t.wj * b.i * b.i) AS swxx, sum(t.wj * b.i * b.v) AS swxy
       |  FROM ${name}_m m JOIN $src b ON b.i BETWEEN m.lo0 AND m.lo0 + m.q - 1,
       |  LATERAL (SELECT ${stlWeight("i")} AS wj) t
       |  GROUP BY 1),
       |$name AS (SELECT s.i, CASE ${stlFitBranches("i")} AS fit FROM ${name}_s s)""".stripMargin
  }

  /** The cycle-subseries LOWESS (frac 0.75) of `src(p, r, v)` per phase p
    * over the sub-index r: emits `name(p, r, fit)`; subseries shorter than
    * 3 pass through unsmoothed (the Scala `idx.length < 3` guard). */
  private def stlSubseriesLowess(name: String, src: String): String = {
    val lo0 = "GREATEST(0, LEAST(a.r - (q.q - 1) // 2, q.ln - q.q))"
    s"""${name}_q AS (SELECT p, count(*) AS ln,
       |    GREATEST(2, LEAST(count(*), CAST(ceil(CAST(0.75 AS DOUBLE) * count(*)) AS BIGINT))) AS q
       |  FROM $src GROUP BY 1),
       |${name}_m AS (SELECT a.p, a.r, q.ln, q.q, $lo0 AS lo0,
       |    GREATEST(a.r - $lo0, $lo0 + q.q - 1 - a.r) AS dmax
       |  FROM $src a JOIN ${name}_q q ON q.p = a.p),
       |${name}_s AS (SELECT m.p, m.r, any_value(m.ln) AS ln,
       |    sum(t.wj) AS sw, sum(t.wj * b.r) AS swx, sum(t.wj * b.v) AS swy,
       |    sum(t.wj * b.r * b.r) AS swxx, sum(t.wj * b.r * b.v) AS swxy
       |  FROM ${name}_m m JOIN $src b ON b.p = m.p AND b.r BETWEEN m.lo0 AND m.lo0 + m.q - 1,
       |  LATERAL (SELECT ${stlWeight("r")} AS wj) t
       |  GROUP BY 1, 2),
       |$name AS (SELECT s.p, s.r, CASE WHEN s.ln < 3 THEN src0.v
       |    ${stlFitBranches("r")} AS fit
       |  FROM ${name}_s s JOIN $src src0 ON src0.p = s.p AND src0.r = s.r)""".stripMargin
  }

  /** The STL low-pass ma(ma(ma(·, 12), 12), 3) with end-truncated windows —
    * window-avg frames truncate at partition edges exactly like the Scala
    * `ma`'s clamped lo..hi mean. `src(i, v)` → `name(i, lp)`. */
  private def stlLowpass(name: String, src: String): String =
    s"""${name}_a AS (SELECT i, avg(v) OVER (ORDER BY i ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS v FROM $src),
       |${name}_b AS (SELECT i, avg(v) OVER (ORDER BY i ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS v FROM ${name}_a),
       |$name AS (SELECT i, avg(v) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS lp FROM ${name}_b)""".stripMargin

  /** One STL inner iteration k over `s0(i, v)`: detrend by the previous
    * trend (zero on the first pass), cycle-subseries smooth, low-pass,
    * seasonal = C − L, then the trend LOWESS (frac 0.4) of the
    * deseasonalized series. Emits `trk(i, fit)` and `seask(i, v)`. */
  private def stlIteration(k: Int, prevTrend: Option[String]): String = {
    val det = prevTrend match {
      case Some(tr) => s"det$k AS (SELECT s.i, s.v - t.fit AS v FROM s0 s JOIN $tr t ON t.i = s.i)"
      case None     => s"det$k AS (SELECT i, v FROM s0)"
    }
    Seq(
      det,
      s"sub$k AS (SELECT i % 12 AS p, i // 12 AS r, i, v FROM det$k)",
      stlSubseriesLowess(s"csm$k", s"sub$k"),
      s"c$k AS (SELECT sub$k.i, csm$k.fit AS v FROM sub$k JOIN csm$k ON csm$k.p = sub$k.p AND csm$k.r = sub$k.r)",
      stlLowpass(s"lp$k", s"c$k"),
      s"seas$k AS (SELECT c$k.i, c$k.v - lp$k.lp AS v FROM c$k JOIN lp$k ON lp$k.i = c$k.i)",
      s"des$k AS (SELECT s.i, s.v - seas$k.v AS v FROM s0 s JOIN seas$k ON seas$k.i = s.i)",
      stlGlobalLowess(s"tr$k", s"des$k", "0.4")
    ).mkString(",\n")
  }

  /** Shared DuckDB CTEs: distinct word-3-gram shingles per document. */
  /** DuckDB replay of [[graft.functions.TextOps.knPerplexity]] at n = 3:
    * the model CTEs (raw trigram counts + prefix mass, distinct-trigram
    * continuation counts, distinct-bigram unigram continuations, the three
    * scalar constants) and the three-level interpolation CASE chain, with
    * every division/multiplication in the operator's association order.
    * `trainW` / `scoreW` are WHERE predicates selecting the two sides. */
  /** Generated round-by-round BPE replay: each merge round is one
    * pair-count aggregate + top-1 pick + a greedy left-to-right merge
    * rewrite. Greedy-in-SQL: mark hit positions (syms[i], syms[i+1]) =
    * best pair, then keep only even offsets within each maximal run of
    * consecutive hits (gaps-and-islands) — for left ≠ right the runs have
    * length 1 and every hit merges; for left = right (a char run like
    * "aaaa") the parity rule reproduces the operator's fold exactly
    * ([aa, aa], never [aaaa]). The last round emits only its pair pick. */
  private def bpeOracleSql(merges: Int): String = {
    // every w{r}/b{r} is referenced by TWO consumers (next round's pair
    // count + this round's rewrite; the pick by the hit mark and the
    // rewrite) — DuckDB inlines plain CTEs, so without MATERIALIZED the
    // chain re-expands 2^merges scans of `documents` (measured: fd
    // exhaustion at 8 rounds before any row came back)
    val rounds = (1 to merges).map { r =>
      val pick =
        s"""p$r AS (SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt) AS c
           |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM w${r - 1})
           |  GROUP BY 1, 2),
           |b$r AS MATERIALIZED (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1)""".stripMargin
      val rewrite =
        s"""m$r AS MATERIALIZED (SELECT word, cnt, i, syms[i] AS s,
           |    coalesce(syms[i] = (SELECT a FROM b$r)
           |      AND i < len(syms) AND syms[i+1] = (SELECT b FROM b$r), FALSE) AS hit
           |  FROM (SELECT word, cnt, syms, unnest(range(1, len(syms) + 1)) AS i FROM w${r - 1})),
           |h$r AS (SELECT word, i FROM m$r WHERE hit),
           |i$r AS (SELECT word, i,
           |    i - row_number() OVER (PARTITION BY word ORDER BY i) AS isl FROM h$r),
           |g$r AS (SELECT word, i FROM
           |    (SELECT word, i, min(i) OVER (PARTITION BY word, isl) AS i0 FROM i$r)
           |  WHERE (i - i0) % 2 = 0),
           |n$r AS (SELECT m.word, m.cnt, m.i,
           |    CASE WHEN g.i IS NOT NULL THEN m.s || (SELECT b FROM b$r) ELSE m.s END AS s,
           |    (g2.i IS NOT NULL) AS dropped
           |  FROM m$r m
           |  LEFT JOIN g$r g ON m.word = g.word AND m.i = g.i
           |  LEFT JOIN g$r g2 ON m.word = g2.word AND m.i = g2.i + 1),
           |w$r AS MATERIALIZED (SELECT word, any_value(cnt) AS cnt, list(s ORDER BY i) AS syms
           |  FROM n$r WHERE NOT dropped GROUP BY word)""".stripMargin
      if (r < merges) s"$pick,\n$rewrite" else pick
    }.mkString(",\n")
    val out = (1 to merges).map(r =>
      s"SELECT $r AS merge_rank, a AS left_sym, b AS right_sym, " +
        s"CAST(c AS BIGINT) AS pair_count FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH wc AS (SELECT w AS word, count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 1 GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT word, cnt,
       |    list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
       |  FROM wc),
       |$rounds
       |SELECT * FROM (
       |$out
       |) ORDER BY merge_rank""".stripMargin
  }

  private def knOracleSql(trainW: String, scoreW: String): String =
    s"""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE $trainW),
       |sr AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE $scoreW),
       |g3 AS (SELECT doc_id, toks[i] AS a, toks[i+1] AS b, toks[i+2] AS c
       |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tr WHERE len(toks) >= 3)),
       |s3 AS (SELECT doc_id, toks[i] AS a, toks[i+1] AS b, toks[i+2] AS c
       |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM sr WHERE len(toks) >= 3)),
       |c3 AS (SELECT a, b, c, CAST(count(*) AS DOUBLE) AS cf FROM g3 GROUP BY 1, 2, 3),
       |cx AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS cctx,
       |         CAST(count(DISTINCT c) AS DOUBLE) AS n1pn FROM g3 GROUP BY 1, 2),
       |t3 AS (SELECT DISTINCT a, b, c FROM g3),
       |cc2t AS (SELECT b, c, CAST(count(DISTINCT a) AS DOUBLE) AS cc2 FROM t3 GROUP BY 1, 2),
       |ct2t AS (SELECT b, CAST(count(*) AS DOUBLE) AS ct2,
       |           CAST(count(DISTINCT c) AS DOUBLE) AS n1p2 FROM t3 GROUP BY 1),
       |t2 AS (SELECT DISTINCT toks[i] AS u, toks[i+1] AS w
       |       FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM tr WHERE len(toks) >= 2)),
       |cc1t AS (SELECT w, CAST(count(DISTINCT u) AS DOUBLE) AS cc1 FROM t2 GROUP BY 1),
       |kk AS (SELECT greatest(CAST(count(*) AS DOUBLE), 1.0) AS nbt,
       |              CAST(count(DISTINCT w) AS DOUBLE) AS vcont FROM t2),
       |vv AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
       |       FROM (SELECT unnest(toks) AS tok FROM tr)),
       |j AS (SELECT s.doc_id,
       |        coalesce(c3.cf, 0.0) AS cf, coalesce(cx.cctx, 0.0) AS cctx,
       |        coalesce(cx.n1pn, 0.0) AS n1pn, coalesce(cc2t.cc2, 0.0) AS cc2v,
       |        coalesce(ct2t.ct2, 0.0) AS ct2v, coalesce(ct2t.n1p2, 0.0) AS n1p2,
       |        coalesce(cc1t.cc1, 0.0) AS cc1v, kk.nbt, kk.vcont, vv.v
       |      FROM s3 s
       |      LEFT JOIN c3 USING (a, b, c) LEFT JOIN cx USING (a, b)
       |      LEFT JOIN cc2t USING (b, c) LEFT JOIN ct2t USING (b)
       |      LEFT JOIN cc1t ON s.c = cc1t.w
       |      CROSS JOIN kk CROSS JOIN vv),
       |q1 AS (SELECT *, greatest(cc1v - 0.75, 0.0) / nbt
       |         + (0.75 * greatest(vcont, 1.0) / nbt) * (1.0 / (v + 1.0)) AS p1 FROM j),
       |q2 AS (SELECT *, CASE WHEN ct2v <= 0 THEN p1
       |         ELSE greatest(cc2v - 0.75, 0.0) / ct2v + 0.75 * n1p2 / ct2v * p1 END AS p2 FROM q1),
       |q3 AS (SELECT doc_id, CASE WHEN cctx <= 0 THEN p2
       |         ELSE greatest(cf - 0.75, 0.0) / cctx + 0.75 * n1pn / cctx * p2 END AS p FROM q2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  ROUND(exp(-avg(ln(p))), 6) AS ppl FROM q3 GROUP BY 1""".stripMargin

  private val CURATION_CTES =
    """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bi AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t0),
        |bg AS (SELECT doc_id, toks[i] AS a, toks[i + 1] AS b FROM bi),
        |cab AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
        |ca AS (SELECT a, count(*) AS c_a FROM bg GROUP BY 1),
        |sc AS (SELECT doc_id, exp(-avg(ln(c_ab / c_a))) AS ppl
        |       FROM bg JOIN cab USING (a, b) JOIN ca USING (a) GROUP BY 1),
        |d1 AS (SELECT d.doc_id, d.text FROM documents d JOIN sc USING (doc_id)
        |       WHERE ROUND(ppl, 6) BETWEEN 28.0 AND 31.0),
        |dd AS (SELECT doc_id, text FROM d1 WHERE length(text) >= 11),
        |g AS (SELECT doc_id, unnest(range(1, length(text) - 6)) AS p, text FROM dd),
        |h AS (SELECT doc_id, CAST(p AS BIGINT) AS p,
        |        (CAST(ascii(substr(text, p, 1)) AS BIGINT) * 27512614111
        |       + CAST(ascii(substr(text, p + 1, 1)) AS BIGINT) * 887503681
        |       + CAST(ascii(substr(text, p + 2, 1)) AS BIGINT) * 28629151
        |       + CAST(ascii(substr(text, p + 3, 1)) AS BIGINT) * 923521
        |       + CAST(ascii(substr(text, p + 4, 1)) AS BIGINT) * 29791
        |       + CAST(ascii(substr(text, p + 5, 1)) AS BIGINT) * 961
        |       + CAST(ascii(substr(text, p + 6, 1)) AS BIGINT) * 31
        |       + CAST(ascii(substr(text, p + 7, 1)) AS BIGINT)) % 1048576 AS h
        |      FROM g),
        |k2 AS (SELECT doc_id, p, h, h * 4294967296 + (4294967295 - p) AS kk FROM h),
        |w2 AS (SELECT doc_id,
        |         min(kk) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
        |         count(*) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
        |       FROM k2),
        |sel0 AS (SELECT DISTINCT doc_id, 4294967295 - (wkey % 4294967296) AS p
        |         FROM w2 WHERE cnt = 4),
        |sel AS (SELECT DISTINCT s.doc_id, CAST(concat('0x',
        |          substr(md5(substr(d.text, CAST(s.p AS INT), 8)), 1, 15)) AS BIGINT) AS h
        |        FROM sel0 s JOIN dd d USING (doc_id)),
        |cap AS (SELECT doc_id, h FROM
        |          (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS dfq FROM sel)
        |        WHERE dfq <= 100),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |       FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT doc_b AS doc_id FROM pr WHERE n_shared >= 50),
        |d2 AS (SELECT doc_id, text FROM d1
        |       WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
        |t2 AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) >= 60 THEN 'long' ELSE 'short' END AS stratum
        |  FROM d2),
        |c2 AS (SELECT stratum, CAST(count(*) AS DOUBLE) AS n FROM t2 GROUP BY 1),
        |s2 AS (SELECT sum(pow(n, 0.5)) AS wsum FROM c2),
        |f2 AS (SELECT stratum,
        |  CAST(FLOOR(ROUND(least(1.0, 150.0 * pow(n, 0.5) / wsum / n), 9)
        |       * 4294967296) AS BIGINT) AS thr FROM c2, s2),
        |h2 AS (SELECT doc_id, stratum,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
        |  FROM t2)""".stripMargin

  private val SHINGLES =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |tri AS (
      |  SELECT doc_id, w || '_' || lead(w, 1) OVER win || '_' || lead(w, 2) OVER win AS shingle
      |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(w, 2) OVER win IS NOT NULL),
      |ds AS (SELECT DISTINCT doc_id, shingle FROM tri),""".stripMargin

  /** Shared DuckDB CTE: every 8-token window start `(doc_id, pos, h)` with
    * h = the 60-bit md5-prefix fingerprint of the window joined by `_` —
    * the oracle twin of [[graft.operators.Dedup.spanStarts]] (positional,
    * NOT distinct; same fingerprint recipe, so even collision classes
    * agree across engines). */
  private val SPAN_STARTS = {
    val chain = (0 until SpanMinTokens)
      .map(i => if (i == 0) "w" else s"lead(w, $i) OVER win")
      .mkString(" || '_' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, pos,
       |    CAST(concat('0x', substr(md5($chain), 1, 15)) AS BIGINT) AS h
       |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(w, ${SpanMinTokens - 1}) OVER win IS NOT NULL),""".stripMargin
  }

  /** Shared DuckDB CTE: 32-bit simhash per document. */
  private val SIMHASH =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h FROM tok),
      |bits AS (SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS s
      |         FROM th CROSS JOIN generate_series(0, 31) g(j) GROUP BY 1, 2),
      |sh AS (SELECT doc_id,
      |         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      |       FROM bits GROUP BY 1)""".stripMargin

  /** Oracle for mv_var_order: one Cholesky chain per (order p, equation) —
    * the cross-series lag design is built on the shared date spine exactly
    * like MvForecast.addCrossSeriesLags, each equation's AIC is
    * n·ln(sse/n) + 2(k+1) over its feature-complete rows, and candidate
    * orders rank by summed AIC with first-min tie order. */
  private def mvVarOrderOracleSql: String = {
    val ps = 1 to 3
    val eqs = Seq("b" -> "yb", "m" -> "ym")
    val lagCols = ps.flatMap(k => Seq(
      s"lag(yb, $k) OVER (ORDER BY ds) AS b$k",
      s"lag(ym, $k) OVER (ORDER BY ds) AS m$k"))
    val chains = (for (p <- ps; (eq, yx) <- eqs) yield {
      val tag = s"v$p$eq"
      val xs = (1 to p).map(i => s"b$i") ++ (1 to p).map(i => s"m$i")
      val cond = (s"$yx IS NOT NULL" +: xs.map(x => s"$x IS NOT NULL")).mkString(" AND ")
      val pred = "beta_0" + xs.zipWithIndex.map { case (x, i) => s" + beta_${i + 1}*$x" }.mkString
      s"""${OracleGen.momentsCte(tag, xs, s"wide WHERE $cond", yx)},
         |${OracleGen.solveCtes(tag, xs.size)},
         |${tag}_a AS (SELECT count(*) * ln(sum(pow($yx - ($pred), 2)) / count(*))
         |  + 2.0 * ${xs.size + 1} AS aic FROM wide, ${tag}_fit WHERE $cond)""".stripMargin
    }).mkString(",\n")
    val aicsUnion = ps.map(p =>
      s"SELECT $p AS p, (SELECT aic FROM v${p}b_a) + (SELECT aic FROM v${p}m_a) AS aic")
      .mkString("\n  UNION ALL ")
    s"""$SEG,
       |s2 AS (SELECT * FROM series WHERE series_id IN ('BUILDING', 'MACHINERY')),
       |spine AS (SELECT DISTINCT ds FROM s2),
       |pv AS (SELECT spine.ds, b.y AS yb, m.y AS ym
       |  FROM spine
       |  LEFT JOIN (SELECT ds, y FROM s2 WHERE series_id = 'BUILDING') b ON b.ds = spine.ds
       |  LEFT JOIN (SELECT ds, y FROM s2 WHERE series_id = 'MACHINERY') m ON m.ds = spine.ds),
       |wide AS (SELECT pv.*, ${lagCols.mkString(", ")} FROM pv),
       |$chains,
       |aics AS (${aicsUnion})
       |SELECT CAST(p AS BIGINT) AS p, ROUND(aic, 6) AS aic,
       |       row_number() OVER (ORDER BY aic, p) = 1 AS is_best
       |FROM aics""".stripMargin
  }

  private val xvarTrendSets = Seq("a" -> Seq("t"), "b" -> Seq("t", "t2"))

  /** The 12 reachable auto_Xvar candidates' OLS fit + holdout-rmse CTEs,
    * tagged `<pfx><a|b><s><ar>`, over prep CTEs `<prep>tr`/`<prep>te`
    * (feature columns t/t2/ms/mc/a1/a2). Shared by the search oracle and
    * the spec-replay oracle (which runs a second set on the target series). */
  private def xvarChainsSql(pfx: String, prep: String): String =
    (for ((tKey, tXs) <- xvarTrendSets; sKey <- 0 to 1; aKey <- 0 to 2) yield {
      val tag = s"$pfx$tKey$sKey$aKey"
      val xs = tXs ++ (if (sKey == 1) Seq("ms", "mc") else Nil) ++ (1 to aKey).map(i => s"a$i")
      val arCond = (1 to aKey).map(i => s" AND a$i IS NOT NULL").mkString
      val pred = "beta_0" + xs.zipWithIndex.map { case (x, i) => s" + beta_${i + 1}*$x" }.mkString
      s"""${OracleGen.momentsCte(tag, xs, s"${prep}tr WHERE TRUE$arCond")},
         |${OracleGen.solveCtes(tag, xs.size)},
         |${tag}_r AS (SELECT sqrt(avg(pow(y - ($pred), 2))) AS r_$tag FROM ${prep}te, ${tag}_fit)""".stripMargin
    }).mkString(",\n")

  /** Candidate-feature prep CTEs (`<prep>2/3/n/tr/te`) over a single-series
    * CTE `src` (columns series_id/ds/y): trend, Fourier pair, AR lags, and
    * the last-12 holdout split. */
  private def xvarPrepSql(prep: String, src: String): String =
    s"""${prep}2 AS (SELECT series_id, ds, y,
       |  CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t,
       |  sin(pi() * month(ds) / 6.0) AS ms, cos(pi() * month(ds) / 6.0) AS mc,
       |  lag(y, 1) OVER (ORDER BY ds) AS a1, lag(y, 2) OVER (ORDER BY ds) AS a2
       |  FROM $src),
       |${prep}3 AS (SELECT *, t * t AS t2 FROM ${prep}2),
       |${prep}n AS (SELECT count(*) AS n FROM ${prep}3),
       |${prep}tr AS (SELECT p.* FROM ${prep}3 p, ${prep}n WHERE t <= n - 12),
       |${prep}te AS (SELECT p.* FROM ${prep}3 p, ${prep}n WHERE t > n - 12)""".stripMargin

  /** The three greedy decisions (trend → seasonal → AR order) over the
    * `r_<pfx>*` columns, Scala minBy's first-min tie order. */
  private def xvarSelSql(pfx: String): String = {
    val rAll = (for ((tKey, _) <- xvarTrendSets; sKey <- 0 to 1; aKey <- 0 to 2)
      yield s"$pfx$tKey$sKey${aKey}_r").mkString(", ")
    s"""sel AS (SELECT
       |  CASE WHEN r_${pfx}a00 <= r_${pfx}b00 THEN 0 ELSE 1 END AS dt,
       |  CASE WHEN dt = 0 THEN (CASE WHEN r_${pfx}a00 <= r_${pfx}a10 THEN 0 ELSE 1 END)
       |       ELSE (CASE WHEN r_${pfx}b00 <= r_${pfx}b10 THEN 0 ELSE 1 END) END AS dsn,
       |  CASE WHEN dt = 0 AND dsn = 0 THEN r_${pfx}a00 WHEN dt = 0 THEN r_${pfx}a10
       |       WHEN dsn = 0 THEN r_${pfx}b00 ELSE r_${pfx}b10 END AS r0,
       |  CASE WHEN dt = 0 AND dsn = 0 THEN r_${pfx}a01 WHEN dt = 0 THEN r_${pfx}a11
       |       WHEN dsn = 0 THEN r_${pfx}b01 ELSE r_${pfx}b11 END AS r1,
       |  CASE WHEN dt = 0 AND dsn = 0 THEN r_${pfx}a02 WHEN dt = 0 THEN r_${pfx}a12
       |       WHEN dsn = 0 THEN r_${pfx}b02 ELSE r_${pfx}b12 END AS r2,
       |  CASE WHEN r0 <= r1 AND r0 <= r2 THEN 0 WHEN r1 <= r2 THEN 1 ELSE 2 END AS da
       |  FROM $rAll)""".stripMargin
  }

  /** Grouped candidate-prep CTEs: [[xvarPrepSql]] with every window and
    * count per series. */
  private def xvarPrepBySeriesSql(prep: String, src: String): String =
    s"""${prep}2 AS (SELECT series_id, ds, y,
       |  CAST(row_number() OVER (PARTITION BY series_id ORDER BY ds) AS DOUBLE) AS t,
       |  sin(pi() * month(ds) / 6.0) AS ms, cos(pi() * month(ds) / 6.0) AS mc,
       |  lag(y, 1) OVER (PARTITION BY series_id ORDER BY ds) AS a1,
       |  lag(y, 2) OVER (PARTITION BY series_id ORDER BY ds) AS a2
       |  FROM $src),
       |${prep}3 AS (SELECT *, t * t AS t2 FROM ${prep}2),
       |${prep}n AS (SELECT series_id, count(*) AS n FROM ${prep}3 GROUP BY 1),
       |${prep}tr AS (SELECT p.* FROM ${prep}3 p JOIN ${prep}n USING (series_id)
       |  WHERE t <= n - 12),
       |${prep}te AS (SELECT p.* FROM ${prep}3 p JOIN ${prep}n USING (series_id)
       |  WHERE t > n - 12)""".stripMargin

  /** Grouped 12-candidate fit+score chains: [[xvarChainsSql]] with moments
    * keyed by series_id (one Cholesky chain solves every series) and
    * per-series holdout rmse CTEs `<tag>_r(series_id, r_<tag>)`. */
  private def xvarChainsBySeriesSql(pfx: String, prep: String): String =
    (for ((tKey, tXs) <- xvarTrendSets; sKey <- 0 to 1; aKey <- 0 to 2) yield {
      val tag = s"$pfx$tKey$sKey$aKey"
      val xs = tXs ++ (if (sKey == 1) Seq("ms", "mc") else Nil) ++ (1 to aKey).map(i => s"a$i")
      val arCond = (1 to aKey).map(i => s" AND a$i IS NOT NULL").mkString
      val pred = "beta_0" + xs.zipWithIndex.map { case (x, i) => s" + beta_${i + 1}*$x" }.mkString
      s"""${OracleGen.momentsCte(tag, xs, s"${prep}tr WHERE TRUE$arCond",
           keys = Seq("series_id"))},
         |${OracleGen.solveCtes(tag, xs.size)},
         |${tag}_r AS MATERIALIZED (SELECT te.series_id,
         |  sqrt(avg(pow(y - ($pred), 2))) AS r_$tag
         |  FROM ${prep}te te JOIN ${tag}_fit USING (series_id)
         |  WHERE TRUE$arCond GROUP BY te.series_id)""".stripMargin
    }).mkString(",\n")

  /** Oracle for ts_auto_xvar: replays all 12 reachable
    * (trend ∈ {t; t,t2}) × (seasonal ∈ {∅; monthsin,monthcos}) ×
    * (ar ∈ {0,1,2}) OLS fits — the empty trend candidate scores NaN in the
    * engine (scoreFeatures on no features) so it can never win and is
    * omitted statically — then walks the three greedy decisions with
    * Scala minBy's first-min tie order. */
  private def autoXvarOracleSql: String =
    s"""$ZS,
       |${xvarPrepSql("s", "series")},
       |${xvarChainsSql("x", "s")},
       |${xvarSelSql("x")}
       |SELECT CASE dt WHEN 0 THEN 't' ELSE 't,t2' END AS trend,
       |  CASE dsn WHEN 0 THEN '' ELSE 'monthsin,monthcos' END AS seasonal,
       |  CAST(da AS BIGINT) AS ar_order,
       |  ROUND(CASE da WHEN 0 THEN r0 WHEN 1 THEN r1 ELSE r2 END, 6) AS rmse
       |FROM sel""".stripMargin

  /** Oracle for ts_xvar_replay: the SAME search decisions as ts_auto_xvar
    * (on z-scored orders), then the winning spec refit-and-scored on the
    * z-scored BUILDING segment — all 12 candidate fits run on the target
    * too, and the decision CASE picks the replayed one. */
  private def xvarReplayOracleSql: String = {
    val segCase = (for ((tKey, _) <- xvarTrendSets; sKey <- 0 to 1; aKey <- 0 to 2) yield {
      val dt = if (tKey == "a") 0 else 1
      s"WHEN dt = $dt AND dsn = $sKey AND da = $aKey THEN r_g$tKey$sKey$aKey"
    }).mkString(" ")
    s"""$ZS,
       |bb AS (SELECT 'BUILDING' AS series_id,
       |       CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
       |       ROUND(SUM(o_totalprice), 2) AS y
       |       FROM orders JOIN customer ON o_custkey = c_custkey
       |       WHERE c_mktsegment = 'BUILDING' GROUP BY 1, 2),
       |bz AS (SELECT avg(y) AS mu, stddev_samp(y) AS sd FROM bb),
       |gseries AS (SELECT series_id, ds, (y - mu) / sd AS y FROM bb, bz),
       |${xvarPrepSql("s", "series")},
       |${xvarPrepSql("g", "gseries")},
       |${xvarChainsSql("x", "s")},
       |${xvarChainsSql("g", "g")},
       |${xvarSelSql("x")}
       |SELECT CASE dt WHEN 0 THEN 't' ELSE 't,t2' END AS trend,
       |  CASE dsn WHEN 0 THEN '' ELSE 'monthsin,monthcos' END AS seasonal,
       |  CAST(da AS BIGINT) AS ar_order,
       |  ROUND(CASE $segCase END, 6) AS seg_rmse
       |FROM sel, ${(for ((tKey, _) <- xvarTrendSets; sKey <- 0 to 1; aKey <- 0 to 2)
        yield s"g$tKey$sKey${aKey}_r").mkString(", ")}""".stripMargin
  }

  /** Emits the CTE chain scoring one state CTE (`src`, columns ds/y) with
    * the AR(4)-OLS holdout RMSE of [[AutoSelect.scoreFeatures]]: train =
    * all-but-last-12 rows with complete lags, predict the last 12 with
    * actual lags. Final CTE `<tag>_sc` has one row, column `r`. */
  private def ar4ScoreCtes(tag: String, src: String): String = {
    val lags = (1 to 4).map(i => s"a$i")
    val pred = "beta_0" + lags.zipWithIndex.map { case (x, i) => s" + beta_${i + 1}*$x" }.mkString
    s"""${tag}_b AS MATERIALIZED (SELECT ds, y,
       |  CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t,
       |  ${(1 to 4).map(i => s"lag(y, $i) OVER (ORDER BY ds) AS a$i").mkString(", ")}
       |  FROM $src),
       |${tag}_n AS (SELECT count(*) AS n FROM ${tag}_b),
       |${tag}_tr AS (SELECT b.* FROM ${tag}_b b, ${tag}_n
       |  WHERE t <= n - 12 AND ${lags.map(l => s"$l IS NOT NULL").mkString(" AND ")}),
       |${tag}_te AS (SELECT b.* FROM ${tag}_b b, ${tag}_n WHERE t > n - 12),
       |${OracleGen.momentsCte(tag, lags, s"${tag}_tr")},
       |${OracleGen.solveCtes(tag, 4)},
       |${tag}_sc AS MATERIALIZED (SELECT sqrt(avg(pow(y - ($pred), 2))) AS r FROM ${tag}_te, ${tag}_fit)""".stripMargin
  }

  /** Oracle for ts_opt_transform: the greedy try-order walk as CASE-gated
    * state CTEs — each accept decision is a scalar subquery comparing the
    * candidate's AR(4) score to the running best, and each state is the
    * union of the accepted/rejected branches under that flag. */
  private def optTransformOracleSql: String =
    s"""$ZS,
       |st0 AS MATERIALIZED (SELECT ds, y FROM series),
       |${ar4ScoreCtes("s0", "st0")},
       |st0t AS MATERIALIZED (SELECT ds, y, CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM st0),
       |dtp AS MATERIALIZED (SELECT regr_slope(y, t) AS b, regr_intercept(y, t) AS a FROM st0t),
       |c1 AS MATERIALIZED (SELECT ds, y - (a + b * t) AS y FROM st0t, dtp),
       |${ar4ScoreCtes("s1", "c1")},
       |d1 AS MATERIALIZED (SELECT (SELECT r FROM s1_sc) < (SELECT r FROM s0_sc) AS acc),
       |st1 AS MATERIALIZED (SELECT ds, y FROM c1 WHERE (SELECT acc FROM d1)
       |        UNION ALL SELECT ds, y FROM st0 WHERE NOT (SELECT acc FROM d1)),
       |cur1 AS MATERIALIZED (SELECT CASE WHEN (SELECT acc FROM d1) THEN (SELECT r FROM s1_sc)
       |                ELSE (SELECT r FROM s0_sc) END AS r),
       |c2 AS MATERIALIZED (SELECT ds, y - lag(y) OVER (ORDER BY ds) AS y FROM st1),
       |c2f AS MATERIALIZED (SELECT ds, y FROM c2 WHERE y IS NOT NULL),
       |${ar4ScoreCtes("s2", "c2f")},
       |d2 AS MATERIALIZED (SELECT (SELECT r FROM s2_sc) < (SELECT r FROM cur1) AS acc),
       |st2 AS MATERIALIZED (SELECT ds, y FROM c2f WHERE (SELECT acc FROM d2)
       |        UNION ALL SELECT ds, y FROM st1 WHERE NOT (SELECT acc FROM d2)),
       |cur2 AS MATERIALIZED (SELECT CASE WHEN (SELECT acc FROM d2) THEN (SELECT r FROM s2_sc)
       |                ELSE (SELECT r FROM cur1) END AS r),
       |scp AS MATERIALIZED (SELECT avg(y) AS mu, stddev_samp(y) AS sd FROM st2),
       |c3 AS MATERIALIZED (SELECT ds, (y - mu) / sd AS y FROM st2, scp),
       |${ar4ScoreCtes("s3", "c3")},
       |d3 AS MATERIALIZED (SELECT (SELECT r FROM s3_sc) < (SELECT r FROM cur2) AS acc),
       |fin AS MATERIALIZED (SELECT ds, y FROM c3 WHERE (SELECT acc FROM d3)
       |        UNION ALL SELECT ds, y FROM st2 WHERE NOT (SELECT acc FROM d3))
       |SELECT 'orders' AS series_id, ds, ROUND(y, 6) AS y,
       |  concat_ws(',',
       |    CASE WHEN (SELECT acc FROM d1) THEN 'detrend' END,
       |    CASE WHEN (SELECT acc FROM d2) THEN 'diff1' END,
       |    CASE WHEN (SELECT acc FROM d3) THEN 'scale' END) AS accepted
       |FROM fin""".stripMargin

  /** Oracle for ts_reduce_xvars: replays EVERY reachable feature subset of
    * the backward elimination over (t, monthsin, monthcos) — one unrolled
    * Cholesky fit per subset, RMSE on the 12-ob holdout, importance =
    * |β|·sd(feature over train) (the standardized-coefficient definition) —
    * then walks the realized drop path with Scala minBy's first-min tie
    * order and the strict-improvement best tracking of
    * AutoSelect.reduceXvars. */
  private def reduceXvarsOracleSql: String = {
    // (feature name in output, SQL column in s2)
    val all = Seq("t" -> "t", "monthsin" -> "ms", "monthcos" -> "mc")
    val subsets: Seq[(String, Seq[(String, String)])] = Seq(
      "a"   -> all,                 // {t, ms, mc}
      "b1"  -> all.filterNot(_._2 == "t"),   // dropped t
      "b2"  -> all.filterNot(_._2 == "ms"),  // dropped monthsin
      "b3"  -> all.filterNot(_._2 == "mc"),  // dropped monthcos
      "c1"  -> all.filter(_._2 == "t"),
      "c2"  -> all.filter(_._2 == "ms"),
      "c3"  -> all.filter(_._2 == "mc"))
    val chains = subsets.map { case (tag, fs) =>
      val cols = fs.map(_._2)
      val pred = "beta_0" + cols.zipWithIndex
        .map { case (c, i) => s" + beta_${i + 1}*$c" }.mkString
      val imps = fs.zipWithIndex.map { case ((_, c), i) =>
        s"any_value(abs(beta_${i + 1}) * sd_$c) AS imp_${tag}_$c" }
      s"""${OracleGen.momentsCte(tag, cols, "tr")},
         |${OracleGen.solveCtes(tag, cols.size)},
         |${tag}_r AS (SELECT sqrt(avg(pow(y - ($pred), 2))) AS rmse_$tag,
         |  ${imps.mkString(", ")} FROM te, ${tag}_fit, sds)""".stripMargin
    }.mkString(",\n")
    val joinAll = subsets.map(s => s"${s._1}_r").mkString(", ")
    s"""$ZS,
       |s2 AS (SELECT series_id, ds, y,
       |  CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t,
       |  sin(pi() * month(ds) / 6.0) AS ms, cos(pi() * month(ds) / 6.0) AS mc
       |  FROM series),
       |nn AS (SELECT count(*) AS n FROM s2),
       |tr AS (SELECT s2.* FROM s2, nn WHERE t <= n - 12),
       |te AS (SELECT s2.* FROM s2, nn WHERE t > n - 12),
       |sds AS (SELECT stddev_samp(t) AS sd_t, stddev_samp(ms) AS sd_ms,
       |        stddev_samp(mc) AS sd_mc FROM tr),
       |$chains,
       |sel AS (SELECT
       |  CASE WHEN imp_a_t <= imp_a_ms AND imp_a_t <= imp_a_mc THEN 1
       |       WHEN imp_a_ms <= imp_a_mc THEN 2 ELSE 3 END AS d1,
       |  CASE d1 WHEN 1 THEN rmse_b1 WHEN 2 THEN rmse_b2 ELSE rmse_b3 END AS s1,
       |  CASE d1 WHEN 1 THEN 'monthsin,monthcos' WHEN 2 THEN 't,monthcos'
       |       ELSE 't,monthsin' END AS set1,
       |  CASE d1 WHEN 1 THEN (CASE WHEN imp_b1_ms <= imp_b1_mc THEN rmse_c3 ELSE rmse_c2 END)
       |          WHEN 2 THEN (CASE WHEN imp_b2_t <= imp_b2_mc THEN rmse_c3 ELSE rmse_c1 END)
       |          ELSE (CASE WHEN imp_b3_t <= imp_b3_ms THEN rmse_c2 ELSE rmse_c1 END)
       |  END AS s2v,
       |  CASE d1 WHEN 1 THEN (CASE WHEN imp_b1_ms <= imp_b1_mc THEN 'monthcos' ELSE 'monthsin' END)
       |          WHEN 2 THEN (CASE WHEN imp_b2_t <= imp_b2_mc THEN 'monthcos' ELSE 't' END)
       |          ELSE (CASE WHEN imp_b3_t <= imp_b3_ms THEN 'monthsin' ELSE 't' END)
       |  END AS set2,
       |  rmse_a AS s0 FROM $joinAll),
       |sel2 AS (SELECT *,
       |  CASE WHEN s1 < s0 THEN s1 ELSE s0 END AS b2s,
       |  CASE WHEN s1 < s0 THEN set1 ELSE 't,monthsin,monthcos' END AS b2set
       |  FROM sel)
       |SELECT CASE WHEN s2v < b2s THEN set2 ELSE b2set END AS features_kept,
       |       ROUND(CASE WHEN s2v < b2s THEN s2v ELSE b2s END, 6) AS rmse
       |FROM sel2""".stripMargin
  }

  /** Shared trend+seasonal-OLS scoring SQL: train = all but last 12 observed,
    * horizon = 12 future months; `tail` appends the final SELECT. */
  private def trendSeasonalSql(tail: String): String =
    s"""$S, s2 AS (SELECT series_id, ds, y,
       |    CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
       |nn AS (SELECT count(*) AS n, max(ds) AS last_ds FROM s2),
       |train AS (SELECT s2.* FROM s2, nn WHERE t <= n - 12),
       |fit AS (SELECT regr_slope(y, t) AS b, regr_intercept(y, t) AS a FROM train),
       |eff AS (SELECT month(ds) AS m, avg(y - (a + b * t)) AS e
       |        FROM train, fit GROUP BY 1),
       |allrows AS (
       |  SELECT series_id, ds, y, t, t > (SELECT n FROM nn) - 12 AS is_test,
       |         FALSE AS is_future FROM s2
       |  UNION ALL
       |  SELECT 'orders', CAST(last_ds + to_months(CAST(i AS INT)) AS DATE),
       |         CAST(NULL AS DOUBLE), n + i, FALSE, TRUE
       |  FROM nn, generate_series(1, 12) t(i)),
       |scored AS (
       |  SELECT r.series_id, r.ds, r.y, r.is_test, r.is_future,
       |         a + b * r.t + coalesce(eff.e, 0.0) AS yhat
       |  FROM allrows r CROSS JOIN fit LEFT JOIN eff ON eff.m = month(r.ds))
       |$tail""".stripMargin
}
