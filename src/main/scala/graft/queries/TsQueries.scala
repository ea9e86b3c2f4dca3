package graft
package queries

import graft.OracleGen._
import graft.core.{SeriesFrame, SessionMemo, Tables}
import graft.core.SeriesFrame._
import graft.functions.{FeatureOps, Metrics}
import graft.models.Baselines
import graft.operators.{Conformal, Transforms}
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `ts_*` queries: scalecast's single-series and by-series workflow
  * (build, transform, fit, tune, test, forecast, export) on Spark, each
  * with its DuckDB oracle. */
object TsQueries {

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

  /** ts_tbats_like and ts_tbats_arma fit the IDENTICAL Box-Cox + trend +
    * Fourier curve on the identical frame — fit it once per (session, dir)
    * and checkpoint both the scored curve and the λ params frame (the
    * transform's revert re-reads the params on every consumer otherwise).
    * [[graft.models.TbatsLike.curveFit]] is the single implementation, so
    * the memo can never drift from the unmemoized path. */
  private[graft] def tbatsCurveM(s: SparkSession, d: String)
      : (graft.operators.FittedTransform, DataFrame, Seq[String]) =
    SessionMemo.value(s, d, "tbats_curve") {
      val frame = withMonthlyHorizon(ordersMonthlyM(s, d), 12)
      val (t, curveDf) = graft.models.TbatsLike.curveFit(frame)
      val tChk = t match {
        case e: graft.operators.ExprTransform =>
          e.copy(params = e.params.localCheckpoint(true))
        case other => other
      }
      (tChk, curveDf.localCheckpoint(true), frame.columns.toSeq)
    }

  /** ts_auto_xvar and ts_xvar_replay share the SAME search on the same
    * frame; memoize the selection like the series frames. */
  private def autoXvarSelM(s: SparkSession, d: String): graft.eval.AutoSelect.XvarSelection =
    SessionMemo.value(s, d, "xvar_sel")(
      graft.eval.AutoSelect.autoXvarSelect(zOrdersMonthly(s, d), maxAr = 2, h = 12))

  /** Z-scored BUILDING segment series (the spec-replay target). */
  private[graft] def zSegBuilding(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "zbuilding") {
      val base = segmentMonthlyM(s, d).filter(col(SeriesId) === "BUILDING")
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
    val target = Paths.get(s"/tmp/graft_stream_${name}_${SessionMemo.md5Hex(d)}")
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
    runStream(s, "ts_stream_forecast", "complete", betas)
      .withColumn("_k", explode(sequence(lit(1), lit(6))))
      .withColumn(Ds, add_months(col("_ld"), col("_k")))
      .withColumn("t", months_between(col(Ds), lit("1992-01-01").cast("date")))
      .withColumn("yhat",
        element_at(col("beta"), 1) + element_at(col("beta"), 2) * col("t")
          + element_at(col("beta"), 3) * sin(lit(w1) * col("t"))
          + element_at(col("beta"), 4) * cos(lit(w1) * col("t")))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"))
  }

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

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ts_build_monthly", (s, d) => SeriesFrame.ordersMonthly(s, d),
      s"$S SELECT series_id, ds, y, FALSE AS is_future FROM series"),

    // star-schema series ingest: net revenue per customer nation per month
    QueryDef("ts_build_star", (s, d) => SeriesFrame.nationMonthly(s, d).orderBy(SeriesId, Ds),
      """SELECT n_name AS series_id,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
        |  ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS y,
        |  FALSE AS is_future
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // weekly (ISO Monday-truncated) brand quantity series off lineitem⨝part
    QueryDef("ts_build_brand_weekly", qBuildBrandWeekly,
      """SELECT p_brand AS series_id,
        |  CAST(date_trunc('week', l_shipdate) AS DATE) AS ds,
        |  ROUND(SUM(l_quantity), 2) AS y, FALSE AS is_future
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // hierarchical reconciliation: cents-space history, snaive spine, both
    // reconciliation paths, and the share arithmetic replayed term for term
    QueryDef("ts_reconcile", qReconcile,
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
        |FROM ft JOIN bu_t USING (ds)""".stripMargin),

    QueryDef("ts_ar_terms", qArTerms,
      s"""$S SELECT series_id, ds, y,
         |  lag(y, 1) OVER w AS ar_1, lag(y, 2) OVER w AS ar_2,
         |  lag(y, 3) OVER w AS ar_3, lag(y, 12) OVER w AS ar_12
         |FROM series WINDOW w AS (ORDER BY ds)""".stripMargin),

    QueryDef("ts_calendar", qCalendar,
      s"""$S SELECT series_id, ds,
         |  CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t,
         |  CAST(month(ds) AS DOUBLE) AS month, CAST(quarter(ds) AS DOUBLE) AS quarter,
         |  CAST(year(ds) AS DOUBLE) AS year,
         |  ROUND(sin(pi() * month(ds) / 6.0), 6) + 0.0 AS monthsin,
         |  ROUND(cos(pi() * month(ds) / 6.0), 6) + 0.0 AS monthcos,
         |  ROUND(sin(pi() * (row_number() OVER (ORDER BY ds)) / 6.75), 6) + 0.0 AS cycsin,
         |  ROUND(cos(pi() * (row_number() OVER (ORDER BY ds)) / 6.75), 6) + 0.0 AS cyccos
         |FROM series""".stripMargin),

    QueryDef("ts_naive", qNaive,
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
         |SELECT series_id, ds, y, yhat_naive, yhat_snaive, TRUE AS is_future FROM fut""".stripMargin),

    QueryDef("ts_metrics", qMetrics,
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
         |SELECT model, series_id, n, rmse, mse, mae, smape, mape, r2, bias, abias FROM m""".stripMargin),

    QueryDef("ts_scalers", qScalers,
      s"""$S, p AS (
         |  SELECT avg(y) AS mu, stddev_samp(y) AS sd, min(y) AS lo, max(y) AS hi,
         |         quantile_cont(y, 0.5) AS med,
         |         quantile_cont(y, 0.75) - quantile_cont(y, 0.25) AS iqr
         |  FROM series)
         |SELECT series_id, ds,
         |  ROUND((y - mu) / sd, 6) AS y_scale,
         |  ROUND((y - lo) / (hi - lo), 6) AS y_minmax,
         |  ROUND((y - med) / iqr, 6) AS y_robust
         |FROM series, p""".stripMargin),

    QueryDef("ts_pointwise", qPointwise,
      s"""$S SELECT series_id, ds, y,
         |  ROUND(ln(y), 6) AS y_log,
         |  ROUND(sqrt(y), 6) AS y_sqrt,
         |  ROUND((pow(y, 0.5) - 1) / 0.5, 6) AS y_boxcox
         |FROM series""".stripMargin),

    QueryDef("ts_diff", qDiff,
      s"""$S SELECT series_id, ds, y,
         |  ROUND(y - lag(y, 1) OVER w, 2) AS d1,
         |  ROUND(y - lag(y, 12) OVER w, 2) AS d12
         |FROM series WINDOW w AS (ORDER BY ds)""".stripMargin),

    QueryDef("ts_detrend", qDetrend,
      s"""$S, s2 AS (SELECT series_id, ds, y,
         |    CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
         |fit AS (SELECT regr_slope(y, t) AS b, regr_intercept(y, t) AS a FROM s2)
         |SELECT series_id, ds, y,
         |  ROUND(y - (a + b * t), 0) AS resid,
         |  ROUND(y - (y - (a + b * t)), 0) AS trend
         |FROM s2, fit""".stripMargin),

    QueryDef("ts_deseason", qDeseason,
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
         |FROM s2 JOIN seas ON seas.series_id = s2.series_id AND seas.phase = (s2.rn - 1) % 12""".stripMargin),

    QueryDef("ts_trend_seasonal", qTrendSeasonal,
      trendSeasonalSql(
      "SELECT series_id, ds, y, ROUND(yhat, 0) AS yhat, is_test, is_future FROM scored")),

    QueryDef("ts_conformal", qConformal,
      trendSeasonalSql(
      """, width AS (
        |  SELECT series_id, quantile_cont(abs(y - yhat), 0.95) AS ci_width
        |  FROM scored WHERE is_test GROUP BY 1)
        |SELECT s.series_id, s.ds, ROUND(s.yhat, 0) AS yhat,
        |  ROUND(s.yhat - w.ci_width, 0) AS lower, ROUND(s.yhat + w.ci_width, 0) AS upper,
        |  ROUND(w.ci_width, 0) AS ci_width
        |FROM scored s JOIN width w ON s.series_id = w.series_id WHERE s.is_future""".stripMargin)),

    // grouped conformal: one OLS fit per series via the KEYED moments +
    // solve chain (one CTE chain solves all 5 systems), then one
    // quantile_cont width per series over its own holdout
    QueryDef("ts_conformal_by_series", qConformalBySeries,
      {
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
    }),

    // auto_arima replay: per (p, q) cell, the two Hannan-Rissanen OLS stages
    // (long-AR(L) residuals, then y-lags + innovation-lags) via unrolled
    // Cholesky, AIC = n·ln(sse/n) + 2(p+q+1), argmin in grid order
    QueryDef("ts_auto_arima", qAutoArma,
      {
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
    }),

    // determine_best_series_length replay: per candidate L, AR(1) Cholesky
    // OLS on the kept slice's train rows, holdout RMSE, argmin (list order
    // breaks ties like the reference's scan)
    QueryDef("ts_best_length", qBestLength,
      {
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
    }),

    // find_statistical_transformation replay: ADF(p=1) on the raw series →
    // CASE-gated log + diff(1) → lag-12 ACF significance on the result →
    // CASE-gated seasonal diff(12); output is the transformed series
    QueryDef("ts_stat_transform", qStatTransform,
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
         |SELECT series_id, ds, ROUND(y, 6) AS y FROM s4 WHERE y IS NOT NULL""".stripMargin),

    // transfer_predict: AR(1) OLS fitted on orders train rows scores the
    // BUILDING segment; transfer_cis: the source's 95% test-residual
    // percentile becomes the target's CI width.
    QueryDef("ts_transfer", qTransfer,
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
         |FROM t2, fit, wid WHERE yl IS NOT NULL""".stripMargin),

    // add_signals + mlr stacking: naive/seasonal-naive signals, exact-OLS
    // meta fit over signal-complete rows.
    QueryDef("ts_signals", qSignals,
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, lag(y, 1) OVER (ORDER BY ds) AS sn,
         |       lag(y, 12) OVER (ORDER BY ds) AS ss FROM series),
         |tr AS (SELECT * FROM s2 WHERE sn IS NOT NULL AND ss IS NOT NULL),
         |${OracleGen.momentsCte("mt", Seq("sn", "ss"), "tr")},
         |${OracleGen.solveCtes("mt", 2)}
         |SELECT series_id, ds, ROUND(y, 6) AS y, ROUND(sn, 6) AS signal_naive,
         |  ROUND(ss, 6) AS signal_snaive,
         |  ROUND(beta_0 + beta_1*sn + beta_2*ss, 6) AS yhat
         |FROM tr, mt_fit""".stripMargin),

    QueryDef("ts_reduce_xvars", qReduceXvars,
      reduceXvarsOracleSql),

    QueryDef("ts_auto_xvar", qAutoXvar,
      autoXvarOracleSql),

    QueryDef("ts_xvar_replay", qXvarReplay,
      xvarReplayOracleSql),

    QueryDef("ts_opt_transform", qOptTransform,
      optTransformOracleSql),

    // Classical additive decomposition, m = 12: centered even-period MA
    // (average of the two 12-windows), per-phase means normalized to zero
    // mean, residual where the trend window is complete.
    QueryDef("ts_decompose", qDecompose,
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
         |FROM tr LEFT JOIN pn ON pn.phase = tr.phase""".stripMargin),

    // Full STL replay: two inner iterations of cycle-subseries LOWESS,
    // triple-MA low-pass, and trend LOWESS, each pass a window self-join +
    // closed-form weighted local line (the stl* generators above ZS).
    QueryDef("ts_stl", qStl,
      s"""$ZS,
         |s0 AS (SELECT series_id, ds, y AS v, row_number() OVER (ORDER BY ds) - 1 AS i FROM series),
         |nn AS (SELECT count(*) AS n FROM s0),
         |${stlIteration(1, None)},
         |${stlIteration(2, Some("tr1"))}
         |SELECT s0.series_id, s0.ds, ROUND(tr2.fit, 6) AS trend,
         |       ROUND(seas2.v, 6) AS seasonal,
         |       ROUND(s0.v - tr2.fit - seas2.v, 6) AS resid
         |FROM s0 JOIN tr2 ON tr2.i = s0.i JOIN seas2 ON seas2.i = s0.i""".stripMargin),

    // Direct-DFT periodogram on the z-scored series: one (freq k) bin per
    // k in 1..n/2, power = (re^2 + im^2)/n over mean-centered values.
    QueryDef("ts_periodogram", qPeriodogram,
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
         |GROUP BY 1, 2""".stripMargin),

    // find_seasonal_length: ACF at each candidate period, winner flagged by
    // strict argmax on the unrounded statistic.
    QueryDef("ts_seasonal_length", qSeasonalLength,
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
         |FROM acfs""".stripMargin),

    // grouped find_seasonal_length: one ACF pass over all 5 segment series,
    // per-series argmax (tie-break: smaller period), statistic hash-checked.
    QueryDef("ts_seasonal_length_by_series", qSeasonalLengthBySeries,
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
         |FROM best WHERE rk = 1""".stripMargin),

    // grouped find_optimal_transformation: detrend -> diff1 greedy with
    // per-series accepts; three grouped AR(4) scoring chains (base, detrend
    // candidate, diff candidate over the blended input), per-series detrend
    // fit in closed form, accept CASEs mirror the engine's strict-< + NaN
    // skip policy
    QueryDef("ts_opt_transform_by_series", qOptTransformBySeries,
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
         |SELECT series_id, 'diff1', ROUND(r2, 6), acc2 FROM a2""".stripMargin),

    // grouped auto_Xvar_select: the full 12-candidate staged search run per
    // series — grouped moments chains + a per-series greedy decision tree
    QueryDef("ts_auto_xvar_by_series", qAutoXvarBySeries,
      {
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
    }),

    // grouped find_statistical_transformation decision table: every
    // segment's ADF(p=1) regression solved in ONE grouped Cholesky chain
    // (momentsCte keys = series_id; the solve CTEs are row-wise, so one
    // moments row per series flows through as one fit per series).
    QueryDef("ts_stat_recipes_by_series", qStatRecipesBySeries,
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
         |FROM tt JOIN zp USING (series_id)""".stripMargin),

    // save_feature_importance: |standardized coefficient| = |beta_j| * sd_j
    // of the unstandardized OLS fit; rank by importance desc with the
    // feature-order tiebreak of a stable sort.
    QueryDef("ts_feature_imp", qFeatureImportance,
      {
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
    }),

    // Seasonal ARMA (1,1)x(1,0)_12, additive Hannan-Rissanen: long-AR(16)
    // stage 1 for innovations, stage 2 on y-lags {1,12} + elag {1}; the
    // 12-step horizon recursion carries only the previous prediction (lag-12
    // cells stay observed inside h=12, future innovations are 0).
    QueryDef("ts_sarma", qSarma,
      {
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
    }),

    QueryDef("ts_ar1_mlr", qAr1Mlr,
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
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin),

    // prophet_like: trend + order-2 Fourier OLS; the sin/cos angular
    // coefficients are spliced as the SAME Scala double literals the Spark
    // side uses, so both engines evaluate sin(c*t) on identical bits.
    // tbats_like: λ grid argmax (engine tie-break: earlier candidate = l ASC)
    // → Box-Cox series → trend+Fourier OLS via unrolled Cholesky → revert
    QueryDef("ts_tbats_like", qTbatsLike,
      {
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
    }),

    // tbats_like ∘ ARMA(1,1): the ts_tbats_like oracle extended with the
    // two-stage Hannan–Rissanen replay (ts_arma's shape) on the curve's
    // Box-Cox-scale residuals; per-fit beta aliases (tb*/a*) keep the three
    // solve chains from colliding
    QueryDef("ts_tbats_arma", qTbatsArma,
      {
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
    }),

    // the SQL-surface twin: snaive = lag(12), OLS = k=1 Cholesky chain,
    // metrics = plain aggregates — one row per model
    QueryDef("ts_sql_surface", qSqlSurface,
      {
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
    }),

    QueryDef("ts_prophet_like", qProphetLike,
      {
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
    }),

    // prophet_like changepoint trend: replay the planted slope break, the
    // integer-quantile knots c_j = (8nj)//(10(nCp+1)), the hinge basis, and
    // the 9-feature Cholesky OLS
    QueryDef("ts_prophet_cp", qProphetCp,
      {
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
    }),

    QueryDef("ts_ses", qSes,
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
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin),

    QueryDef("ts_impute", qImpute,
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
        |FROM wv""".stripMargin),

    QueryDef("ts_cv_rolling", qCvRolling,
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
         |FROM te GROUP BY 1, 2""".stripMargin),

    QueryDef("ts_backtest", qBacktest,
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
         |FROM te GROUP BY 1, 2""".stripMargin),

    // backtest_metrics: the ts_backtest math pivoted to (series, metric) ×
    // iter columns; average = (i0+i1+i2)/3 in the same explicit order as the
    // Spark reduce so both engines add identically before rounding.
    QueryDef("ts_backtest_metrics", qBacktestMetrics,
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
         |FROM pv""".stripMargin),

    QueryDef("ts_mase_msis", qMaseMsis,
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
         |  ROUND(msis_num / denom, 6) AS msis FROM agg, den""".stripMargin),

    // train_only scaler: μ/σ from the bounded slice, applied everywhere.
    QueryDef("ts_train_only", qTrainOnly,
      s"""$S,
         |zp AS (SELECT avg(y) AS mu, stddev_samp(y) AS sd FROM series
         |       WHERE ds <= DATE '1999-12-01')
         |SELECT series_id, ds, ROUND((y - mu) / sd, 6) AS y_scaled
         |FROM series, zp""".stripMargin),

    // ingest_Xvars_df: dummies from the sorted category levels + 0-padding
    // for the 6 trailing dates the regressor frame does not cover.
    QueryDef("ts_ingest_xvars", qIngestXvars,
      s"""$S,
         |xv AS (SELECT ds, CAST(month(ds) AS DOUBLE) AS mnum,
         |       CASE WHEN month(ds) % 2 = 0 THEN 'even' ELSE 'odd' END AS season,
         |       row_number() OVER (ORDER BY ds DESC) AS rb FROM series),
         |xt AS (SELECT * FROM xv WHERE rb > 6)
         |SELECT s.series_id, s.ds, s.y,
         |  coalesce(xt.mnum, 0.0) AS mnum,
         |  coalesce(CASE WHEN xt.season = 'even' THEN 1.0 ELSE 0.0 END, 0.0) AS season_even,
         |  coalesce(CASE WHEN xt.season = 'odd' THEN 1.0 ELSE 0.0 END, 0.0) AS season_odd
         |FROM series s LEFT JOIN xt ON xt.ds = s.ds""".stripMargin),

    // export_fitted_vals: snaive fitted values over the train slice.
    QueryDef("ts_export_fitted", qExportFitted,
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS t,
         |       lag(y, 12) OVER (ORDER BY ds) AS fv FROM series),
         |nn AS (SELECT count(*) AS n FROM s2)
         |SELECT series_id, ds, ROUND(y, 6) AS actuals, ROUND(fv, 6) AS fitted_vals,
         |  ROUND(y - fv, 6) AS residuals
         |FROM s2, nn WHERE t <= n - 12 AND fv IS NOT NULL""".stripMargin),

    // combo: simple average + metric-weighted (worst→best reversal collapses
    // to f1·(r2/t) + f2·(r1/t) — the worse model always takes the other's
    // rmse share).
    QueryDef("ts_combo", qCombo,
      s"""$ZS,
         |l AS (SELECT series_id, ds, y, lag(y, 1) OVER (ORDER BY ds) AS f1,
         |      lag(y, 12) OVER (ORDER BY ds) AS f2 FROM series),
         |f AS (SELECT * FROM l WHERE f1 IS NOT NULL AND f2 IS NOT NULL),
         |w AS (SELECT sqrt(avg(pow(y - f1, 2))) AS r1,
         |      sqrt(avg(pow(y - f2, 2))) AS r2 FROM f)
         |SELECT series_id, ds, ROUND(y, 6) AS y,
         |  ROUND((f1 + f2) / 2, 6) AS combo_avg,
         |  ROUND(f1 * (r2 / (r1 + r2)) + f2 * (r1 / (r1 + r2)), 6) AS combo_w
         |FROM f, w""".stripMargin),

    // ADF(p=1): OLS of Δy on [1, y_(t−1), Δy_(t−1)] via Cholesky; the γ
    // standard error needs (X'X)⁻¹[1][1] — computed from the 3×3 cofactor.
    QueryDef("ts_adf", qAdf,
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
         |FROM fin""".stripMargin),

    // D'Agostino-Pearson K²: population g1/g2 from raw central-moment
    // averages (matches Spark's skewness/kurtosis, NOT DuckDB's
    // sample-corrected builtins), z-score algebra chained through CTEs.
    QueryDef("ts_normality", qNormality,
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
         |  ROUND(exp(-(zs*zs + zk*zk)/2), 6) AS pvalue FROM k5""".stripMargin),

    // PACF lags 1..3: Durbin-Levinson unrolled in closed form over the
    // unrounded ACF values (φ11 = r1; φ22, φ33 the textbook recursions).
    QueryDef("ts_pacf", qPacf,
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
         |UNION ALL SELECT 'orders', 3, ROUND(phi33, 6) FROM p4""".stripMargin),

    QueryDef("ts_acf", qAcf,
      s"""$S, s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS rn FROM series),
         |mu AS (SELECT avg(y) AS mu, count(*) AS n FROM s2),
         |c AS (SELECT series_id, rn, y - mu AS c FROM s2, mu),
         |d AS (SELECT sum(c * c) AS d FROM c)
         |SELECT a.series_id, g.k AS lag,
         |  ROUND(sum(a.c * b.c) / (SELECT d FROM d), 6) AS acf
         |FROM generate_series(1, 12) g(k)
         |JOIN c a ON a.rn > g.k
         |JOIN c b ON b.rn = a.rn - g.k AND b.series_id = a.series_id
         |GROUP BY 1, 2""".stripMargin),

    QueryDef("ts_model_summaries", qModelSummaries,
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
         |FROM ins JOIN tes ON tes.model = ins.model AND tes.series_id = ins.series_id""".stripMargin),

    QueryDef("ts_synthesize", qSynthesize,
      zTrendSeasonalForecastSql(
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
        |FROM syn""".stripMargin)),

    // Hannan–Rissanen ARMA(1,1): stage-1 long-AR(6) OLS via unrolled Cholesky
    // (OracleGen), residuals as innovation estimates, stage-2 OLS on
    // (y-lag, resid-lag), flat-innovation horizon recursion in closed form.
    QueryDef("ts_arma", qArma,
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
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin),

    // Additive Holt-Winters (α=.3, β=.1, γ=.2, m=12), classical first-cycle
    // init: the level/trend recursion runs in a recursive CTE; the seasonal
    // array rides along as a rotating LIST (head = current season, updated
    // value appended to the tail), so seas[1] is always this step's index.
    QueryDef("ts_holtwinters", qHoltWinters,
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
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin),

    // HW grid search: all 9 (α, β, γ) recursions advance in ONE recursive
    // CTE (the grid point is part of the state), SSE accumulates in time
    // order, argmin at the end — mirrors holtWintersGridSearch exactly.
    QueryDef("ts_hw_opt", qHwOpt,
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
         |FROM fin ORDER BY sse, a, b, g LIMIT 1""".stripMargin),

    // AR(3) OLS (Cholesky) + 12-step dynamic recursion carrying the last
    // three predictions through a recursive CTE.
    QueryDef("ts_ar3_dynamic", qAr3Dynamic,
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
         |FROM rec, nn WHERE i >= 1""".stripMargin),

    // The SQL-surface twin (graft_ols_fit + LATERAL VIEW graft_forecast)
    // replays with the IDENTICAL chain as ts_ar3_dynamic: same AR(3) fit
    // rows, same 12-step recursive CTE carrying the last three predictions.
    QueryDef("ts_sql_forecast", qSqlForecast,
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
         |FROM rec, nn WHERE i >= 1""".stripMargin),

    // dynamic_testing=4: AR(1) OLS fit on train; each 4-step test chunk
    // recurses from the actual value preceding the chunk (closed form).
    QueryDef("ts_mlr_dynk4", qMlrDynK4,
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
         |FROM seeded, fit""".stripMargin),

    // Row-range ops: last 48 observations minus the final 6.
    QueryDef("ts_history_ops", qHistoryOps,
      s"""$S,
         |s2 AS (SELECT series_id, ds, y,
         |       row_number() OVER (ORDER BY ds DESC) AS rb FROM series)
         |SELECT series_id, ds, ROUND(y, 2) AS y
         |FROM s2 WHERE rb <= 48 AND rb > 6""".stripMargin),

    // Dynamic per-step conformal: backtest iteration i tests rows
    // t ∈ (n−6i−6, n−6i] against the seasonal naive; width(step) = 95th
    // quantile_cont of |resid| across iterations; bounds on the 6-step
    // seasonal-naive forecast.
    QueryDef("ts_dynamic_ci", qDynamicCi,
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
         |FROM fut JOIN w ON w.s = fut.s""".stripMargin),

    // The by-series twin of ts_dynamic_ci: the identical 3-iteration
    // seasonal-naive backtest and per-step 95th quantile_cont, GROUPED by
    // segment — every window, count, and residual join keys on series_id.
    QueryDef("ts_dynamic_ci_by_series", qDynamicCiBySeries,
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
         |FROM fut JOIN w ON w.series_id = fut.series_id AND w.s = fut.s""".stripMargin),

    // Streaming per-series fit (graft_ols_fit state over the series
    // stream) == the batch fit: grouped Cholesky chain on the identical
    // calendar-anchored trend + Fourier features, 6-month horizon.
    QueryDef("ts_stream_forecast", qStreamForecast,
      {
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
    }),

    // Validation grid: (AR order, trend) × 2 rolling folds. Chopping removes
    // rows from the END, so row numbers / lags of surviving rows are the
    // full-series ones — one lagd CTE serves every fold via t-range filters.
    QueryDef("ts_validation_grid", qValidationGrid,
      {
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
    }),

    // Pooled AR(1) over 5 z-scored segment series; recursion per series is
    // the AR(1) closed form seeded from each series' last observation.
    QueryDef("ts_seg_dynamic", qSegDynamic,
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
         |FROM seed s, fit, generate_series(1, 6) g(i)""".stripMargin),

    // Theta (θ=2): Z0 = per-series OLS trend, Z2 = 2y − Z0, ŷ = (Z0 + SES(Z2))/2;
    // SES via the ts_ses closed-form unroll with α=0.3.
    QueryDef("ts_theta", qTheta,
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
         |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin),

    // Quadratic detrend: 3-basis OLS (1, t, t²) via the Cholesky CTE chain;
    // y_detrended = y − (β0 + β1·t + β2·t²).
    QueryDef("ts_detrend_poly", qDetrendPoly,
      s"""$ZS,
         |s2 AS (SELECT series_id, ds, y,
         |       CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
         |${OracleGen.momentsCte("dp", Seq("t", "t*t"), "s2")},
         |${OracleGen.solveCtes("dp", 2)}
         |SELECT series_id, ds,
         |  ROUND(y - (beta_0 + beta_1 * t + beta_2 * (t*t)), 6) AS y_detrended
         |FROM s2, dp_fit""".stripMargin),

    // Yeo-Johnson candidate-grid MLE: λ over -2.0..2.0 step 0.1; profile
    // log-likelihood -(n/2)·ln(var ψ) + (λ-1)·Σ sign(y)·ln(|y|+1), argmax
    // with the smallest-λ tie-break (mirrors the Scala candidates order).
    QueryDef("ts_yeojohnson", qYeoJohnson,
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
         |FROM series s, best b""".stripMargin),

    // Weekly series + naive: checks the weekly horizon spine (ds + 7·i days)
    // that frequency inference must produce.
    QueryDef("ts_weekly_naive", qWeeklyNaive,
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
        |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin)
  )
}
