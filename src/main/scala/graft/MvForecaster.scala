package graft

import graft.core.SeriesFrame._
import graft.models.{BlockedVar, MvForecast}
import graft.results.ResultsStore
import org.apache.spark.sql.{DataFrame, GraftCheckpoint}
import org.apache.spark.sql.functions._

/** User-facing multivariate facade mirroring the reference's `MVForecaster`
  * workflow (/root/reference/src/scalecast/MVForecaster.py:34-176): several
  * series modeled jointly, every target on the lags of all (or screened)
  * series, a shared recursive forecast, per-series banking and exports.
  * Like [[Forecaster]], every step returns a NEW immutable value over lazy
  * plans:
  *
  * {{{
  *   val mv = MvForecaster(frame, Seq("a", "b"))   // long (series_id, ds, y)
  *     .generateFutureDates(6)
  *     .setTestLength(6)
  *     .setLags(2)
  *     .manualForecast(callMe = "mv_mlr")
  *   mv.exportModelSummaries()
  * }}}
  *
  * Horizon and holdout are recorded as intents and applied inside
  * [[manualForecast]] AFTER `line_up_dates` trims every series to the shared
  * calendar (multiseries.py:39-53) — the MV contract is one date spine, and
  * trimming after horizon generation would silently drop the future rows.
  *
  * Estimation strategy follows the engine's scale tiers automatically:
  * coupled sets up to [[MvForecast.CoupledSetMax]] fit the full cross-lag
  * design ([[MvForecast.fitPerSeriesOls]] — one grouped moments job);
  * larger sets route through [[BlockedVar]]'s correlation-screened bounded
  * designs with the component-parallel recursion (ONE fit shared between
  * the horizon walk and the fitted-values pass). `optimize_on` collapse
  * for model selection is [[graft.eval.Evaluation.optimizeOn]].
  */
final case class MvForecaster(
    frame: DataFrame,
    seriesIds: Seq[String],
    bank: Option[ResultsStore.Banked] = None,
    lags: Int = 1,
    horizon: Int = 0,
    testLength: Int = 0,
    maxSources: Int = 3,
    minAbsCorr: Double = 0.0,
    approxScreen: Boolean = false,
    optimizeHow: String = "mean",
    optimizeWeights: Map[String, Double] = Map.empty,
    bestModel: Option[String] = None,
    cilevel: Double = 0.95) {

  /** `set_cilevel` (conformal CIs need testLength ≥ 1/(1−cilevel)). */
  def setCilevel(level: Double): MvForecaster = copy(cilevel = level)

  /** `generate_future_dates(h)` — recorded, materialized at the inferred
    * frequency on the aligned calendar inside [[manualForecast]]. */
  def generateFutureDates(h: Int): MvForecaster = copy(horizon = h)

  /** `lags = n` (MVForecaster.py:68-176 ctor arg): cross-series lag depth. */
  def setLags(n: Int): MvForecaster = copy(lags = n)

  /** `set_test_length` — recorded; the flag is stamped on the aligned frame
    * so the holdout is the last n rows of the SHARED calendar. */
  def setTestLength(n: Int): MvForecaster = copy(testLength = n)

  /** Blocked-tier knobs (only consulted past the coupled-set bound).
    * `approx = true` routes source selection through
    * [[BlockedVar.screenApprox]] — the ANN-screened 10⁶-series path that
    * never pays the nSeries² correlation pass (requires minAbsCorr > 0). */
  def setScreen(maxSources: Int, minAbsCorr: Double = 0.0,
                approx: Boolean = false): MvForecaster =
    copy(maxSources = maxSources, minAbsCorr = minAbsCorr, approxScreen = approx)

  /** `set_optimize_on` (MVForecaster.py:412-444): how per-series metrics
    * collapse to one scalar when choosing between models — "mean" / "min" /
    * "max" / "weighted" (with weights) / a series_id to favor. */
  def setOptimizeOn(how: String, weights: Map[String, Double] = Map.empty): MvForecaster =
    copy(optimizeHow = how, optimizeWeights = weights)

  /** `chop_from_front` (MVForecaster.py:292-318) applied to every series. */
  def chopFromFront(n: Int): MvForecaster =
    copy(frame = graft.core.SeriesFrame.chopFromFront(frame, n))

  /** `keep_smaller_history` (MVForecaster.py:320-352). */
  def keepSmallerHistory(n: Int): MvForecaster =
    copy(frame = graft.core.SeriesFrame.keepSmallerHistory(frame, n))

  /** The estimation base: observed rows trimmed to the all-series calendar,
    * THEN the horizon appended, THEN the holdout flagged. */
  private def base: DataFrame = {
    val withFut = if (frame.columns.contains(IsFuture)) frame
      else frame.withColumn(IsFuture, lit(false))
    val aligned = lineUpDates(withFut.filter(!col(IsFuture)).drop("is_test"))
      .select(col(SeriesId), col(Ds), col(Y), col(IsFuture))
    val horizoned =
      if (horizon > 0) withInferredHorizon(aligned, horizon) else aligned
    withTestFlag(horizoned, testLength)
  }

  /** `manual_forecast`: fit one equation per target on the cross-series
    * lags (train rows only), walk the coupled recursion over the horizon,
    * bank under `callMe`. */
  def manualForecast(callMe: String = "mv"): MvForecaster = {
    val scored = score(GraftCheckpoint.materialize(base))
    // per-series conformal CIs when the holdout supports the cilevel —
    // MVForecaster._set_cis (MVForecaster.py:446-511), same gate as the
    // univariate facade
    val withCis =
      if (testLength >= graft.operators.Conformal.minTestLength(cilevel))
        graft.operators.Conformal.withIntervals(scored, "yhat", cilevel)
      else scored
    copy(bank = Some(bank.fold(ResultsStore.Banked.of(withCis, callMe))(_.add(withCis, callMe))))
  }

  /** The estimation core shared by [[manualForecast]] and [[backtest]]:
    * score an already-flagged frame (is_test set, horizon rows optional)
    * through the coupled or blocked tier. Test-row predictions are static
    * one-step cross-lag predictions; future rows walk the coupled
    * recursion — the banked-results convention. */
  private def score(b: DataFrame): DataFrame = {
    val outCols = Seq(col(SeriesId), col(Ds), col(Y), col("yhat"),
      col("is_test"), col(IsFuture))
    if (seriesIds.size <= MvForecast.CoupledSetMax) {
      val withLags = MvForecast.addCrossSeriesLags(b, seriesIds, lags)
      val fits = MvForecast.fitPerSeriesOls(withLags, seriesIds, lags)
      MvForecast.dynamicForecastOls(withLags, fits, seriesIds, lags)
        .select(outCols: _*)
    } else {
      val (fits, block) =
        if (approxScreen)
          BlockedVar.fitWithBlock(b,
            BlockedVar.screenApprox(b, maxSources, minAbsCorr)
              .localCheckpoint(false),
            lags, maxSources)
        else BlockedVar.fit(b, lags, maxSources, minAbsCorr)
      val fitted = BlockedVar
        .fittedValuesWith(b, fits, block, lags, maxSources)
        .join(b.select(col(SeriesId), col(Ds), col("is_test")),
          Seq(SeriesId, Ds), "left")
        .withColumn(IsFuture, lit(false))
      val future = BlockedVar
        .dynamicForecastWith(b, fits, block, lags, maxSources)
        .withColumn(Y, lit(null).cast("double"))
        .withColumn("is_test", lit(false))
        .withColumn(IsFuture, lit(true))
      fitted.select(outCols: _*).unionByName(future.select(outCols: _*))
    }
  }

  /** `backtest` over the MV frame (util.py:112-230 applied to an
    * MVForecaster): [[graft.eval.Evaluation.backtest]] with this
    * forecaster's coupled/blocked scoring as the model — each iteration
    * moves the origin back `jumpBack` rows, refits every cross-lag
    * equation on its train slice, and scores the flagged h-row holdout.
    * Chainable like the univariate [[Forecaster.backtest]]; returns the
    * per-(iter, series) metric frame. */
  def backtest(nIter: Int = 3, h: Int = 12, jumpBack: Int = 6,
               metricNames: Seq[String] = Seq("rmse", "mae"),
               parallelism: Int = 1): DataFrame = {
    val withFut = if (frame.columns.contains(IsFuture)) frame
      else frame.withColumn(IsFuture, lit(false))
    val aligned = lineUpDates(withFut.filter(!col(IsFuture)).drop("is_test"))
      .select(col(SeriesId), col(Ds), col(Y), col(IsFuture))
    graft.eval.Evaluation.backtest(GraftCheckpoint.materialize(aligned), nIter, h,
      jumpBack, flagged => score(flagged.localCheckpoint(true)),
      metricNames, parallelism)
  }

  /** `tune_test_forecast` (MVForecaster.py:354-410) with the engine's
    * hyperparameter axis: candidate cross-lag depths. Each candidate fits
    * on train rows, scores on the holdout, collapses per-series metrics via
    * [[setOptimizeOn]]'s rule; the winner is refit and banked under
    * `callMe` and becomes [[bestModel]]. NaN-scoring cells are skipped —
    * the reference's failed-combo policy. */
  def tuneTestForecast(lagsGrid: Seq[Int], callMe: String = "mv_tuned",
                       metricName: String = "rmse"): MvForecaster = {
    require(testLength > 0,
      "tune_test_forecast needs a holdout — call setTestLength(n) first")
    val lower = graft.functions.Metrics.lowerIsBetter.getOrElse(metricName, true)
    val scores = lagsGrid.map { l =>
      val cand = copy(lags = l, bank = None).manualForecast("__cand")
      l -> cand.optimizeOn("__cand", metricName, optimizeHow, optimizeWeights)
    }
    val valid = scores.filterNot(s => s._2.isNaN || s._2.isInfinite)
    require(valid.nonEmpty,
      s"every candidate in lags grid ${lagsGrid.mkString(",")} scored NaN")
    val best = (if (lower) valid.minBy(_._2) else valid.maxBy(_._2))._1
    copy(lags = best).manualForecast(callMe).copy(bestModel = Some(callMe))
  }

  /** `set_best_model(determine_best_by=...)` (MVForecaster.py:513-534):
    * rank banked models by the collapsed metric, remember the winner. */
  def setBestModel(determineBestBy: String = "test_rmse"): MvForecaster = {
    val metric = determineBestBy.stripPrefix("test_").stripPrefix("insample_")
    val ordered = ResultsStore.orderModels(
      ResultsStore.modelSummaries(banked, Seq(metric)), determineBestBy)
    copy(bestModel = Some(ordered.select("model").first().getString(0)))
  }

  /** The banked results frame, if any model is banked. */
  def results: Option[DataFrame] = bank.map(_.frame)

  private def banked: DataFrame = results.getOrElse(
    throw new IllegalStateException("no model banked yet — call manualForecast first"))

  /** `export('model_summaries')` — one row per (model, series). */
  def exportModelSummaries(metricNames: Seq[String] = Seq("rmse", "mae")): DataFrame =
    ResultsStore.modelSummaries(banked, metricNames)

  /** `export('lvl_fcsts')`. */
  def exportForecasts(): DataFrame = ResultsStore.exportForecasts(banked, modelNames)

  /** Banked model names, sorted — read from the bank, no Spark job. */
  def modelNames: Seq[String] = bank.fold(Seq.empty[String])(_.models.sorted)

  /** `optimize_on` collapse of a banked model's per-series metric rows —
    * defaults to the rule recorded by [[setOptimizeOn]]. */
  def optimizeOn(model: String, metricName: String = "rmse",
                 how: String = this.optimizeHow,
                 weights: Map[String, Double] = this.optimizeWeights): Double =
    graft.eval.Evaluation.optimizeOn(
      ResultsStore.modelSummaries(banked.filter(col("model") === model),
        Seq(metricName)).withColumnRenamed(s"test_$metricName", metricName),
      metricName, how, weights)

  /** `export('lvl_test_set_predictions')`. */
  def exportTestSetPredictions(): DataFrame =
    ResultsStore.exportTestSetPredictions(banked, modelNames)

  /** `export_fitted_vals` (MVForecaster.py:982-1010) for one model —
    * defaults to [[bestModel]], else the first banked name. */
  def exportFittedVals(model: Option[String] = None): DataFrame =
    ResultsStore.exportFittedVals(banked,
      model.orElse(bestModel).getOrElse(modelNames.headOption.getOrElse(
        throw new IllegalStateException("no model banked yet"))))

  /** `break_mv_forecaster` (util.py:232-296): one univariate [[Forecaster]]
    * per series, each carrying its own slice of the frame and of the banked
    * results, so a workflow can continue per series (feature adds,
    * univariate models, exports) after a joint MV fit. Lazy column filters
    * over the same plans — nothing is copied. */
  def breakOut(): Map[String, Forecaster] =
    seriesIds.map { sid =>
      sid -> Forecaster(
        frame.filter(col(SeriesId) === sid),
        bank = bank.map(_.filter(col(SeriesId) === sid)),
        testLength = testLength)
    }.toMap

  /** `corr` — pairwise Pearson matrix (MVForecaster.py:1012-1049). */
  def corr(): DataFrame =
    graft.functions.Diagnostics.corrMatrix(
      if (frame.columns.contains(IsFuture)) frame
      else frame.withColumn(IsFuture, lit(false)))

  /** `corr_lags` passthrough (MVForecaster.py:1051-1074). */
  def corrLags(a: String, b: String, maxLag: Int = 12): DataFrame =
    graft.functions.Diagnostics.corrLags(frame, a, b, maxLag)
}
