package graft

import graft.core.SeriesFrame._
import graft.functions.FeatureOps
import graft.models._
import graft.operators.Conformal
import graft.results.ResultsStore
import org.apache.spark.sql.{DataFrame, GraftCheckpoint}
import org.apache.spark.sql.functions._

/** User-facing facade mirroring the reference's `Forecaster` workflow
  * (/root/reference/src/scalecast/Forecaster.py:44-208): build a series,
  * generate future dates, add regressors, pick an estimator, call
  * `manualForecast`, export. Unlike the reference's mutable object, every
  * step returns a NEW immutable Forecaster (frames are lazy plans, except
  * that `setTestLength` runs the prepared frame once into a leaf) — the
  * same call sequence a scalecast user writes, over the distributed engine:
  *
  * {{{
  *   val f = Forecaster(series)                 // long (series_id, ds, y)
  *     .generateFutureDates(12)                 // infer freq, spine horizon
  *     .setTestLength(12)                       // temporal holdout
  *     .addArTerms(3).addTimeTrend()            // regressors
  *     .setEstimator("mlr")
  *     .manualForecast(callMe = "mlr_ar3")      // fit + dynamic predict + bank
  *     .setEstimator("hwes", Map("alpha" -> 0.3, "beta" -> 0.1,
  *                               "gamma" -> 0.2, "m" -> 12))
  *     .manualForecast(callMe = "hw")
  *   f.exportModelSummaries()                   // per (model, series) metrics
  *   f.exportForecasts()                        // horizon pivot, one col/model
  * }}}
  *
  * Estimator registry routed here: the MLlib family + prophet_like + knn
  * (AR features drive the recursive ledger predictor), the closed-form
  * models (naive/snaive/trend_seasonal/theta/ses/hwes/arima), and `combo`
  * over already-banked models. svr/mlp raise the registry's explicit
  * unsupported error.
  */
final case class Forecaster(
    frame: DataFrame,
    bank: Option[ResultsStore.Banked] = None,
    estimator: String = "mlr",
    params: Map[String, Double] = Map.empty,
    normalizer: String = "none",
    comboModels: Seq[String] = Nil,
    dynamicTesting: Int = Int.MaxValue,
    testLength: Int = 0,
    cilevel: Double = 0.95,
    specs: Seq[graft.functions.FeatureSpec] = Nil) {

  import graft.functions.FeatureSpec

  /** Every feature-building `add*`/`dropRegressors` call records its
    * [[graft.functions.FeatureSpec]] here, so the chain is replayable —
    * `infer_apply_Xvar_selection` by construction (util.py:343-388): build
    * features on series A, then `b.applySpecs(a.specs)` reproduces the
    * exact feature columns on series B. Data-ingest steps (`addSeries`,
    * `ingestXvars`) are not feature recipes and are not recorded. */
  private def record(sp: FeatureSpec): Forecaster =
    copy(frame = sp(frame), specs = specs :+ sp)

  /** Replay a recorded feature chain (typically another Forecaster's
    * `specs`, or specs loaded from a [[graft.results.PipelineStore]]). */
  def applySpecs(ss: Seq[FeatureSpec]): Forecaster = ss.foldLeft(this)(_.record(_))

  private def p(name: String, default: Double): Double = params.getOrElse(name, default)

  // ---- spine / holdout ------------------------------------------------
  /** `generate_future_dates` at the inferred (or given) frequency. */
  def generateFutureDates(h: Int, freq: Option[String] = None): Forecaster =
    copy(frame = freq.fold(withInferredHorizon(frame, h))(f => withHorizon(frame, h, f)))

  /** `set_test_length`: flags the trailing rows per series as the holdout.
    * This completes the prepared frame (spine + flag), which every later
    * query reads — tune folds, each model, the conformal widths, combo and
    * every export — so it is run once here (one job) into a leaf
    * ([[org.apache.spark.sql.GraftCheckpoint.materialize]]) instead of
    * being re-derived, and recompiled, by each of them. */
  def setTestLength(n: Int): Forecaster =
    copy(frame = GraftCheckpoint.materialize(withTestFlag(frame.drop("is_test"), n)),
      testLength = n)

  /** `set_cilevel` (needs testLength ≥ 1/(1−cilevel) for conformal CIs). */
  def setCilevel(level: Double): Forecaster = copy(cilevel = level)

  /** `dynamic_testing = k` peeking cadence for test-slice evaluation. */
  def setDynamicTesting(k: Int): Forecaster = copy(dynamicTesting = k)

  // ---- regressors (each records its replayable spec) ------------------
  def addArTerms(n: Int): Forecaster = record(FeatureSpec.ArTerms(n))
  def addSeasonalArTerms(n: Int, m: Int): Forecaster =
    record(FeatureSpec.SeasonalArTerms(n, m))
  def addTimeTrend(called: String = "t"): Forecaster =
    record(FeatureSpec.TimeTrend(called))
  def addSeasonalRegressors(parts: String*): Forecaster =
    record(FeatureSpec.Calendar(parts))
  def addFourier(raw: String, cycleLen: Double, name: String): Forecaster =
    record(FeatureSpec.Fourier(raw, cycleLen, name))
  def addCycle(cycleLen: Double, called: String): Forecaster =
    record(FeatureSpec.Cycle(cycleLen, called))
  def addSeries(values: Seq[Double], called: String,
                firstDate: Option[String] = None, pad: Boolean = true): Forecaster =
    copy(frame = graft.core.SeriesFrame.addSeries(frame, values, called, firstDate, pad))
  def ingestXvars(xvars: DataFrame, dateCol: String = "ds", pad: Boolean = true): Forecaster =
    copy(frame = graft.core.SeriesFrame.ingestXvars(frame, xvars, dateCol, pad))
  def dropRegressors(cols: String*): Forecaster = record(FeatureSpec.DropCols(cols))
  /** `add_other_regressor`: 0/1 dummy over a date interval. */
  def addOtherRegressor(start: String, end: String, called: String): Forecaster =
    record(FeatureSpec.IntervalDummy(start, end, called))
  /** `add_covid19_regressor` (_Forecaster_parent.py:509-533): the named
    * interval dummy with the reference's default start/end dates. */
  def addCovid19Regressor(called: String = "COVID19",
                          start: String = "2020-03-15",
                          end: String = "2021-05-13"): Forecaster =
    addOtherRegressor(start, end, called)
  /** `add_combo_regressors`: elementwise product term. */
  def addComboRegressors(cols: String*): Forecaster =
    record(FeatureSpec.ComboTerms(cols))
  /** `add_poly_terms` / `add_exp_terms` / `add_logged_terms`. */
  def addPolyTerms(pwr: Int, cols: String*): Forecaster =
    record(FeatureSpec.PolyTerms(cols, pwr))
  def addExpTerms(pwr: Double, cols: String*): Forecaster =
    record(FeatureSpec.ExpTerms(cols, pwr))
  def addLoggedTerms(cols: String*): Forecaster =
    record(FeatureSpec.LoggedTerms(cols))

  // ---- history ops ----------------------------------------------------
  /** `chop_from_front`: drop the last n observed rows per series. */
  def chopFromFront(n: Int): Forecaster =
    copy(frame = graft.core.SeriesFrame.chopFromFront(frame, n))
  /** `keep_smaller_history` (≡ `chop_from_back` keeping the newest n). */
  def keepSmallerHistory(n: Int): Forecaster =
    copy(frame = graft.core.SeriesFrame.keepSmallerHistory(frame, n))

  // ---- estimator selection -------------------------------------------
  def setEstimator(name: String, params: Map[String, Double] = Map.empty,
                   normalizer: String = "none"): Forecaster =
    copy(estimator = name, params = params, normalizer = normalizer)

  def setComboModels(models: String*): Forecaster = copy(comboModels = models)

  // ---- the core "query" ----------------------------------------------
  /** `manual_forecast`: fit the selected estimator, predict the test slice
    * (peeking cadence `dynamicTesting`) and the horizon (full recursion for
    * AR features; vectorized otherwise), attach conformal CIs when the
    * holdout supports the cilevel, and bank under `callMe`. */
  def manualForecast(callMe: String = ""): Forecaster = {
    val name = if (callMe.nonEmpty) callMe else estimator
    val scored = scoreCurrent()
    val withCis =
      if (testLength >= Conformal.minTestLength(cilevel))
        Conformal.withIntervals(scored, "yhat", cilevel)
      else scored
    copy(bank = Some(bank.fold(ResultsStore.Banked.of(withCis, name))(_.add(withCis, name))))
  }

  private def scoreCurrent(): DataFrame = {
    val flagged = if (frame.columns.contains("is_test")) frame
                  else frame.withColumn("is_test", lit(false))
    estimator match {
      case "naive"  => Baselines.naiveForecast(flagged, p("m", 1.0).toInt)
      case "snaive" => Baselines.naiveForecast(flagged, p("m", 12.0).toInt)
      case "trend_seasonal" => Baselines.trendSeasonal(flagged)
      case "theta"  => Theta.thetaForecast(flagged, p("alpha", 0.3))
      // the smoothing recursions return the canonical 4-column shape —
      // re-attach the holdout flag so conformal CIs and summaries see it
      case "ses"    => attachTest(Smoothing.ses(flagged, p("alpha", 0.3)), flagged)
      case "hwes"   => attachTest(Smoothing.holtWinters(flagged, p("alpha", 0.3),
        p("beta", 0.1), p("gamma", 0.2), p("m", 12.0).toInt), flagged)
      case "arima"  =>
        val fit = Arima.fitArma(flagged, p("p", 1.0).toInt, p("q", 1.0).toInt)
        Arima.forecast(fit)
      case "tbats_like" =>
        // multiple seasonal periods via m, m2, m3 params (0 = unused);
        // arma_p/arma_q > 0 switch on the ARMA error correction
        val periods = Seq(p("m", 12.0), p("m2", 0.0), p("m3", 0.0)).filter(_ > 0)
        val (ap, aq) = (p("arma_p", 0.0).toInt, p("arma_q", 0.0).toInt)
        if (ap > 0 || aq > 0)
          TbatsLike.forecastArma(flagged, periods, p("fourier_order", 2.0).toInt, ap, aq)
        else TbatsLike.forecast(flagged, periods, p("fourier_order", 2.0).toInt)
      case "prophet_like" =>
        // prophet builds its own trend/changepoint/Fourier structure; user
        // features ride along as extra regressors (prophet's holidays /
        // add_regressor), EXCLUDING generated-name collisions and AR lags
        // (prophet has no AR channel, and lag columns are NULL on the
        // horizon — they'd null the vectorized prediction)
        val fo = p("fourier_order", 2.0).toInt
        // generated-name collisions match the NAME PATTERN, not just the
        // names reachable at the current fourier_order: a user feature
        // called e.g. p3sin would otherwise be clobbered by ProphetLike's
        // withColumn when fourier_order >= 3 instead of excluded
        val extra = featureCols.filterNot(c => c == "t" ||
          c.matches("p\\d+(sin|cos)") ||
          c.matches("cp\\d+") || c.startsWith(FeatureOps.ArPrefix))
        ProphetLike.forecast(flagged, p("m", 12.0), fo, extra,
          p("n_changepoints", 0.0).toInt)
      case "combo"  =>
        require(comboModels.nonEmpty && results.isDefined,
          "combo needs setComboModels(...) over already-banked models")
        ResultsStore.synthesize(results.get, comboModels, cilevel)
      case "knn" =>
        val feats = featureCols
        predictWithModel(flagged, KnnRegressor.fit(flagged, feats, p("k", 5.0).toInt))
      // the reference's TF-Keras recurrent nets (models.py:561-878): native
      // direct multi-horizon seq2vec — see [[graft.models.RnnNet]]. The net's
      // output width spans both the horizon and the holdout, so the test
      // window and the forecast are each ONE direct prediction.
      case cell @ ("rnn" | "lstm") =>
        val feats = featureCols
        require(feats.nonEmpty,
          s"$cell needs feature columns — addArTerms(n) builds the lag sequence")
        val h = flagged.filter(col(IsFuture)).groupBy(col(SeriesId)).count()
          .agg(max("count")).collect().headOption
          .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0).toInt))
          .getOrElse(0)
        val width = math.max(math.max(h, testLength), 1)
        val m = RnnNet.fit(flagged, feats, cell, width,
          units = p("units", 8.0).toInt, alpha = p("alpha", 1e-4),
          maxIter = p("maxiter", 200.0).toInt, seed = p("seed", 42.0).toLong)
        RnnNet.scoreFrame(flagged, m, feats)
      case algo =>
        val model = MllibTsEstimator(algo, featureCols, params, normalizer).fit(flagged)
        predictWithModel(flagged, model)
    }
  }

  private def attachTest(scored: DataFrame, flagged: DataFrame): DataFrame =
    if (scored.columns.contains("is_test")) scored
    else scored.join(flagged.select(col(SeriesId), col(Ds), col("is_test")),
      Seq(SeriesId, Ds), "left")

  /** Every non-meta column is a feature (the reference's Xvars). */
  private def featureCols: Seq[String] = {
    val meta = Set(SeriesId, Ds, Y, IsFuture, "is_test")
    frame.columns.filterNot(meta.contains).toSeq
  }

  private def predictWithModel(flagged: DataFrame,
                               model: org.apache.spark.ml.Transformer): DataFrame = {
    val hasAr = FeatureOps.arCols(flagged).nonEmpty
    val hasTest = testLength > 0
    if (!hasAr) {
      model.transform(flagged).drop("_fraw", "_f")
    } else {
      // test slice with the peeking cadence; horizon with the full recursion
      // (ledger seeded from ALL observed actuals, like the reference's
      // refit-on-full-history forecast step)
      val k = math.min(math.max(dynamicTesting, 1), math.max(testLength, 1))
      val testScored =
        if (hasTest) Recursive.dynamicTestForecast(flagged, model, k).filter(col("is_test"))
        else flagged.sparkSession.emptyDataFrame
      val full = Recursive.dynamicForecast(flagged, model)
      if (!hasTest) full
      else full.filter(!col("is_test"))
        .unionByName(testScored.select(full.columns.map(col).toSeq: _*))
    }
  }

  /** `tune`: grid-search the CURRENT estimator's hyperparameters by k-fold
    * rolling-origin CV and keep the winner's params. The closed-form
    * linear family (see [[linearTune]]) scores the whole grid from fold
    * moments in two data passes ([[graft.eval.Evaluation.gridSearchLinear]]);
    * everything else re-runs the full scoring path on each fold's frame per
    * candidate ([[graft.eval.Evaluation.gridSearchDetailed]]). */
  def tune(grid: Seq[Map[String, Double]], k: Int = 3, h: Int = 12,
           metric: String = "rmse", parallelism: Int = 1): Forecaster = {
    import graft.eval.Evaluation
    val observed = frame.filter(!col(IsFuture))
    val cells =
      if (linearTune(grid))
        Evaluation.gridSearchLinear(observed, featureCols, estimator, grid, k, h, metric)
      else {
        val fitWith: Map[String, Double] => Evaluation.ModelFn = ps => { flagged =>
          copy(frame = flagged, params = ps, testLength = h).scoreCurrent()
        }
        Evaluation.gridSearchDetailed(observed, grid, fitWith, k, h, metric, parallelism)
      }
    copy(params = Evaluation.rank(cells, metric).head._1)
  }

  /** Whether [[tune]] takes the one-pass moments path: `mlr` or `ridge`
    * with no normalizer, no AR features (their recursive scoring needs the
    * generic path) and only `alpha` in the grid. Decided from the inputs
    * alone. */
  private[graft] def linearTune(grid: Seq[Map[String, Double]]): Boolean =
    Set("mlr", "ridge")(estimator) && normalizer == "none" &&
      FeatureOps.arCols(frame).isEmpty && grid.forall(_.keySet.subsetOf(Set("alpha")))

  /** `ingest_grid` with no argument (GridGenerator default): the registered
    * or shipped default grid for the CURRENT estimator, NUMERIC AXES ONLY,
    * expanded in deterministic order — `f.tune(f.defaultGrid)`. Grids whose
    * default space includes a normalizer axis (mlr, elasticnet, sgd) tune it
    * via [[defaultGridFull]]/[[tuneFull]]. */
  def defaultGrid: Seq[Map[String, Double]] =
    graft.eval.Grids.gridFor(estimator).expand.map(_._1).distinct

  /** The full (params, normalizer) rows of the current estimator's default
    * grid — what the reference's grid actually spans (its `normalizer` is
    * just another grid key). */
  def defaultGridFull: Seq[(Map[String, Double], String)] =
    graft.eval.Grids.gridFor(estimator).expand

  /** [[tune]] over (params, normalizer) rows — the grid axis the plain
    * `tune` can't carry. Failing cells score NaN and rank last (the
    * reference's failed-combo policy). */
  def tuneFull(grid: Seq[(Map[String, Double], String)], k: Int = 3, h: Int = 12,
               metric: String = "rmse", parallelism: Int = 1): Forecaster = {
    import graft.eval.Evaluation
    val scored = Evaluation.fanOut(grid, parallelism) { case (ps, nm) =>
      val mean = scala.util.Try {
        Evaluation.rollingOriginCV(frame.filter(!col(IsFuture)), k, h,
          flagged => copy(frame = flagged, params = ps, normalizer = nm,
            testLength = h).scoreCurrent(), Seq(metric))
          .agg(avg(col(metric))).first().getDouble(0)
      }.getOrElse(Double.NaN)
      ((ps, nm), mean)
    }
    val lower = graft.functions.Metrics.lowerIsBetter(metric)
    val best = scored.sortBy(s => if (lower) s._2 else -s._2).head._1
    copy(params = best._1, normalizer = best._2)
  }

  /** `auto_forecast` = tune then forecast with the winning params. */
  def autoForecast(grid: Seq[Map[String, Double]], callMe: String = "",
                   k: Int = 3, h: Int = 12, metric: String = "rmse",
                   parallelism: Int = 1): Forecaster =
    tune(grid, k, h, metric, parallelism).manualForecast(callMe)

  /** `cross_validate(k)` (_Forecaster_parent.py:1693-1867), chainable on the
    * facade: rolling-origin CV of the CURRENT estimator/params. Returns the
    * per-(series, fold) metric frame. */
  def crossValidate(k: Int = 3, h: Int = 12,
                    metricNames: Seq[String] = Seq("rmse", "mae"),
                    parallelism: Int = 1): DataFrame = {
    val modelFn: graft.eval.Evaluation.ModelFn =
      flagged => copy(frame = flagged, testLength = h).scoreCurrent()
    graft.eval.Evaluation.rollingOriginCV(frame.filter(!col(IsFuture)), k, h,
      modelFn, metricNames, parallelism)
  }

  /** `backtest` (Pipeline.py:229-359) on the CURRENT estimator: per-iteration
    * holdout metric rows; pivot with `Evaluation.backtestMetrics`. */
  def backtest(nIter: Int = 3, h: Int = 12, jumpBack: Int = 6,
               metricNames: Seq[String] = Seq("rmse", "mae"),
               parallelism: Int = 1): DataFrame = {
    val modelFn: graft.eval.Evaluation.ModelFn =
      flagged => copy(frame = flagged, testLength = h).scoreCurrent()
    graft.eval.Evaluation.backtest(frame.filter(!col(IsFuture)), nIter, h,
      jumpBack, modelFn, metricNames, parallelism)
  }

  /** `auto_Xvar_select` (Forecaster.py:658-1163), chainable: staged search
    * for trend/seasonal/AR structure, then apply the winning features (the
    * full candidate chain is recorded in `specs`; losing candidates are
    * dropped with a recorded DropCols, so a replay reproduces exactly the
    * selected columns). */
  def autoXvarSelect(maxAr: Int = 12, h: Int = 12): Forecaster = {
    val sel = graft.eval.AutoSelect.autoXvarSelect(frame, maxAr, h)
    val withAll = applySpecs(sel.specs)
    val candidates = Set("t", "t2", "monthsin", "monthcos", "month") ++
      FeatureOps.arCols(withAll.frame)
    val losers = withAll.frame.columns.toSeq
      .filter(c => candidates.contains(c) && !sel.features.contains(c))
    if (losers.isEmpty) withAll else withAll.dropRegressors(losers: _*)
  }

  /** `reduce_Xvars` (Forecaster.py:451-631), chainable: backward-eliminate
    * the current feature set and drop the eliminated columns (recorded). */
  def reduceXvars(h: Int = 12, minFeatures: Int = 1): Forecaster = {
    val (kept, _) = graft.eval.AutoSelect.reduceXvars(frame, featureCols, h, minFeatures)
    val losers = featureCols.filterNot(kept.contains)
    if (losers.isEmpty) this else dropRegressors(losers: _*)
  }

  // ---- exports --------------------------------------------------------
  /** The banked results frame (model, series_id, ds, y, yhat, lower,
    * upper, is_test, is_future), if any model is banked. */
  def results: Option[DataFrame] = bank.map(_.frame)

  private def banked: DataFrame = results.getOrElse(
    throw new IllegalStateException("no model banked yet — call manualForecast first"))

  /** Banked model names, sorted — read from the bank, no Spark job. */
  def modelNames: Seq[String] = bank.fold(Seq.empty[String])(_.models.sorted)

  /** `export('model_summaries')`. */
  def exportModelSummaries(metricNames: Seq[String] = Seq("rmse", "mae", "smape", "r2")): DataFrame =
    ResultsStore.modelSummaries(banked, metricNames)

  /** `export('lvl_fcsts')` — horizon pivot, one column per model. */
  def exportForecasts(): DataFrame = ResultsStore.exportForecasts(banked, modelNames)

  /** `export('lvl_test_set_predictions')`. */
  def exportTestSetPredictions(): DataFrame =
    ResultsStore.exportTestSetPredictions(banked, modelNames)

  /** `export_fitted_vals(model)`. */
  def exportFittedVals(model: String): DataFrame =
    ResultsStore.exportFittedVals(banked, model)

  /** `order_fcsts`. */
  def orderModels(metric: String = "test_rmse"): DataFrame =
    ResultsStore.orderModels(ResultsStore.modelSummaries(banked), metric)

  /** `pop(*models)`. */
  def pop(models: String*): Forecaster =
    copy(bank = bank.map(_.pop(models: _*)))
}
