package graft.eval

import graft.core.SeriesFrame._
import graft.functions.FeatureOps
import graft.models.{Baselines, Recursive}
import graft.operators.{FittedTransform, Transforms, TransformStack}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Automatic specification search (SURVEY §2.8) — driver-side search loops
  * where each candidate evaluation is one distributed job:
  *
  *  - [[autoXvarSelect]] ⇒ `auto_Xvar_select`
  *    (/root/reference/src/scalecast/Forecaster.py:658-1163): staged search
  *    for the best trend representation, seasonal depth, then AR order,
  *    scored by validation RMSE of an OLS model on the candidate features;
  *  - [[bestSeriesLength]] ⇒ `determine_best_series_length`
  *    (Forecaster.py:1178-1256);
  *  - [[findOptimalTransformation]] ⇒ `find_optimal_transformation`
  *    (/root/reference/src/scalecast/util.py:575-896): greedy forward
  *    selection over a fixed try-order of transformations, each candidate
  *    scored by a mini-backtest with an AR-only estimator, kept only if it
  *    improves the metric.
  */
object AutoSelect {

  /** Validation RMSE of an OLS fit on the given feature columns: holds out
    * the last h observed rows, vectorized (non-dynamic) prediction. Goes
    * through the closed-form [[graft.models.Ols]] tier — one moments
    * aggregation + a k×k driver solve + a pure-expression prediction —
    * identical math to the MLlib normal solver the estimator registry uses
    * (and to the Cholesky chains the DuckDB oracles replay), at one job per
    * candidate instead of ~10. */
  def scoreFeatures(frame: DataFrame, features: Seq[String], h: Int): Double = {
    if (features.isEmpty) return Double.NaN
    // a candidate whose normal equations are singular (exactly collinear
    // features) scores NaN and is skipped — the reference's failed-combo
    // policy (_Forecaster_parent.py:1826-1837)
    scala.util.Try {
      val flagged = withTestFlag(frame, h)
      val fit = graft.models.Ols.fit(flagged, features)
      val scored = flagged.withColumn("yhat", fit.predictExpr)
      Evaluation.metricsOverTest(scored, Seq("rmse"))
        .agg(avg("rmse")).first().getDouble(0)
    }.getOrElse(Double.NaN)
  }

  final case class XvarSelection(trend: Seq[String], seasonal: Seq[String],
                                 arOrder: Int, rmse: Double) {
    def features: Seq[String] = trend ++ seasonal ++ (1 to arOrder).map(i => s"ar_$i")

    /** The replayable feature chain behind this selection — the same
      * candidate columns [[autoXvarSelect]] searched over, as explicit
      * [[graft.functions.FeatureSpec]] steps (`features` names the winning
      * subset). `Forecaster.applySpecs(sel.specs)` reproduces them on any
      * frame. */
    def specs: Seq[graft.functions.FeatureSpec] = {
      import graft.functions.FeatureSpec._
      Seq(TimeTrend("t"), Squared("t", "t2"), Calendar(Seq("month")),
        Fourier("month", 12.0, "month"), ArTerms(math.max(arOrder, 1)))
    }
  }

  /** `infer_apply_Xvar_selection` (/root/reference/src/scalecast/util.py:
    * 343-388), fixed by design: the selection is an explicit spec chain, so
    * replaying it onto another frame is just re-running the recorded
    * builders — no name-string parsing. */
  def applySelection(frame: DataFrame, sel: XvarSelection): DataFrame =
    sel.specs.foldLeft(frame)((f, sp) => sp(f))

  /** Staged search: trend rep → seasonal rep → AR order (greedy like the
    * reference; each stage keeps its winner fixed). */
  def autoXvarSelect(frame: DataFrame, maxAr: Int = 12, h: Int = 12): XvarSelection = {
    val base0 = FeatureOps.addTimeTrend(frame.filter(!col(IsFuture)))
    val base1 = base0.withColumn("t2", col("t") * col("t"))
    val base2 = FeatureOps.addFourier(
      FeatureOps.addCalendar(base1, Seq("month")), col("month"), 12.0, "month")
    // eager checkpoint scoped to this search: the frame goes unreferenced at
    // return and the ContextCleaner reclaims its blocks at the next GC (no
    // explicit unpersist API exists for localCheckpoint through the Dataset)
    val withAr = FeatureOps.addArTerms(base2, maxAr).localCheckpoint(true)

    // the walk is greedy ACROSS stages (each keeps its winner fixed — the
    // reference's semantics), but candidates WITHIN a stage are
    // independent closed-form fits over the same checkpointed frame:
    // fan them out so a stage costs one scheduler wave, not one driver
    // round trip per candidate (this query's wall was ~4× its
    // perfectly-parallel task floor — pure sequential-job latency).
    // minBy-on-zip keeps the reference's first-minimum tie policy exactly.
    def stageBest[A](cands: Seq[A])(feats: A => Seq[String]): (A, Double) = {
      val scores = Evaluation.fanOut(cands, parallelism = 4)(c =>
        nanSafe(scoreFeatures(withAr, feats(c), h)))
      cands.zip(scores).minBy(_._2)
    }
    val (bestTrend, _) = stageBest(
      Seq(Seq.empty[String], Seq("t"), Seq("t", "t2")))(identity)
    val (bestSeas, _) = stageBest(
      Seq(Seq.empty[String], Seq("monthsin", "monthcos")))(bestTrend ++ _)
    val (bestAr, bestArScore) = stageBest(0 to maxAr)(a =>
      bestTrend ++ bestSeas ++ (1 to a).map(i => s"ar_$i"))
    // nanSafe maps a NaN stage score to MaxValue for comparison only; the
    // recorded rmse keeps the raw value (NaN included), as before
    val finalScore =
      if (bestArScore == Double.MaxValue) Double.NaN else bestArScore
    XvarSelection(bestTrend, bestSeas, bestAr, finalScore)
  }

  private def nanSafe(d: Double): Double = if (d.isNaN) Double.MaxValue else d

  /** Grouped `auto_Xvar_select` (Forecaster.py:658-1163 applied PER SERIES):
    * the same staged greedy walk — trend rep → seasonal rep → AR order —
    * but every decision falls independently for each series. All 12
    * reachable candidate feature sets share ONE feature pool, so they score
    * through [[graft.models.GroupedOls.scoreFeatureSetsBySeries]] — one
    * grouped-moments pass + one grouped-RMSE pass TOTAL (the round-8 shape
    * was one fit + one metrics job PER candidate: 24 full-frame scans and
    * 11 score-table joins; at 10⁶ series the candidate count stops scaling
    * the search). The greedy decision tree is a pure row-wise expression
    * over the per-series score table — so the search holds at any series
    * count. NaN/missing scores lose every comparison (Spark orders NaN
    * greatest), the per-series twin of the scalar path's nanSafe policy.
    * Returns (series_id, trend, seasonal, ar_order, rmse). */
  def autoXvarSelectBySeries(frame: DataFrame, h: Int = 12): DataFrame = {
    import graft.models.GroupedOls
    val base0 = FeatureOps.addTimeTrend(frame.filter(!col(IsFuture)))
    val base1 = base0.withColumn("t2", col("t") * col("t"))
    val base2 = FeatureOps.addFourier(
      FeatureOps.addCalendar(base1, Seq("month")), col("month"), 12.0, "month")
    // no checkpoint: the one-pass scorer consumes the windowed feature
    // lineage exactly once, and its aggregation rides the window exchange's
    // hash(series) partitioning — the whole search is ONE shuffle
    val withAr = FeatureOps.addArTerms(base2, 2)
    val trendSets = Seq("a" -> Seq("t"), "b" -> Seq("t", "t2"))
    val candidates = for ((tk, txs) <- trendSets; sk <- 0 to 1; ak <- 0 to 2)
      yield s"$tk$sk$ak" -> (txs ++
        (if (sk == 1) Seq("monthsin", "monthcos") else Nil) ++
        (1 to ak).map(i => s"ar_$i"))
    val wide = GroupedOls.scoreFeatureSetsBySeries(withAr,
      alwaysPool = Seq("t", "t2", "monthsin", "monthcos"),
      lagPool = Seq("ar_1", "ar_2"), candidates, h)
    // the scalar path's greedy walk as row-wise expressions (ties: first wins)
    val dt = when(col("r_a00") <= col("r_b00"), 0).otherwise(1)
    val dsn = when(dt === 0,
        when(col("r_a00") <= col("r_a10"), 0).otherwise(1))
      .otherwise(when(col("r_b00") <= col("r_b10"), 0).otherwise(1))
    def rAt(a: Int): org.apache.spark.sql.Column =
      when(dt === 0 && dsn === 0, col(s"r_a0$a"))
        .when(dt === 0, col(s"r_a1$a"))
        .when(dsn === 0, col(s"r_b0$a"))
        .otherwise(col(s"r_b1$a"))
    val r0 = rAt(0); val r1 = rAt(1); val r2 = rAt(2)
    val da = when(r0 <= r1 && r0 <= r2, 0).when(r1 <= r2, 1).otherwise(2)
    wide.select(col(SeriesId),
      when(dt === 0, "t").otherwise("t,t2").as("trend"),
      when(dsn === 0, "").otherwise("monthsin,monthcos").as("seasonal"),
      da.cast("long").as("ar_order"),
      when(da === 0, r0).when(da === 1, r1).otherwise(r2).as("rmse"))
  }

  /** `auto_arima`-style order search (/root/reference/src/scalecast/
    * auxmodels.py:6-45) restricted to the AR(p) family: pick p in
    * 1..maxP minimizing AIC = n·ln(SSE/n) + 2(p+1) of the OLS fit on lag
    * features ([[graft.models.Ols.aic]]). Each candidate is one
    * distributed fit over the one cached lag frame, released on return. */
  def autoAr(frame: DataFrame, maxP: Int = 8): (Int, Double) = {
    val withAr = FeatureOps.addArTerms(frame.filter(!col(IsFuture)), maxP).cache()
    try {
      val scored = (1 to maxP).map(p => (p, graft.models.Ols.aic(withAr, (1 to p).map(i => s"ar_$i"))))
      scored.minBy(s => nanSafe(s._2))
    } finally withAr.unpersist()
  }

  /** Full `auto_arima` order search (/root/reference/src/scalecast/
    * auxmodels.py:6-45, pmdarima spirit): grid over ARMA(p, q) (d composes
    * via diffT upstream), each candidate a Hannan-Rissanen fit scored by
    * AIC = n·ln(SSE/n) + 2·(p+q+1). Candidates fan out concurrently. */
  def autoArma(frame: DataFrame, maxP: Int = 3, maxQ: Int = 2,
               parallelism: Int = 1): ((Int, Int), Double) = {
    val obs = frame.filter(!col(IsFuture)).cache()
    try {
      val grid = for (p <- 0 to maxP; q <- 0 to maxQ if p + q > 0) yield (p, q)
      val scored = Evaluation.fanOut(grid, parallelism) { case (p, q) =>
        // closed-form two-stage scoring (no MLlib model per cell); singular
        // cells score NaN and are skipped like the reference's failed combos
        ((p, q), scala.util.Try(graft.models.Arima.armaAic(obs, p, q))
          .getOrElse(Double.NaN))
      }
      scored.minBy(s => nanSafe(s._2))
    } finally obs.unpersist()
  }

  /** `find_statistical_transformation` (util.py:440-560): test-driven recipe.
    *
    *  - goal "stationary": ADF on each series (shared decision = worst-case
    *    t-stat); if it fails the 5% critical value (−2.86) the reference
    *    prescribes log (only when every y > 0) + diff(1).
    *  - goal "seasonally_adj": the reference asks seasonal auto_arima for its
    *    seasonal d; substituted here (documented) by the seasonal ACF at lag
    *    m — a significant positive lag-m autocorrelation (> 1.96/√n)
    *    prescribes diff(m).
    *
    * Returns the fitted stack (revert comes free) and the transformed frame. */
  def findStatisticalTransformation(frame: DataFrame,
                                    goals: Seq[String] = Seq("stationary"),
                                    m: Int = 12, useLog: Boolean = true,
                                    criticalT: Double = -2.86)
      : (TransformStack, DataFrame) = {
    var cur = frame
    var accepted = List.empty[FittedTransform]
    def apply1(t: FittedTransform): Unit = {
      cur = t.transform(cur).filter(col(Y).isNotNull)
      accepted = t :: accepted
    }
    goals.foreach {
      case "stationary" =>
        // shared decision = worst-case t-stat; ONE scalar crosses to the driver
        val worstT = graft.functions.Diagnostics.adfT(cur)
          .agg(max("adf_t")).first().getDouble(0)
        if (worstT > criticalT) { // unit root not rejected → not stationary
          val minY = cur.filter(!col(IsFuture)).agg(min(Y)).first().getDouble(0)
          if (useLog && minY > 0) apply1(Transforms.logT(cur))
          apply1(Transforms.diffT(cur, 1))
        }
      case "seasonally_adj" if m > 1 =>
        val acfRows = graft.functions.Diagnostics.acf(cur, m)
          .filter(col("lag") === m).collect()
        val nObs = cur.filter(!col(IsFuture)).count().toDouble
        val sig = 1.96 / math.sqrt(nObs)
        if (acfRows.nonEmpty && acfRows.map(_.getDouble(2)).max > sig)
          apply1(Transforms.diffT(cur, m))
      case _ => ()
    }
    (TransformStack(accepted.reverse), cur)
  }

  /** `find_seasonal_length` (/root/reference/src/scalecast/util.py:58-83
    * generalized): the candidate period with the highest ACF. The
    * reference's semantics are one-series-per-Forecaster; on a multi-series
    * frame use [[findSeasonalLengthBySeries]] — this scalar form requires a
    * single series (it previously kept an arbitrary series' ACF per lag). */
  def findSeasonalLength(frame: DataFrame, candidates: Seq[Int] = Seq(4, 6, 12, 24)): Int = {
    val rows = findSeasonalLengthBySeries(frame, candidates).collect()
    require(rows.length <= 1,
      s"findSeasonalLength is single-series (got ${rows.length}); " +
        "use findSeasonalLengthBySeries for grouped decisions")
    rows.headOption.map(_.getAs[Int]("m")).getOrElse(candidates.head)
  }

  /** Grouped `find_seasonal_length`: ONE distributed ACF pass + a per-series
    * argmax — the 10⁶-series shape (the reference's per-Forecaster decision,
    * util.py:58-83, applied to every series of the frame at once; no
    * observation row or per-series statistic reaches the driver). Returns
    * (series_id, m, acf). Tie-break: the smaller candidate period wins —
    * identical to the scalar form's first-max over ascending candidates. */
  def findSeasonalLengthBySeries(frame: DataFrame,
                                 candidates: Seq[Int] = Seq(4, 6, 12, 24)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSer = Window.partitionBy(SeriesId).orderBy(col("acf").desc, col("lag").asc)
    graft.functions.Diagnostics.acf(frame, candidates.max)
      .filter(col("lag").isin(candidates: _*))
      .withColumn("_rk", org.apache.spark.sql.functions.row_number().over(wSer))
      .filter(col("_rk") === 1)
      .select(col(SeriesId), col("lag").as("m"), col("acf"))
  }

  /** Grouped `find_statistical_transformation` decision table (the
    * per-series version of [[findStatisticalTransformation]]'s "stationary"
    * goal, util.py:431-572 applied per series): per-series ADF t-stat →
    * prescribe diff(1) where the unit root is NOT rejected, plus log first
    * when the series is strictly positive. All moments are per-series
    * aggregates; the k×k solve maps over stats rows on the executors
    * ([[graft.functions.Diagnostics.adfT]]), so this scales to any series
    * count. Returns (series_id, adf_t, needs_diff, use_log). */
  def statTransformRecipesBySeries(frame: DataFrame, useLog: Boolean = true,
                                   criticalT: Double = -2.86): DataFrame = {
    val obs = frame.filter(!col(IsFuture))
    // z-score per series before the ADF regression: the t-stat is invariant
    // under affine y-scaling, so this is pure numerical conditioning (sums
    // of squared revenue-scale values would eat 16 of the double's 17
    // digits before the rss cancellation). The log gate uses the RAW
    // minimum — log applies to the original series.
    val stats = obs.groupBy(SeriesId)
      .agg(avg(Y).as("_mu"), stddev_samp(Y).as("_sd"), min(Y).as("_min"))
    val z = obs.join(graft.core.Joins.maybeBroadcast(stats), Seq(SeriesId))
      .withColumn(Y, (col(Y) - col("_mu")) / col("_sd"))
      .drop("_mu", "_sd", "_min")
    graft.functions.Diagnostics.adfT(z, 1)
      .join(graft.core.Joins.maybeBroadcast(stats.select(col(SeriesId), col("_min"))),
        Seq(SeriesId))
      .select(col(SeriesId), col("adf_t"),
        (col("adf_t") > criticalT).as("needs_diff"),
        (col("adf_t") > criticalT && lit(useLog) && col("_min") > 0).as("use_log"))
  }

  /** Apply [[statTransformRecipesBySeries]] per series in ONE pass: log where
    * the recipe says log, then diff(1) where it says diff — series the recipe
    * leaves alone pass through unchanged. The conditional transform is a
    * join + `when` over the recipe columns (no per-series driver loop, no
    * per-series plan). First differenced row per series drops (null y), like
    * [[graft.operators.Transforms.diffT]]. */
  def applyStatRecipes(frame: DataFrame, recipes: DataFrame): DataFrame = {
    val joined = frame.join(graft.core.Joins.maybeBroadcast(
      recipes.select(col(SeriesId), col("needs_diff"), col("use_log"))), Seq(SeriesId))
    val logged = joined.withColumn("_yl",
      when(col("use_log"), log(col(Y))).otherwise(col(Y)))
    logged
      .withColumn(Y,
        when(col("needs_diff"), col("_yl") - lag(col("_yl"), 1).over(w))
          .otherwise(col("_yl")))
      .filter(col(Y).isNotNull || col(IsFuture))
      .drop("_yl", "needs_diff", "use_log")
  }

  /** `reduce_Xvars` (/root/reference/src/scalecast/Forecaster.py:451-631):
    * backward elimination — repeatedly drop the feature with the smallest
    * |standardized coefficient| (the MLlib-importance stand-in for SHAP),
    * re-score, and keep the best-scoring feature set seen. */
  def reduceXvars(frame: DataFrame, features: Seq[String], h: Int,
                  minFeatures: Int = 1): (Seq[String], Double) = {
    var cur = features
    var best = (features, scoreFeatures(frame, features, h))
    while (cur.size > minFeatures) {
      // standardized coefficient = |β_raw_j|·sd_j (what a scale-normalized
      // MLlib fit's coefficients are); one closed-form moments job per step
      val flagged = withTestFlag(frame, h)
      val (fit, sds) = graft.models.Ols.fitWithStd(flagged, cur)
      val weakest = cur.zip(fit.beta.zip(sds).map { case (b, sd) => math.abs(b) * sd })
        .minBy(_._2)._1
      cur = cur.filterNot(_ == weakest)
      val s = scoreFeatures(frame, cur, h)
      if (!s.isNaN && s < best._2) best = (cur, s)
    }
    best
  }

  /** `save_feature_importance` (Forecaster.py:1531-1673): per-feature
    * importance ranking — MLlib's native `featureImportances` for tree
    * ensembles, |standardized coefficient| for linear models (the documented
    * SHAP substitution). Descending. */
  def featureImportance(model: org.apache.spark.ml.Transformer,
                        features: Seq[String]): Seq[(String, Double)] = {
    import org.apache.spark.ml.regression._
    val scores = model match {
      // raw |β| — pair with normalizer="scale" (→ MLlib path, standardized
      // coefficients) when features are on different scales
      case om: graft.models.OlsModel => om.fitted.beta.map(math.abs)
      case pm: org.apache.spark.ml.PipelineModel => pm.stages.last match {
        case lr: LinearRegressionModel  => lr.coefficients.toArray.map(math.abs)
        case rf: RandomForestRegressionModel => rf.featureImportances.toArray
        case gb: GBTRegressionModel     => gb.featureImportances.toArray
        case other => throw new IllegalArgumentException(
          s"no importance for ${other.getClass.getSimpleName}")
      }
      case other => throw new IllegalArgumentException(
        s"no importance for ${other.getClass.getSimpleName}")
    }
    features.zip(scores).sortBy(-_._2)
  }

  /** `limit_grid_size` (/root/reference/src/scalecast/_Forecaster_parent.py:
    * 1096-1131): deterministic subsample of a hyperparameter grid. */
  def limitGridSize[T](grid: Seq[T], n: Int, seed: Long = 42L): Seq[T] = {
    if (grid.size <= n) grid
    else new scala.util.Random(seed).shuffle(grid).take(n)
  }

  /** `find_optimal_lag_order` for the VAR family
    * (/root/reference/src/scalecast/util.py:298-341, statsmodels
    * VAR.select_order): choose lag order p minimizing the summed
    * per-equation AIC of the cross-series OLS fits. */
  def autoVarOrder(frame: DataFrame, seriesIds: Seq[String], maxP: Int = 4): (Int, Double) =
    varOrderScores(frame, seriesIds, maxP).minBy(s => nanSafe(s._2))

  /** Every candidate order's summed per-equation AIC (the full score table
    * behind [[autoVarOrder]]'s argmin). Each equation is one closed-form
    * [[graft.models.Ols]] fit + one sse aggregation over the shared
    * cross-lag design; the observed slice materializes once. */
  def varOrderScores(frame: DataFrame, seriesIds: Seq[String], maxP: Int): Seq[(Int, Double)] = {
    import graft.models.MvForecast
    // one cross-lag build at maxP (checkpointed: per-series-count rows),
    // every candidate order p reads its lag subset from it
    val withLagsAll = MvForecast.addCrossSeriesLags(
      frame.filter(!col(IsFuture)), seriesIds, maxP).localCheckpoint(true)
    // every (order, equation) cell is an independent closed-form fit over
    // the one checkpointed design — fan the grid out (sequential, the
    // maxP × |series| driver round trips were most of the query's wall)
    // and re-sum per order; Σ over the same per-equation doubles in the
    // same series order, so scores are bit-identical to the loop's
    val grid = for (p <- 1 to maxP; sid <- seriesIds) yield (p, sid)
    val cells = Evaluation.fanOut(grid, parallelism = 4) { case (p, sid) =>
      val feats = for (s <- seriesIds; k <- 1 to p) yield MvForecast.xlagCol(s, k)
      // singular design at this order (e.g. exactly collinear cross-lags)
      // → NaN → the candidate order is skipped, like the reference's
      // failed-combo policy
      scala.util.Try(graft.models.Ols.aic(withLagsAll.filter(col(SeriesId) === sid), feats))
        .getOrElse(Double.NaN)
    }
    (1 to maxP).map { p =>
      (p, grid.zip(cells).collect { case ((`p`, _), aic) => aic }.sum)
    }
  }

  /** Periodogram via direct DFT (the reference calls
    * scipy.signal.periodogram on 10²-10⁴ points, Forecaster.py:1368-1392).
    * Per-series sequential by nature → `mapGroups`: each series' points fit
    * in executor memory and the DFT runs there; series parallelize across
    * the cluster and NO observation row reaches the driver. Returns a
    * (series_id, freq, power) frame. */
  def periodogram(frame: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    frame.filter(!col(IsFuture))
      .select(col(SeriesId).cast("string"), col(Ds).cast("date"), col(Y).cast("double"))
      .as[(String, java.sql.Date, Double)]
      .groupByKey(_._1).flatMapGroups { (sid, it) =>
        val ys = it.toIndexedSeq.sortBy(_._2.getTime).map(_._3).toArray
        val n = ys.length
        val mean = ys.sum / n
        val c = ys.map(_ - mean)
        (1 to n / 2).map { k =>
          val re = c.indices.map(t => c(t) * math.cos(2 * math.Pi * k * t / n)).sum
          val im = c.indices.map(t => c(t) * math.sin(2 * math.Pi * k * t / n)).sum
          (sid, k, (re * re + im * im) / n)
        }
      }.toDF(SeriesId, "freq", "power")
  }

  /** Try keeping only the last L observations for each candidate L; return
    * (bestLength, rmse) under the given model function. Candidates are
    * independent fits over the same frame — they fan out through the
    * scheduler (the walls were pure sequential-job latency, ~4 driver
    * round trips per candidate); fanOut preserves candidate order, so the
    * first-minimum tie policy is unchanged. */
  def bestSeriesLength(frame: DataFrame, candidates: Seq[Int], h: Int,
                       modelFn: Evaluation.ModelFn): (Int, Double) = {
    val scored = Evaluation.fanOut(candidates, parallelism = 4) { len =>
      val kept = keepSmallerHistory(frame, len)
      val flagged = withTestFlag(kept, h)
      val rmse = Evaluation.metricsOverTest(modelFn(flagged), Seq("rmse"))
        .agg(avg("rmse")).first().getDouble(0)
      (len, rmse)
    }
    scored.minBy(s => nanSafe(s._2))
  }

  /** Result of [[findOptimalTransformation]]: the accepted stack, the
    * transformed frame, the final score, and the accepted candidate names
    * in try-order. */
  final case class OptimalTransform(stack: TransformStack, frame: DataFrame,
                                    score: Double, accepted: Seq[String])

  /** Grouped `find_optimal_transformation` (util.py:575-896 applied PER
    * SERIES): the same greedy try-order, but every candidate is accepted or
    * rejected independently for each series — the 10⁶-series version of the
    * global decision [[findOptimalTransformation]] makes. Per candidate:
    * ONE fit over all series ([[graft.operators.Transforms]] params are
    * per-series already), ONE grouped scoring pass
    * ([[graft.models.GroupedOls.scoreFeaturesBySeries]] — per-series AR(4)
    * OLS holdout RMSE), and a join+`when` blend that adopts the transformed
    * y only where it improved. Rows whose y nulls out under an adopted
    * transform (a diff head) drop, matching the global path's filter.
    *
    * Returns (recipes, frame): recipes = one row per (series, candidate)
    * with the candidate's score and the accept decision; frame = the
    * per-series-transformed series. (The decision table is the product —
    * like [[statTransformRecipesBySeries]]; revert bookkeeping for mixed
    * per-series stacks is the caller's choice of recipe replay.) */
  def findOptimalTransformationBySeries(frame: DataFrame, m: Int = 12, h: Int = 12,
                                        candidateNames: Seq[String] = Seq("detrend", "diff1"))
      : (DataFrame, DataFrame) = {
    import graft.models.GroupedOls
    def score(df: DataFrame): DataFrame = {
      val withAr = FeatureOps.addArTerms(df.filter(!col(IsFuture)), 4)
      GroupedOls.scoreFeaturesBySeries(withAr, (1 to 4).map(i => s"ar_$i"), h)
    }
    val all: Seq[(String, DataFrame => FittedTransform)] = Seq(
      "detrend"  -> ((df: DataFrame) => Transforms.detrendLinearT(df)),
      "deseason" -> ((df: DataFrame) => Transforms.deseasonT(df, m)),
      "boxcox"   -> ((df: DataFrame) => Transforms.boxcoxMleT(df)),
      "diff1"    -> ((df: DataFrame) => Transforms.diffT(df, 1)),
      s"diff$m"  -> ((df: DataFrame) => Transforms.diffT(df, m)),
      "scale"    -> ((df: DataFrame) => Transforms.scaleT(df))
    )
    val candidates = all.filter(c => candidateNames.contains(c._1))
    var cur = frame.filter(!col(IsFuture)).localCheckpoint(true)
    var curScores = score(cur).withColumnRenamed("rmse", "_cs").localCheckpoint(true)
    var recipes = List.empty[DataFrame]
    candidates.foreach { case (name, mk) =>
      val attempt = scala.util.Try {
        val t = mk(cur)
        val cand = t.transform(cur)
        val candScores = score(cand).withColumnRenamed("rmse", "_ns")
        val decided = curScores.join(candScores, Seq(SeriesId), "left")
          .withColumn("accepted",
            col("_ns").isNotNull && !isnan(col("_ns")) && !isnan(col("_cs")) &&
              col("_ns") < col("_cs"))
          .localCheckpoint(true)
        val blended = cur.withColumnRenamed(Y, "_y0")
          .join(cand.select(col(SeriesId), col(Ds), col(Y).as("_y1")),
            Seq(SeriesId, Ds.toString), "left")
          .join(graft.core.Joins.maybeBroadcast(
            decided.select(col(SeriesId), col("accepted"))), Seq(SeriesId), "left")
          .withColumn(Y, when(col("accepted"), col("_y1")).otherwise(col("_y0")))
          .filter(col(Y).isNotNull && !isnan(col(Y)))
          .drop("_y0", "_y1", "accepted")
        (decided, blended)
      }
      attempt.toOption match {
        case Some((decided, blended)) =>
          recipes ::= decided.select(col(SeriesId), lit(name).as("candidate"),
            col("_ns").as("cand_rmse"), col("accepted"))
          // LAZY chain-state checkpoints (the Bpe scheduler-trip lesson):
          // `decided` above stays EAGER — it forces the candidate's whole
          // scoring pass inside the Try, carrying the try-order error
          // policy — but the blended frame and the rolled-forward scores
          // are pure joins/projections of materialized pieces, so each
          // materializes inside its FIRST consumer's job (the next
          // candidate's decided pass) instead of costing two scheduler
          // round trips here. A caller that never consumes the final
          // frame (the declared recipes-only query) never pays for it.
          cur = blended.localCheckpoint(false)
          curScores = decided
            .withColumn("_cs", when(col("accepted"), col("_ns")).otherwise(col("_cs")))
            .select(col(SeriesId), col("_cs")).localCheckpoint(false)
        case None => // a candidate that errors outright is skipped for ALL
          // series (the reference's try-order error policy)
      }
    }
    val spark = frame.sparkSession
    val recipe = recipes.reverse.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataFrame)
    (recipe, cur)
  }

  /** Candidate transformations in the reference's try-order
    * (util.py:575-896): detrend, deseason, log, diff(1), diff(m), scale.
    * Each is kept only if the AR(4)-OLS validation RMSE improves. Pass
    * `candidateNames` to restrict the try-order to a subset (the reference's
    * `try_order` argument, util.py:652). */
  def findOptimalTransformation(frame: DataFrame, m: Int = 12, h: Int = 12,
                                candidateNames: Seq[String] = Seq.empty)
      : OptimalTransform = {
    def score(df: DataFrame): Double = {
      val withAr = FeatureOps.addArTerms(df.filter(!col(IsFuture)), 4)
      scoreFeatures(withAr, (1 to 4).map(i => s"ar_$i"), h)
    }
    val all: Seq[(String, DataFrame => FittedTransform)] = Seq(
      "detrend"  -> ((df: DataFrame) => Transforms.detrendLinearT(df)),
      "deseason" -> ((df: DataFrame) => Transforms.deseasonT(df, m)),
      "boxcox"   -> ((df: DataFrame) => Transforms.boxcoxMleT(df)),
      "diff1"    -> ((df: DataFrame) => Transforms.diffT(df, 1)),
      s"diff$m"  -> ((df: DataFrame) => Transforms.diffT(df, m)),
      "scale"    -> ((df: DataFrame) => Transforms.scaleT(df))
    )
    val candidates =
      if (candidateNames.isEmpty) all else all.filter(c => candidateNames.contains(c._1))
    if (candidates.isEmpty)
      return OptimalTransform(TransformStack(Nil), frame, score(frame), Nil)

    // One candidate's full evaluation against a given chain state: the
    // transform fit, the filtered transformed frame, its AR(4) holdout
    // score. A pure function of (state, candidate) — errors/non-finite
    // scores reject, like the reference's try-order error policy.
    final case class Eval(t: FittedTransform, candidate: DataFrame, s: Double)
    def evaluate(state: DataFrame, mk: DataFrame => FittedTransform): Option[Eval] =
      scala.util.Try {
        val t = mk(state)
        val candidate = t.transform(state)
          .filter(col(Y).isNotNull && !isnan(col(Y)))
        Eval(t, candidate, score(candidate))
      }.toOption

    // The walk is reference-sequential (each candidate is accepted/rejected
    // against the CURRENT chain — candidates can NOT fan out), but its wall
    // was pure driver-side job latency: ~2 scheduler round trips per
    // candidate, each job re-planning AND re-broadcasting the whole
    // accepted chain's transform-param frames (wall ≈ 28× the
    // perfectly-parallel task floor at 32 cores). Two latency cuts that
    // cannot change any decision:
    //  - the NEXT candidate is evaluated speculatively against the
    //    REJECT-path state while the current one is pending; a rejection
    //    (the common outcome) makes its result immediately available, an
    //    acceptance discards it and re-evaluates against the new state —
    //    decisions still fall strictly in try-order over the same
    //    (state, candidate) inputs, so results are bit-identical;
    //  - an ACCEPTED state is eagerly checkpointed (one shared base per
    //    chain step), so later candidates and the returned frame re-plan a
    //    one-node block scan instead of the stacked param-join lineage.
    // Every submitted future is awaited before the call returns, so a
    // discarded lookahead never leaves a Spark job running behind it.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val submitted = scala.collection.mutable.ArrayBuffer.empty[scala.concurrent.Future[_]]
    def submit[A](body: => A): scala.concurrent.Future[A] = {
      val f = scala.concurrent.Future {
        org.apache.spark.sql.SparkSession.active.sparkContext
          .setLocalProperty("spark.scheduler.pool", "graft-eval")
        body
      }
      submitted += f
      f
    }
    def await[A](f: scala.concurrent.Future[A]): A =
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
    try {
      var cur = frame
      val baseScoreF = submit(score(frame))
      var accepted = List.empty[(String, FittedTransform)]
      var curScore = Double.NaN
      var pending: Option[(Int, scala.concurrent.Future[Option[Eval]])] = None
      var i = 0
      while (i < candidates.size) {
        // capture loop state into vals BEFORE submitting: the future body
        // runs on a pool thread possibly after the loop has advanced, so
        // reading the `var`s from inside the closure would evaluate the
        // wrong candidate (or walk off the end)
        val evF = pending match {
          case Some((j, f)) if j == i => f
          case _ =>
            val state = cur; val mk = candidates(i)._2
            submit(evaluate(state, mk))
        }
        // reject-path lookahead (state captured NOW, before the decision)
        pending =
          if (i + 1 < candidates.size) {
            val state = cur; val j = i + 1; val mkNext = candidates(j)._2
            Some((j, submit(evaluate(state, mkNext))))
          } else None
        if (i == 0) curScore = await(baseScoreF)
        await(evF).foreach { case Eval(t, candidate, s) =>
          if (!s.isNaN && s < curScore) {
            cur = candidate.localCheckpoint(true)
            curScore = s
            accepted = (candidates(i)._1, t) :: accepted
            pending = None // was speculated against the rejected state
          }
        }
        i += 1
      }
      val acc = accepted.reverse
      OptimalTransform(TransformStack(acc.map(_._2)), cur, curScore, acc.map(_._1))
    } finally {
      submitted.foreach(f => scala.util.Try(
        scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf)))
      pool.shutdown()
    }
  }
}
