package graft.eval

import graft.core.SeriesFrame._
import graft.functions.Metrics
import graft.models.Ols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.Try

/** Validation schemes: temporal test split, rolling-origin cross-validation,
  * and backtesting (SURVEY §2.7). MLlib's CrossValidator splits randomly and
  * would leak future into past — these splitters are strictly temporal:
  * every fold's train rows precede its validation rows
  * (/root/reference/src/scalecast/_Forecaster_parent.py:1693-1867 and
  * Pipeline.py:229-359).
  *
  * A "model function" is `scoredFrame: DataFrame => DataFrame` — it receives
  * the frame with `is_test` flags and must return it with a `yhat` column,
  * fitting only on non-test rows. Fold/iteration fan-out is a driver loop of
  * independent Spark jobs (parallelizable via scheduler pools); each job is
  * itself fully distributed across series.
  */
object Evaluation {

  type ModelFn = DataFrame => DataFrame

  /** Run independent evaluation cells (folds / grid points / backtest
    * iterations) through a bounded thread pool. Each cell is an independent
    * Spark job — concurrent submission lets the scheduler interleave their
    * stages across executors (tag a FAIR pool so no cell starves). Results
    * come back in `items` order, so callers stay deterministic regardless of
    * completion order. parallelism ≤ 1 degrades to the plain sequential map. */
  def fanOut[A, B](items: Seq[A], parallelism: Int)(f: A => B): Seq[B] =
    if (parallelism <= 1 || items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.size))
      implicit val ec: scala.concurrent.ExecutionContextExecutorService =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futures = items.map { a =>
          scala.concurrent.Future {
            org.apache.spark.sql.SparkSession.active.sparkContext
              .setLocalProperty("spark.scheduler.pool", "graft-eval")
            f(a)
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }

  /** Rolling-origin CV: fold i (0-based) drops the last i·h observed rows,
    * then holds out the final h as the validation slice. Returns one row per
    * (series, fold) with the requested metric aggregates over the slice.
    * `parallelism` > 1 fits the folds concurrently (independent jobs). */
  def rollingOriginCV(frame: DataFrame, k: Int, h: Int, modelFn: ModelFn,
                      metricNames: Seq[String] = Seq("rmse", "mae"),
                      parallelism: Int = 1): DataFrame = {
    val folds = fanOut(0 until k, parallelism) { i =>
      val chopped = if (i == 0) frame.filter(!col(IsFuture)) else chopFromFront(frame, i * h)
      val flagged = withTestFlag(chopped, h)
      val scored = modelFn(flagged)
      metricsOverTest(scored, metricNames).withColumn("fold", lit(i))
    }
    folds.reduce(_ unionByName _)
  }

  /** Backtest: iteration i truncates the series by (h + i·jumpBack) rows,
    * forecasts h, and scores against the held-out actuals
    * (Pipeline.py:229-359, util.py:112-230 backtest_metrics). */
  def backtest(frame: DataFrame, nIter: Int, h: Int, jumpBack: Int,
               modelFn: ModelFn,
               metricNames: Seq[String] = Seq("rmse", "mae"),
               parallelism: Int = 1): DataFrame = {
    val iters = fanOut(0 until nIter, parallelism) { i =>
      val chopped = if (i == 0) frame.filter(!col(IsFuture))
                    else chopFromFront(frame, i * jumpBack)
      val flagged = withTestFlag(chopped, h)
      val scored = modelFn(flagged)
      metricsOverTest(scored, metricNames).withColumn("iter", lit(i))
    }
    iters.reduce(_ unionByName _)
  }

  /** `backtest_metrics` result table
    * (/root/reference/src/scalecast/util.py:112-230): pivot the
    * per-iteration long rows of [[backtest]] into one row per
    * (series, metric) with `iter_<i>` columns plus the across-iteration
    * `average` — the reference's Iter1..N + Average frame. The pivot axis is
    * the BOUNDED iteration count (a static column list), so the plan stays
    * one shuffle keyed by (series, metric) and scales with series count. */
  def backtestMetrics(perIter: DataFrame, metricNames: Seq[String],
                      nIter: Int): DataFrame = {
    require(nIter >= 1 && metricNames.nonEmpty, "need >= 1 iteration and metric")
    val stackArgs = metricNames.map(m => s"'$m', $m").mkString(", ")
    val long = perIter.selectExpr(SeriesId, "iter",
      s"stack(${metricNames.size}, $stackArgs) AS (metric, _value)")
    val pivoted = long.groupBy(SeriesId, "metric")
      .pivot("iter", 0 until nIter).agg(first("_value"))
    val iterCols = (0 until nIter).map(i => col(i.toString))
    pivoted.select(
      (Seq(col(SeriesId), col("metric")) ++
        iterCols.zipWithIndex.map { case (c, i) => c.as(s"iter_$i") }) :+
        (iterCols.reduce(_ + _) / nIter).as("average"): _*)
  }

  /** MV `optimize_on` (/root/reference/src/scalecast/MVForecaster.py:151-156,
    * 412-444): collapse per-series metric rows into the single model-selection
    * scalar — "mean"/"min"/"max" across series, a specific series_id, or
    * explicit per-series weights (the reference's custom-callable case made
    * declarative). */
  def optimizeOn(perSeries: DataFrame, metricName: String,
                 how: String = "mean",
                 weights: Map[String, Double] = Map.empty): Double = how match {
    case "mean" => perSeries.agg(avg(col(metricName))).first().getDouble(0)
    case "min"  => perSeries.agg(min(col(metricName))).first().getDouble(0)
    case "max"  => perSeries.agg(max(col(metricName))).first().getDouble(0)
    case "weighted" =>
      require(weights.nonEmpty, "optimize_on=weighted needs weights")
      val wcol = weights.foldLeft(lit(0.0)) { case (acc, (sid, wt)) =>
        when(col(SeriesId) === sid, wt).otherwise(acc)
      }
      perSeries.agg((sum(col(metricName) * wcol) / sum(wcol)))
        .first().getDouble(0)
    case sid => // a series_id: optimize for that one series
      val r = perSeries.filter(col(SeriesId) === sid)
        .agg(avg(col(metricName)), count(lit(1))).first()
      if (r.getLong(1) == 0) throw new IllegalArgumentException(
        s"optimize_on '$sid' is neither a mode (mean, min, max, weighted) " +
          "nor a series_id of the metrics")
      r.getDouble(0)
  }

  /** Metric aggregates over the `is_test` slice, one row per series. */
  def metricsOverTest(scored: DataFrame, metricNames: Seq[String]): DataFrame = {
    val t = scored.filter(col("is_test") && col("yhat").isNotNull && !isnan(col("yhat")))
    val aggs = metricNames.map(n => Metrics.registry(n)(col(Y), col("yhat")).as(n))
    t.groupBy(SeriesId).agg(aggs.head, aggs.tail: _*)
  }

  /** `ingest_grid` cartesian expansion
    * (/root/reference/src/scalecast/_Forecaster_parent.py:1050-1094): a
    * {param → candidate values} space expands to every combination, in
    * deterministic (sorted-key, listed-value) order. */
  def expandGrid(space: Map[String, Seq[Double]]): Seq[Map[String, Double]] =
    space.toSeq.sortBy(_._1).foldLeft(Seq(Map.empty[String, Double])) {
      case (acc, (k, vs)) => for (m <- acc; v <- vs) yield m + (k -> v)
    }

  /** One scored grid cell: params, per-fold mean-over-series metric values
    * (fold order), and the across-fold mean. */
  final case class GridCell(params: Map[String, Double],
                            foldMetrics: Seq[Double], mean: Double)

  /** Grid search with per-fold detail: evaluate `fitWith(params)` over the
    * grid with k-fold rolling-origin CV. Grid cells fan out through
    * [[fanOut]] (each cell = k independent fold jobs). Returns cells in grid
    * order; rank with [[gridSearch]] or export with [[validationGrid]]. */
  def gridSearchDetailed(frame: DataFrame, grid: Seq[Map[String, Double]],
                         fitWith: Map[String, Double] => ModelFn,
                         k: Int, h: Int, metricName: String = "rmse",
                         parallelism: Int = 1): Seq[GridCell] =
    fanOut(grid, parallelism) { params =>
      // a failing cell (singular design, invalid combination) scores NaN and
      // ranks last instead of aborting the whole tune — the reference's
      // per-combo exception policy (_Forecaster_parent.py:1826-1837 records
      // np.nan for failed combos)
      scala.util.Try {
        val cv = rollingOriginCV(frame, k, h, fitWith(params), Seq(metricName))
        val byFold = cv.groupBy("fold").agg(avg(col(metricName)).as("_m"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2).toSeq
        GridCell(params, byFold, byFold.sum / byFold.size)
      }.getOrElse(GridCell(params, Nil, Double.NaN))
    }

  /** [[gridSearchDetailed]] for the closed-form linear family — `algo`
    * `mlr` or `ridge` (grid keys ⊆ {alpha}), no normalizer, no AR
    * features — in two data passes whatever the grid size (two Spark jobs
    * on a one-partition frame; under AQE every exchange in the frame's
    * lineage adds one per pass), where the generic path runs k fits plus
    * one collect per cell:
    *  1. one aggregate over a `row_number`-from-the-back column `rb` per
    *     series computes every fold's train moments at once (fold i trains
    *     on rb > (i+1)·h and validates on rb in (i·h, (i+1)·h], the
    *     [[rollingOriginCV]] slices);
    *  2. every (fold, cell) is solved on the driver ([[Ols.Moments]]);
    *  3. one more job scores every fold's validation slice for every cell,
    *     with the registry's metric aggregate per (series, fold, cell).
    * Same cells, same order, same NaN-ranks-last policy for a singular or
    * empty fold as the generic path; TuneParitySpec pins the fold metrics
    * to MLlib-fitted [[gridSearchDetailed]] at 1e-9. */
  def gridSearchLinear(frame: DataFrame, feats: Seq[String], algo: String,
                       grid: Seq[Map[String, Double]], k: Int, h: Int,
                       metricName: String = "rmse"): Seq[GridCell] = {
    require(algo == "mlr" || algo == "ridge", s"no closed-form tune for '$algo'")
    val metric = Metrics.registry(metricName)
    val rb = row_number().over(Window.partitionBy(SeriesId).orderBy(col(Ds).desc))
    val ranked = frame.filter(!col(IsFuture)).withColumn("_rb", rb)
    val complete = (col(Y) +: feats.map(col)).map(_.isNotNull).reduce(_ && _)
    val width = Ols.momentWidth(feats.size)
    val aggs = (0 until k).flatMap(i =>
      Ols.momentCols(feats, Some(complete && col("_rb") > (i + 1) * h)))
    val sums = ranked.agg(aggs.head, aggs.tail: _*).first()
    // (fold, cell) → fit; a failed solve leaves the cell out of scoring
    val fits = (0 until k).flatMap { i =>
      val m = Ols.Moments.read(sums, i * width, feats.size + 2)
      lazy val ols = Try(m.ols(feats))
      grid.indices.flatMap { c =>
        val fit = if (algo == "mlr") ols
                  else Try(m.ridge(feats, grid(c).getOrElse("alpha", 1.0)))
        fit.toOption.map(f => (i, c, f.intercept, f.beta))
      }
    }
    val solved = fits.groupBy(_._2).collect { case (c, fs) if fs.size == k => c }.toSet
    val byCell: Map[Int, Seq[Double]] =
      if (solved.isEmpty) Map.empty
      else {
        // every fold's solved cells as one literal (cell, intercept, beta)
        // array, indexed by the row's fold: no join, so no broadcast job
        val byFold = (0 until k).map(i =>
          fits.collect { case (`i`, c, b0, beta) if solved(c) => (c, b0, beta.toSeq) })
        val cell = explode(element_at(typedLit(byFold), col("_fold") + 1))
        // the OlsModel.transform expression: a null feature poisons to NaN
        val yhat = feats.zipWithIndex.foldLeft(col("_c._2")) { case (acc, (c, j)) =>
          acc + coalesce(col(c).cast("double"), lit(Double.NaN)) * element_at(col("_c._3"), j + 1)
        }
        ranked.filter(col("_rb") <= k * h)
          .withColumn("_fold", ((col("_rb") - 1) / h).cast("int"))
          .withColumn("_c", cell)
          .withColumn("yhat", yhat)
          .filter(col("yhat").isNotNull && !isnan(col("yhat")))
          .groupBy(col(SeriesId), col("_fold"), col("_c._1").as("_cell"))
          .agg(metric(col(Y), col("yhat")).as("_m"))
          .groupBy("_cell", "_fold").agg(avg(col("_m")).as("_m"))
          .collect().toSeq
          .groupBy(_.getInt(0))
          .map { case (c, rs) =>
            // a fold whose every series metric is null fails the cell, as
            // the generic path's collect does
            c -> (if (rs.exists(_.isNullAt(2))) Nil
                  else rs.sortBy(_.getInt(1)).map(_.getDouble(2)))
          }
      }
    grid.indices.map { c =>
      byCell.get(c).filter(_.nonEmpty) match {
        case Some(byFold) => GridCell(grid(c), byFold, byFold.sum / byFold.size)
        case None         => GridCell(grid(c), Nil, Double.NaN)
      }
    }
  }

  /** Cells ranked by mean metric, best first; NaN cells last. */
  def rank(cells: Seq[GridCell], metricName: String): Seq[(Map[String, Double], Double)] = {
    val lower = Metrics.lowerIsBetter(metricName)
    cells.map(c => (c.params, c.mean)).sortBy(s => if (lower) s._2 else -s._2)
  }

  /** Grid search: rank by mean metric, best first. */
  def gridSearch(frame: DataFrame, grid: Seq[Map[String, Double]],
                 fitWith: Map[String, Double] => ModelFn,
                 k: Int, h: Int, metricName: String = "rmse",
                 parallelism: Int = 1): Seq[(Map[String, Double], Double)] =
    rank(gridSearchDetailed(frame, grid, fitWith, k, h, metricName, parallelism), metricName)

  /** `tune_test_forecast` (/root/reference/src/scalecast/_utils.py:89-142,
    * Forecaster.py:1458-1529): for each named model spec — grid-tune by
    * rolling CV, refit the winner, score the held-out test slice. Model
    * specs fan out concurrently ([[fanOut]]); a failing spec is skipped
    * (the reference's errors='ignore' policy) unless `strict`. */
  def tuneTestForecast(frame: DataFrame,
      specs: Map[String, (Seq[Map[String, Double]], Map[String, Double] => ModelFn)],
      k: Int, h: Int, testLength: Int, metricName: String = "rmse",
      parallelism: Int = 1, strict: Boolean = false)
      : Map[String, (Map[String, Double], DataFrame)] =
    fanOut(specs.toSeq.sortBy(_._1), parallelism) { case (name, (grid, fitWith)) =>
      val attempt = scala.util.Try {
        val best = gridSearch(frame, grid, fitWith, k, h, metricName).head._1
        val flagged = withTestFlag(frame, testLength)
        val scored = fitWith(best)(flagged)
        best -> metricsOverTest(scored, Seq(metricName))
      }
      if (strict) name -> Some(attempt.get)
      else name -> attempt.toOption
    }.collect { case (n, Some(r)) => n -> r }.toMap

  /** `export_validation_grid`
    * (/root/reference/src/scalecast/_Forecaster_parent.py:1545-1567): the
    * grid × fold metric matrix as a DataFrame with ONE TYPED DOUBLE COLUMN
    * PER HYPERPARAMETER, one `fold_<i>_<metric>` column per fold, and the
    * across-fold mean — not a stringified params blob. */
  def validationGrid(spark: org.apache.spark.sql.SparkSession,
                     cells: Seq[GridCell],
                     metricName: String = "rmse"): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val keys = cells.flatMap(_.params.keys).distinct.sorted
    val nFolds = cells.map(_.foldMetrics.size).maxOption.getOrElse(0)
    val schema = StructType(
      keys.map(StructField(_, DoubleType)) ++
      (0 until nFolds).map(i => StructField(s"fold_${i}_$metricName", DoubleType)) :+
      StructField(s"mean_$metricName", DoubleType))
    val rows = cells.map { c =>
      org.apache.spark.sql.Row.fromSeq(
        keys.map(k => c.params.getOrElse(k, Double.NaN)) ++
        (0 until nFolds).map(i => c.foldMetrics.lift(i).getOrElse(Double.NaN)) :+
        c.mean)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 1), schema)
  }
}
