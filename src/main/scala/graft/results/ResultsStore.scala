package graft.results

import graft.core.SeriesFrame._
import graft.functions.Metrics
import org.apache.commons.math3.distribution.NormalDistribution
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The results store — Spark-native replacement for the reference's mutable
  * `history` dict (/root/reference/src/scalecast/Forecaster.py:147-208,
  * SURVEY §1.3): one LONG DataFrame
  * (model, series_id, ds, y, yhat, lower, upper, is_test, is_future)
  * accumulated with `unionByName`, from which every export view derives
  * (`export` dfs, /root/reference/src/scalecast/Forecaster.py:2065-2219).
  * Relational from the start: summaries/rankings are groupBy aggregates, so
  * a million (model × series) combinations is one shuffle.
  */
object ResultsStore {

  /** Bank one scored frame (with yhat, optional lower/upper) under a model
    * nickname. */
  def bank(scored: DataFrame, model: String): DataFrame = {
    val withCi = Seq("lower", "upper").foldLeft(scored)((f, c) =>
      if (f.columns.contains(c)) f else f.withColumn(c, lit(null).cast("double")))
    val withTest = if (withCi.columns.contains("is_test")) withCi
      else withCi.withColumn("is_test", lit(false))
    withTest.select(lit(model).as("model"), col(SeriesId), col(Ds), col(Y),
      when(isnan(col("yhat")), lit(null)).otherwise(col("yhat")).as("yhat"),
      col("lower"), col("upper"), col("is_test"), col(IsFuture))
  }

  def union(results: DataFrame*): DataFrame = results.reduce(_ unionByName _)

  /** A banked results frame and the model names it holds, as one value: the
    * facades add and pop both together, so an export's pivot list is known
    * without running the banked chain. */
  final case class Banked(frame: DataFrame, models: Seq[String]) {
    /** Bank `scored` under `model` next to what is already here. */
    def add(scored: DataFrame, model: String): Banked =
      Banked(union(frame, bank(scored, model)), (models :+ model).distinct)

    def pop(names: String*): Banked =
      Banked(ResultsStore.pop(frame, names: _*), models.filterNot(names.contains))

    /** Same models, fewer rows (one series' slice). */
    def filter(cond: Column): Banked = copy(frame = frame.filter(cond))
  }

  object Banked {
    def of(scored: DataFrame, model: String): Banked = Banked(bank(scored, model), Seq(model))
  }

  /** `pop(*models)` (/root/reference/src/scalecast/_Forecaster_parent.py:768-784). */
  def pop(results: DataFrame, models: String*): DataFrame =
    results.filter(!col("model").isInCollection(models))

  /** model_summaries: per (model, series) — observation counts plus
    * TestSet{METRIC} and InSample{METRIC} for each registered metric
    * (SURVEY §1.3 history schema). */
  def modelSummaries(results: DataFrame,
                     metricNames: Seq[String] = Seq("rmse", "mae", "smape", "r2")): DataFrame = {
    val scoredRows = results.filter(col("yhat").isNotNull && col(Y).isNotNull)
    def side(flag: Column, prefix: String) = {
      val aggs = metricNames.map(n =>
        Metrics.registry(n)(col(Y), col("yhat")).as(s"${prefix}_$n")) :+
        count(lit(1)).as(s"${prefix}_n")
      scoredRows.filter(flag).groupBy(col("model"), col(SeriesId))
        .agg(aggs.head, aggs.tail: _*)
    }
    val test = side(col("is_test"), "test")
    val insample = side(!col("is_test") && !col(IsFuture), "insample")
    insample.join(test, Seq("model", SeriesId), "left")
  }

  /** `order_fcsts`: rank models best→worst by a metric
    * (/root/reference/src/scalecast/_Forecaster_parent.py:385-426). Metrics
    * are aggregated across series by mean — the MV `optimize_on='mean'`
    * default (MVForecaster.py:151-156). */
  def orderModels(summaries: DataFrame, metric: String = "test_rmse"): DataFrame = {
    val lower = Metrics.lowerIsBetter.getOrElse(metric.stripPrefix("test_").stripPrefix("insample_"), true)
    val agg = summaries.groupBy("model").agg(avg(col(metric)).as(metric))
    agg.orderBy(if (lower) col(metric).asc_nulls_last else col(metric).desc_nulls_last)
  }

  /** `lvl_fcsts` export view: horizon forecasts pivoted one column per model
    * (Forecaster.py:2065-2219). Model set must be passed so the pivot is
    * plan-stable. */
  def exportForecasts(results: DataFrame, models: Seq[String]): DataFrame =
    results.filter(col(IsFuture))
      .groupBy(SeriesId, Ds)
      .pivot("model", models)
      .agg(first("yhat"))
      .orderBy(SeriesId, Ds)

  /** `lvl_test_set_predictions` export view (Forecaster.py:2065-2219). */
  def exportTestSetPredictions(results: DataFrame, models: Seq[String]): DataFrame =
    results.filter(col("is_test"))
      .groupBy(SeriesId, Ds).pivot("model", models)
      .agg(first("yhat"))
      .orderBy(SeriesId, Ds)

  /** `export_fitted_vals`: DATE/Actuals/FittedVals/Residuals
    * (Forecaster.py:2321-2339). */
  def exportFittedVals(results: DataFrame, model: String): DataFrame =
    results.filter(col("model") === model && !col(IsFuture) && !col("is_test"))
      .select(col(SeriesId), col(Ds), col(Y).as("actuals"), col("yhat").as("fitted_vals"),
        (col(Y) - col("yhat")).as("residuals"))

  /** `add_signals`: a banked model's predictions joined back as a feature
    * column `signal_<model>` (/root/reference/src/scalecast/Forecaster.py:367-407). */
  def addSignal(frame: DataFrame, results: DataFrame, model: String): DataFrame =
    frame.join(
      results.filter(col("model") === model)
        .select(col(SeriesId), col(Ds), col("yhat").as(s"signal_$model")),
      Seq(SeriesId, Ds), "left")

  /** The two-sided standard-normal quantile of a confidence level. */
  private[graft] def zOf(cilevel: Double): Double = {
    require(cilevel > 0 && cilevel < 1, s"cilevel must lie in (0, 1), got $cilevel")
    new NormalDistribution().inverseCumulativeProbability(0.5 + cilevel / 2)
  }

  /** `synthesize_models`: average ≥2 models' forecasts; CI = z·σ/√n around
    * the mean (/root/reference/src/scalecast/Forecaster.py:217-259). */
  def synthesize(results: DataFrame, models: Seq[String], cilevel: Double = 0.95,
                 name: String = "synthesis"): DataFrame = {
    val z = zOf(cilevel)
    results.filter(col("model").isInCollection(models))
      .groupBy(SeriesId, Ds, Y, "is_test", IsFuture)
      .agg(avg("yhat").as("yhat"), stddev_samp(col("yhat")).as("_sd"),
        count(col("yhat")).as("_n"))
      .withColumn("lower", col("yhat") - lit(z) * col("_sd") / sqrt(col("_n")))
      .withColumn("upper", col("yhat") + lit(z) * col("_sd") / sqrt(col("_n")))
      .withColumn("model", lit(name))
      .drop("_sd", "_n")
  }
}
