package graft

import graft.core.SeriesFrame
import graft.core.SeriesFrame._
import graft.functions.FeatureOps
import graft.models.{MllibTsEstimator, Recursive, RowScorer}
import org.apache.spark.ml.Transformer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The recursive forecaster has two physical strategies — the row-scorer
  * walk and the generic whole-frame wavefront — that must be
  * value-identical (they're the same recursion batched differently). */
class RecursivePathsSpec extends SparkSpec {

  private def vals(df: DataFrame): Map[(String, java.sql.Date), Double] =
    df.select(col(SeriesId), col(Ds), col("yhat")).collect()
      .filterNot(r => r.isNullAt(2) || r.getDouble(2).isNaN)
      .map(r => (r.getString(0), r.getDate(1)) -> r.getDouble(2)).toMap

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    val (va, vb) = (vals(a), vals(b))
    assert(va.keySet === vb.keySet)
    va.foreach { case (k, x) => assert(math.abs(x - vb(k)) < 1e-9, s"$k: $x vs ${vb(k)}") }
  }

  private def horizonBy(f: DataFrame, m: Transformer, sc: Option[RowScorer]): DataFrame =
    Recursive.forecast(f, m, Recursive.horizon, Int.MaxValue, sc)

  private def testBy(f: DataFrame, m: Transformer, k: Int, sc: Option[RowScorer]): DataFrame =
    Recursive.forecast(f, m, Recursive.testSlice, k, sc)

  private def twoSeries(h: Int): DataFrame = {
    val a = obsSeries((1 to 30).map(t => 10.0 + 0.5 * t + 3 * math.sin(t / 2.0)), "a")
    val b = obsSeries((1 to 30).map(t => 50.0 - 0.3 * t + 2 * math.cos(t / 3.0)), "b")
    SeriesFrame.withMonthlyHorizon(a.unionByName(b), h)
  }

  test("dynamicForecast: scorer path == ledger path (mlr, AR(3), 2 series)") {
    val withAr = FeatureOps.addArTerms(twoSeries(8), 3)
    val model = MllibTsEstimator("mlr", Seq("ar_1", "ar_2", "ar_3")).fit(withAr)
    val sc = RowScorer.unwrap(model)
    assert(sc.isDefined, "mlr pipeline must be row-scorable")
    assertSame(
      horizonBy(withAr, model, sc), horizonBy(withAr, model, None))
  }

  test("dynamicForecast: scorer path == ledger path (gbt tree model)") {
    val withAr = FeatureOps.addArTerms(twoSeries(6), 2)
    val model = MllibTsEstimator("gbt", Seq("ar_1", "ar_2"),
      params = Map("n_estimators" -> 10.0, "max_depth" -> 3.0)).fit(withAr)
    val sc = RowScorer.unwrap(model)
    assert(sc.isDefined, "gbt pipeline must be row-scorable")
    assertSame(
      horizonBy(withAr, model, sc), horizonBy(withAr, model, None))
  }

  test("dynamicTestForecast: scorer path == wavefront ledger path (AR(2), k=3)") {
    val base = FeatureOps.addArTerms(twoSeries(0), 2)
    val flagged = SeriesFrame.withTestFlag(base, 9)
    val model = MllibTsEstimator("mlr", Seq("ar_1", "ar_2")).fit(flagged)
    val sc = RowScorer.unwrap(model)
    assert(sc.isDefined)
    assertSame(
      testBy(flagged, model, 3, sc), testBy(flagged, model, 3, None))
  }

  test("scaler pipelines are not row-scorable and fall back to the ledger") {
    val withAr = FeatureOps.addArTerms(twoSeries(4), 1)
    val model = MllibTsEstimator("mlr", Seq("ar_1"), normalizer = "scale").fit(withAr)
    assert(RowScorer.unwrap(model).isEmpty)
    // dispatch still produces a forecast on every horizon row
    val out = Recursive.dynamicForecast(withAr, model)
    assert(out.filter(col(IsFuture) && col("yhat").isNotNull).count() === 8)
  }

  test("horizon walk == wavefront: AR lags {2, 3}, unequal horizons, levels < steps") {
    val a = obsSeries((1 to 30).map(t => 10.0 + 0.5 * t + 3 * math.sin(t / 2.0)), "a")
    val b = obsSeries((1 to 30).map(t => 50.0 - 0.3 * t + 2 * math.cos(t / 3.0)), "b")
    val frame = SeriesFrame.withMonthlyHorizon(a, 5)
      .unionByName(SeriesFrame.withMonthlyHorizon(b, 8))
    val withAr = FeatureOps.addArTerms(frame, 3).drop("ar_1")
    val model = MllibTsEstimator("mlr", Seq("ar_2", "ar_3")).fit(withAr)
    val sc = RowScorer.unwrap(model)
    assert(sc.isDefined)
    // no lag 1: positions s and s + 1 never depend on each other, so 8
    // steps take 4 levels
    val level = Recursive.levels(8, Seq(2, 3), Int.MaxValue, Set.empty)
    assert(level.toSeq === Seq(0, 1, 1, 2, 2, 3, 3, 4, 4))
    val walked = horizonBy(withAr, model, sc)
    assertSame(walked, horizonBy(withAr, model, None))
    val fut = walked.filter(col(IsFuture) && col("yhat").isNotNull && !isnan(col("yhat")))
    assert(fut.filter(col(SeriesId) === "a").count() === 5)
    assert(fut.filter(col(SeriesId) === "b").count() === 8)
  }

  test("test walk == wavefront at k = 3 with a null actual at a peek: both read the prediction") {
    val base = SeriesFrame.withTestFlag(FeatureOps.addArTerms(twoSeries(0), 2), 9)
    val model = MllibTsEstimator("mlr", Seq("ar_1", "ar_2")).fit(base)
    val sc = RowScorer.unwrap(model)
    assert(sc.isDefined)
    // series a's test slice is t = 22..30; position 3 (t = 24) is a peek
    // whose actual is missing
    val peekDs = base.filter(col(SeriesId) === "a").orderBy(Ds).collect()(23).getDate(1)
    val flagged = base.withColumn(Y,
      when(col(SeriesId) === "a" && col(Ds) === lit(peekDs), lit(null).cast("double"))
        .otherwise(col(Y)))
    val walked = testBy(flagged, model, 3, sc)
    val waved = testBy(flagged, model, 3, None)
    assertSame(walked, waved)
    // every test row scores: position 4 reads position 3's prediction
    for (out <- Seq(walked, waved))
      assert(out.filter(col("is_test") && col("yhat").isNotNull && !isnan(col("yhat")))
        .count() === 18)
    val testA = walked.filter(col(SeriesId) === "a" && col("is_test")).orderBy(Ds)
      .collect().map(_.getAs[Double]("yhat"))
    val f = model.asInstanceOf[graft.models.OlsModel].fitted
    val beta = f.feats.zip(f.beta).toMap
    // position 4 reads position 3's prediction (lag 1) and position 2's (lag 2)
    assert(math.abs(testA(3) -
      (f.intercept + beta("ar_1") * testA(2) + beta("ar_2") * testA(1))) < 1e-9)
  }
}
