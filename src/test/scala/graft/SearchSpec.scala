package graft

import graft.core.SeriesFrame
import graft.eval.{AutoSelect, Evaluation}
import graft.functions.Diagnostics
import graft.models.{Baselines, Theta}
import graft.results.ResultsStore
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {

  test("autoArma prefers q>0 for an MA-flavored process") {
    // strong MA(1) signature: y_t = e_t + 0.8 e_{t-1} over deterministic noise
    val e = (0 until 80).map(i => math.sin(i * 2.39) * 2 + math.cos(i * 0.77))
    val ys = (1 until 80).map(i => 10 + e(i) + 0.8 * e(i - 1))
    val ((p, q), aic) = graft.eval.AutoSelect.autoArma(obsSeries(ys), 2, 2,
      parallelism = 2)
    assert(!aic.isNaN && (p + q) > 0)
  }

  test("findStatisticalTransformation prescribes diff for a trending series, nothing for noise") {
    // strong trend: the constant-only ADF regression cannot reject a unit root
    val trending = (0 until 120).map(i => 100.0 + 2.0 * i + math.sin(i / 3.0))
    val (stack, _) = graft.eval.AutoSelect.findStatisticalTransformation(obsSeries(trending))
    assert(stack.stack.nonEmpty, "trending series should get a transform")

    val noise = (0 until 120).map(i => 5.0 + math.sin(i * 2.39))
    val (stack2, _) = graft.eval.AutoSelect.findStatisticalTransformation(obsSeries(noise))
    assert(stack2.stack.isEmpty, "stationary noise should pass untouched")
  }

  test("normalityTest: gaussian-ish sample passes, exponential fails") {
    val rnd = new scala.util.Random(11)
    val gauss = (0 until 300).map(_ => rnd.nextGaussian())
    val expo = (0 until 300).map(_ => -math.log(rnd.nextDouble()))
    val pg = graft.functions.Diagnostics.normalityTest(obsSeries(gauss))
      .select("pvalue").first().getDouble(0)
    val pe = graft.functions.Diagnostics.normalityTest(obsSeries(expo))
      .select("pvalue").first().getDouble(0)
    assert(pg > 0.05, s"gaussian p=$pg")
    assert(pe < 0.01, s"exponential p=$pe")
  }

  test("exportXvars keeps only the spine and regressors") {
    val df = graft.functions.FeatureOps.addTimeTrend(obsSeries((1 to 20).map(_.toDouble)))
    val out = graft.core.SeriesFrame.exportXvars(df)
    assert(out.columns.toSeq == Seq("series_id", "ds", "t"))
  }

  test("tuneTestForecast tunes each model spec and scores the test slice") {
    import graft.eval.Evaluation
    val ys = (1 to 48).map(i => 10.0 + i + 3 * math.sin(i / 6.0))
    val specs = Map(
      "naive" -> (Evaluation.expandGrid(Map("m" -> Seq(1.0, 12.0))),
        (p: Map[String, Double]) => (f: org.apache.spark.sql.DataFrame) =>
          graft.models.Baselines.naiveFitted(f, p("m").toInt)),
      "broken" -> (Seq(Map("x" -> 1.0)),
        (_: Map[String, Double]) => (_: org.apache.spark.sql.DataFrame) =>
          throw new RuntimeException("boom"))
    )
    val out = Evaluation.tuneTestForecast(obsSeries(ys), specs,
      k = 2, h = 6, testLength = 6, parallelism = 2)
    assert(out.keySet == Set("naive"), "broken spec skipped, naive kept")
    val (best, metrics) = out("naive")
    assert(best.contains("m"))
    assert(metrics.columns.contains("rmse") && metrics.count() == 1)
  }

  test("featureImportance ranks the informative feature first for trees and linear") {
    import graft.models.MllibTsEstimator
    val spark2 = spark; import spark2.implicits._
    val df = (1 to 200).map { i =>
      val x1 = math.sin(i * 2.39) * 10          // informative
      val x2 = math.cos(i * 7.13) * 0.01        // noise
      ("s", java.sql.Date.valueOf(f"2020-01-${i % 28 + 1}%02d"), 3.0 * x1 + 0.5, false, x1, x2)
    }.toDF("series_id", "ds", "y", "is_future", "x1", "x2")
    for (algo <- Seq("mlr", "rf")) {
      val m = MllibTsEstimator(algo, Seq("x1", "x2")).fit(df)
      val imp = graft.eval.AutoSelect.featureImportance(m, Seq("x1", "x2"))
      assert(imp.head._1 == "x1", s"$algo importance: $imp")
    }
  }

  test("expandGrid is the deterministic cartesian product") {
    val g = graft.eval.Evaluation.expandGrid(
      Map("alpha" -> Seq(0.1, 0.2), "beta" -> Seq(1.0, 2.0, 3.0)))
    assert(g.size == 6)
    assert(g.head == Map("alpha" -> 0.1, "beta" -> 1.0))
    assert(g.last == Map("alpha" -> 0.2, "beta" -> 3.0))
  }

  test("validationGrid exports typed param and per-fold metric columns") {
    import graft.eval.Evaluation
    val ys = (1 to 48).map(i => 10.0 + i + 3 * math.sin(i / 6.0))
    val grid = Evaluation.expandGrid(Map("m" -> Seq(1.0, 12.0)))
    val cells = Evaluation.gridSearchDetailed(obsSeries(ys), grid,
      p => f => graft.models.Baselines.naiveFitted(f, p("m").toInt),
      k = 2, h = 6, parallelism = 2)
    assert(cells.size == 2 && cells.forall(_.foldMetrics.size == 2))
    val df = Evaluation.validationGrid(spark, cells)
    assert(df.columns.toSeq == Seq("m", "fold_0_rmse", "fold_1_rmse", "mean_rmse"))
    assert(df.schema.fields.forall(_.dataType.typeName == "double"))
    assert(df.count() == 2)
    // ranking agrees with the detailed cells
    val best = Evaluation.gridSearch(obsSeries(ys), grid,
      p => f => graft.models.Baselines.naiveFitted(f, p("m").toInt),
      k = 2, h = 6, parallelism = 2).head._1
    assert(best == cells.minBy(_.mean).params)
  }

  // trending + seasonal series with deterministic noise
  val ys: Seq[Double] = (0 until 60).map(t =>
    100.0 + 2.0 * t + 15 * math.sin(2 * math.Pi * (t % 12) / 12.0) + ((t * 31) % 7) - 3)

  test("autoXvarSelect picks trend and some AR structure on a trending series") {
    val sel = AutoSelect.autoXvarSelect(obsSeries(ys), maxAr = 3, h = 6)
    assert(sel.trend.nonEmpty, s"expected a trend rep, got $sel")
    assert(!sel.rmse.isNaN)
  }

  test("bestSeriesLength evaluates all candidates and returns a winner") {
    val (len, rmse) = AutoSelect.bestSeriesLength(obsSeries(ys), Seq(24, 36, 48), 6,
      f => Baselines.trendSeasonal(f))
    assert(Seq(24, 36, 48).contains(len) && !rmse.isNaN)
  }

  test("default grids expand deterministically and feed the registry") {
    import graft.eval.Grids
    val en = Grids.gridFor("elasticnet")
    assert(en.size === 20 * 5 * 2)
    assert(Grids.gridFor("mlr").expand.map(_._2) === Seq("scale", "minmax", "none"))
    assert(Grids.gridFor("theta").params("theta").head === 0.5)
    val err = intercept[IllegalArgumentException](Grids.gridFor("tbats"))
    assert(err.getMessage.contains("available"))
    // rows plug straight into the estimator registry
    val (params, norm) = Grids.gridFor("ridge").expand.head
    val est = graft.models.MllibTsEstimator("ridge", Seq("ar_1"), params, norm)
    assert(est.params("alpha") === 0.01 && norm === "none")
    // limit_grid_size composes
    assert(AutoSelect.limitGridSize(en.expand, 10).size === 10)
  }

  test("findOptimalTransformation only keeps improving transforms") {
    val r = AutoSelect.findOptimalTransformation(obsSeries(ys), m = 12, h = 6)
    assert(!r.score.isNaN)
    assert(r.stack.stack.size <= 5)
    assert(r.accepted.size === r.stack.stack.size)
  }

  /** `body`'s result plus the Spark jobs it left running: active after it
    * returned (bus drained) and not already active before it began. */
  private def withJobsLeftRunning[A](body: => A): (A, Set[Int]) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftBus.drain(sc)
    val before = sc.statusTracker.getActiveJobIds.toSet
    val out = body
    org.apache.spark.GraftBus.drain(sc)
    (out, sc.statusTracker.getActiveJobIds.toSet -- before)
  }

  test("findOptimalTransformation with no candidates returns the baseline score") {
    val df = obsSeries(ys)
    val (r, leaked) = withJobsLeftRunning(AutoSelect.findOptimalTransformation(
      df, m = 12, h = 6, candidateNames = Seq("no_such_transform")))
    val baseline = AutoSelect.scoreFeatures(
      graft.functions.FeatureOps.addArTerms(df.filter(!col("is_future")), 4),
      (1 to 4).map(i => s"ar_$i"), 6)
    assert(!r.score.isNaN && !r.score.isInfinite)
    assert(r.score === baseline)
    assert(r.stack.stack.isEmpty && r.accepted.isEmpty)
    assert(leaked.isEmpty, s"jobs still running after return: $leaked")
  }

  test("findOptimalTransformation leaves no speculative job running") {
    // detrend is accepted on this trending series, which discards the
    // lookahead evaluation of the next candidate against the old state
    val (r, leaked) = withJobsLeftRunning(AutoSelect.findOptimalTransformation(
      obsSeries(ys), m = 12, h = 6, candidateNames = Seq("detrend", "boxcox", "diff1")))
    assert(r.accepted.headOption.contains("detrend") && !r.score.isNaN)
    assert(leaked.isEmpty, s"jobs still running after return: $leaked")
  }

  test("theta forecast blends trend extrapolation and SES") {
    val df = SeriesFrame.withMonthlyHorizon(obsSeries(ys), 6)
    val out = Theta.thetaForecast(df)
    val fc = col1(out.filter(col("is_future")), "yhat")
    assert(fc.length === 6 && fc.forall(v => !v.isNaN))
    // trend slope 2/month dominates: forecasts should keep rising
    assert(fc.last > fc.head)
  }

  test("results store: bank, summaries, ordering, synthesize") {
    val base = SeriesFrame.withTestFlag(obsSeries(ys), 6)
    val res = ResultsStore.union(
      ResultsStore.bank(Baselines.naiveFitted(base, 1), "naive"),
      ResultsStore.bank(Baselines.trendSeasonal(base), "ts"))
    val sm = ResultsStore.modelSummaries(res)
    assert(sm.count() === 2)
    val ranked = ResultsStore.orderModels(sm, "test_rmse").collect()
    assert(ranked.head.getString(0) === "ts") // trend model beats naive on a trend
    val syn = ResultsStore.synthesize(res, Seq("naive", "ts"))
    assert(syn.filter(col("yhat").isNotNull).count() > 0)
    val popped = ResultsStore.pop(res, "naive")
    assert(popped.select("model").distinct().count() === 1)
  }

  test("ACF of a strongly trending series is high at lag 1; PACF cuts off") {
    val df = obsSeries(ys)
    val a = Diagnostics.acf(df, 3).orderBy("lag").collect().map(_.getDouble(2))
    assert(a(0) > 0.5, s"lag-1 acf ${a(0)}")
    val p = Diagnostics.pacf(df, 3).collect()
      .map(r => (r.getInt(1), r.getDouble(2))).toMap
    assert(p.size === 3)
    // durbin-levinson sanity: pacf(1) == acf(1)
    assert(math.abs(p(1) - a(0)) < 1e-9)
  }

  test("ADF t-stat: stationary noise is clearly more negative than a random walk") {
    val noise = (0 until 80).map(t => ((t * 37) % 11).toDouble - 5)
    val walk = noise.scanLeft(0.0)(_ + _).tail
    val tNoise = Diagnostics.adfT(obsSeries(noise)).select("adf_t").first().getDouble(0)
    val tWalk = Diagnostics.adfT(obsSeries(walk)).select("adf_t").first().getDouble(0)
    assert(tNoise < tWalk, s"stationary $tNoise should be < walk $tWalk")
    assert(tNoise < -2.86) // rejects unit root at 5%
  }

  test("corrLags: series correlates perfectly with itself at lag 0") {
    val df = obsSeries(ys, "a").unionByName(obsSeries(ys, "b"))
    val c = Diagnostics.corrLags(df, "a", "b", 2)
      .filter(col("lag") === 0).first().getAs[Double]("corr")
    assert(math.abs(c - 1.0) < 1e-9)
  }
}
