package graft

import graft.eval.Evaluation
import graft.models.MllibTsEstimator
import graft.obs.RunRecorder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the one-pass linear tune ([[Evaluation.gridSearchLinear]], every
  * (fold, cell) solved from [[graft.models.Ols]] moments) to the generic
  * grid search with MLlib-fitted models, pins the facade's choice between
  * the two, and pins what the moments path saves in Spark jobs. */
class TuneParitySpec extends SparkSpec {

  /** Three series × 48 months with a trend and an exogenous `x`; series a
    * misses one `y` (fold 0's validation slice, later folds' train slice)
    * and series b one `x` (fold 1's validation slice, fold 0's train). */
  private lazy val panel: DataFrame = {
    import spark.implicits._
    val rows = for (s <- Seq("a", "b", "c"); i <- 0 until 48) yield {
      val lvl = 10.0 * (s.head - 'a' + 1)
      val y = lvl + 0.4 * i + 3.0 * math.sin(i / 2.0) + ((i * 7 + s.head) % 5)
      val x = math.cos(i * 1.3 + s.head)
      (s, java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusMonths(i)),
        if (s == "a" && i == 45) None else Some(y), false, i + 1.0,
        if (s == "b" && i == 39) None else Some(x))
    }
    rows.toDF("series_id", "ds", "y", "is_future", "t", "x")
  }

  private val feats = Seq("t", "x")

  private def mllibCells(algo: String, grid: Seq[Map[String, Double]], metric: String) = {
    val fitWith: Map[String, Double] => Evaluation.ModelFn = ps => flagged =>
      MllibTsEstimator(algo, feats, ps).fitMllib(flagged).transform(flagged)
    Evaluation.gridSearchDetailed(panel, grid, fitWith, k = 3, h = 6, metricName = metric)
  }

  for ((algo, grid) <- Seq(
         "ridge" -> Seq(0.01, 0.5, 1.0, 10.0).map(a => Map("alpha" -> a)),
         "mlr" -> Seq(Map.empty[String, Double]));
       metric <- Seq("rmse", "mae")) {
    test(s"one-pass $algo tune equals MLlib-fitted gridSearchDetailed per fold ($metric)") {
      val fast = Evaluation.gridSearchLinear(panel, feats, algo, grid, k = 3, h = 6, metricName = metric)
      val slow = mllibCells(algo, grid, metric)
      assert(fast.map(_.params) == slow.map(_.params))
      fast.zip(slow).foreach { case (a, b) =>
        assert(a.foldMetrics.size == 3 && b.foldMetrics.size == 3, s"$a vs $b")
        (a.foldMetrics :+ a.mean).zip(b.foldMetrics :+ b.mean).foreach { case (x, y) =>
          assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)), s"${a.params}: $x vs $y")
        }
      }
    }
  }

  test("one-pass ridge tune equals the generic path over the routed OlsModel") {
    val grid = Seq(0.01, 1.0, 10.0).map(a => Map("alpha" -> a))
    val fitWith: Map[String, Double] => Evaluation.ModelFn = ps => flagged => {
      val model = MllibTsEstimator("ridge", feats, ps).fit(flagged)
      assert(model.isInstanceOf[graft.models.OlsModel])
      model.transform(flagged)
    }
    val generic = Evaluation.gridSearchDetailed(panel, grid, fitWith, k = 3, h = 6)
    val fast = Evaluation.gridSearchLinear(panel, feats, "ridge", grid, k = 3, h = 6)
    fast.zip(generic).foreach { case (a, b) =>
      a.foldMetrics.zip(b.foldMetrics).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(y)), s"${a.params}: $x vs $y")
      }
    }
  }

  test("a fold with no train rows scores NaN and ranks last") {
    val short = panel.filter(col("t") <= 20.0)
    val cells = Evaluation.gridSearchLinear(short, feats, "ridge",
      Seq(Map("alpha" -> 1.0)), k = 4, h = 6)
    assert(cells.size == 1 && cells.head.mean.isNaN && cells.head.foldMetrics.isEmpty)
  }

  test("tune takes the moments path only for mlr/ridge, no normalizer, no AR, alpha-only grids") {
    val base = Forecaster(panel)
    val alphas = Seq(Map("alpha" -> 0.1), Map("alpha" -> 1.0))
    assert(base.setEstimator("ridge").linearTune(alphas))
    assert(base.setEstimator("mlr").linearTune(Seq(Map.empty)))
    assert(!base.addArTerms(1).setEstimator("ridge").linearTune(alphas), "AR features")
    assert(!base.setEstimator("ridge", normalizer = "scale").linearTune(alphas), "scale normalizer")
    assert(!base.setEstimator("ridge").linearTune(Seq(Map("alpha" -> 1.0, "maxiter" -> 10.0))),
      "non-alpha grid key")
    assert(!base.setEstimator("lasso").linearTune(alphas), "lasso keeps MLlib")
    // both paths pick the same winner
    val grid = Seq(Map("alpha" -> 0.001), Map("alpha" -> 1000.0))
    val tuned = base.setEstimator("ridge").tune(grid, k = 3, h = 6)
    val best = Evaluation.rank(mllibCells("ridge", grid, "rmse"), "rmse").head._1
    assert(tuned.params == best && best("alpha") == 0.001)
  }

  test("the default ridge grid tunes in at most 3 jobs; exportForecasts builds with none") {
    val rec = RunRecorder.install(spark)
    try {
      // one input partition, as a materialized frame read back: no exchange
      // before the tune's own two passes
      val one = Forecaster(panel.drop("t", "x").coalesce(1)).setTestLength(6).addTimeTrend()
        .setEstimator("ridge")
      assert(one.defaultGrid.size == 100)
      val (_, t) = rec.measure(one.tune(one.defaultGrid, k = 3, h = 6))
      assert(t.jobs <= 3, s"tune ran ${t.jobs} jobs")
      // a multi-partition lineage adds its exchanges (one job each under
      // AQE), but never per grid cell
      val f = Forecaster(panel.drop("t", "x")).generateFutureDates(6).setTestLength(6)
        .addTimeTrend().setEstimator("ridge")
      val (tuned, all) = rec.measure(f.tune(f.defaultGrid, k = 3, h = 6))
      val (_, first) = rec.measure(f.tune(f.defaultGrid.take(1), k = 3, h = 6))
      assert(all.jobs == first.jobs, s"100 cells ran ${all.jobs} jobs, 1 cell ${first.jobs}")
      val banked = tuned.manualForecast("ridge")
        .setEstimator("naive").manualForecast("naive")
        .setComboModels("ridge", "naive").setEstimator("combo").manualForecast("combo")
      val (fc, e) = rec.measure(banked.exportForecasts())
      assert(e.jobs == 0, s"exportForecasts ran ${e.jobs} jobs at construction")
      val (_, tp) = rec.measure(banked.pop("naive").exportTestSetPredictions())
      assert(tp.jobs == 0, s"exportTestSetPredictions ran ${tp.jobs} jobs at construction")
      assert(fc.columns.toSeq == Seq("series_id", "ds", "combo", "naive", "ridge"))
      assert(fc.count() == 18 && fc.filter(col("ridge").isNull).count() == 0)
    } finally rec.close()
  }
}
