package graft

import graft.core.SeriesFrame
import graft.models.MvForecast
import org.apache.spark.sql.functions._

class MvSpec extends SparkSpec {

  // y2 follows y1 with a lag — cross-series structure a VAR can learn
  val y1: Seq[Double] = (0 until 40).map(t => 10.0 + 0.5 * t + 3 * math.sin(t / 3.0))
  val y2: Seq[Double] = 5.0 +: y1.dropRight(1).map(v => 0.7 * v + 1.0)

  def mvFrame = obsSeries(y1, "a").unionByName(obsSeries(y2, "b"))

  test("MvForecaster facade: coupled tier banks, exports, and optimizes") {
    val mv = MvForecaster(mvFrame, Seq("a", "b"))
      .generateFutureDates(4)
      .setTestLength(6)
      .setLags(1)
      .manualForecast(callMe = "mv_mlr")
    val res = mv.results.get
    assert(res.filter(col("is_future") && col("yhat").isNull).count() == 0,
      "both horizons complete")
    val sm = mv.exportModelSummaries(Seq("rmse"))
    assert(sm.count() == 2, "one summary row per (model, series)")
    // testLength 6 < 20 → no CIs at the default cilevel; at 0.8 they attach
    assert(res.filter(col("is_future") && col("lower").isNotNull).count() == 0)
    val withCis = MvForecaster(mvFrame, Seq("a", "b"))
      .generateFutureDates(4).setTestLength(6).setLags(1).setCilevel(0.8)
      .manualForecast(callMe = "mv_ci").results.get
    val fut = withCis.filter(col("is_future"))
    assert(fut.filter(col("lower").isNull || col("upper").isNull).count() == 0,
      "per-series conformal bounds attach at a supported cilevel")
    assert(fut.filter(col("upper") <= col("lower")).count() == 0)
    val collapsed = mv.optimizeOn("mv_mlr", "rmse", "mean")
    assert(!collapsed.isNaN && collapsed >= 0)
    assert(mv.exportForecasts().count() > 0)
  }

  test("optimizeOn names an unknown mode instead of failing on a null row value") {
    val perSeries = spark.createDataFrame(Seq(("a", 1.0), ("b", 3.0))).toDF("series_id", "rmse")
    assert(graft.eval.Evaluation.optimizeOn(perSeries, "rmse", "b") === 3.0)
    val e = intercept[IllegalArgumentException](
      graft.eval.Evaluation.optimizeOn(perSeries, "rmse", "meen"))
    assert(e.getMessage.contains("'meen'") && e.getMessage.contains("mean, min, max, weighted"),
      e.getMessage)
  }

  test("MvForecaster.backtest refits per origin; iter 0 equals the single-origin holdout") {
    val mv = MvForecaster(mvFrame, Seq("a", "b")).setLags(1)
    val bt = mv.backtest(nIter = 2, h = 6, jumpBack = 3)
    val rows = bt.collect()
    assert(rows.length == 4, "2 iterations x 2 series")
    assert(rows.forall { r =>
      val rmse = r.getAs[Double]("rmse")
      !rmse.isNaN && rmse >= 0 && r.getAs[Double]("mae") <= rmse + 1e-12
    })
    // iter 0 is exactly manualForecast's holdout scoring at the same h
    val single = graft.eval.Evaluation.metricsOverTest(
      mv.setTestLength(6).manualForecast("m").results.get
        .filter(col("model") === "m"), Seq("rmse", "mae"))
      .collect()
      .map(r => r.getAs[String]("series_id") -> r.getAs[Double]("rmse")).toMap
    val iter0 = rows.filter(_.getAs[Int]("iter") == 0)
      .map(r => r.getAs[String]("series_id") -> r.getAs[Double]("rmse")).toMap
    Seq("a", "b").foreach { sid =>
      assert(math.abs(single(sid) - iter0(sid)) < 1e-9,
        s"$sid: backtest iter0 ${iter0(sid)} vs single-origin ${single(sid)}")
    }
    // origins genuinely move: the two iterations score different slices
    val byIter = rows.groupBy(_.getAs[Int]("iter")).view
      .mapValues(_.map(_.getAs[Double]("rmse")).sorted.toSeq)
    assert(byIter(0) != byIter(1), "iterations must not score the same window")
  }

  test("MvForecaster facade: tuneTestForecast picks a lag depth, setBestModel ranks") {
    val mv = MvForecaster(mvFrame, Seq("a", "b"))
      .generateFutureDates(3)
      .setTestLength(8)
      .setOptimizeOn("mean")
      .tuneTestForecast(Seq(1, 2), callMe = "mv_tuned")
    assert(mv.bestModel.contains("mv_tuned"))
    assert(Seq(1, 2).contains(mv.lags), "winner comes from the grid")
    assert(mv.exportForecasts().count() == 6, "2 series x 3 horizon dates")
    // bank a second (worse) single-lag model, then rank
    val both = mv.manualForecast(callMe = "mv_alt").setBestModel("test_rmse")
    assert(Seq("mv_tuned", "mv_alt").contains(both.bestModel.get))
    assert(both.exportTestSetPredictions().count() == 16, "2 series x 8 holdout dates")
    assert(both.exportFittedVals(Some("mv_tuned"))
      .filter(col("fitted_vals").isNull).count() == 0 ||
      both.exportFittedVals(Some("mv_tuned")).count() > 0)
    // corr matrix: one (a,b) row over the shared calendar
    val cm = mv.corr().collect()
    assert(cm.length == 1 && !cm(0).getAs[Double]("corr").isNaN)
    // break_mv_forecaster: per-series Forecasters carry their result slice
    val broken = both.breakOut()
    assert(broken.keySet == Set("a", "b"))
    val fa = broken("a")
    assert(fa.frame.select("series_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("a"))
    assert(fa.results.get.select("series_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("a"))
    assert(fa.exportForecasts().count() == 3, "a's own 3 horizon rows")
  }

  test("MvForecaster facade routes oversized sets through the blocked tier") {
    import spark.implicits._
    def noise(t: Long): Double = {
      var z = t * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = z ^ (z >>> 31)
      (math.abs(z % 2000001L).toDouble / 1000000.0) - 1.0
    }
    val nObs = 40
    val a = (0 until nObs).map(t => 5.0 + 3.0 * noise(t))
    val rows = (0 until nObs).flatMap { t =>
      val ds = java.sql.Date.valueOf(java.time.LocalDate.of(2019, 1, 1).plusMonths(t))
      ("a", ds, Some(a(t)), false) +: (1 to 79).map { i =>
        val y = if (t == 0) 2.0 + i * 0.1
                else 2.0 + i * 0.1 + 0.6 * a(t - 1) + 0.05 * noise(t * 100 + i)
        (f"b$i%02d", ds, Some(y), false)
      }
    }
    val sids = "a" +: (1 to 79).map(i => f"b$i%02d")
    val df = rows.toDF("series_id", "ds", "y", "is_future")
    val mv = MvForecaster(df, sids)
      .generateFutureDates(3)
      .setLags(1)
      .setScreen(maxSources = 2, minAbsCorr = 0.3)
      .manualForecast(callMe = "mv_big")
    val fut = mv.results.get.filter(col("is_future"))
    assert(fut.count() == 80L * 3)
    assert(fut.filter(col("yhat").isNull || isnan(col("yhat"))).count() == 0)
    // same workflow through the ANN-screened (no pair pass) tier
    val futA = MvForecaster(df, sids)
      .generateFutureDates(3)
      .setLags(1)
      .setScreen(maxSources = 2, minAbsCorr = 0.3, approx = true)
      .manualForecast(callMe = "mv_big_approx")
      .results.get.filter(col("is_future"))
    assert(futA.count() == 80L * 3)
    assert(futA.filter(col("yhat").isNull || isnan(col("yhat"))).count() == 0)
  }

  test("screenApprox recovers the exact screen's block without the pair pass") {
    import spark.implicits._
    def noise(t: Int): Double = {
      var z = t.toLong * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = z ^ (z >>> 31)
      (math.abs(z % 2000001L).toDouble / 1000000.0) - 1.0
    }
    // 60 series in 3 driver families (one NEGATIVE coupling) + noise-only
    // series that must keep self-only blocks under the threshold
    val nObs = 48
    val drivers = Seq("d0", "d1", "d2").zipWithIndex.map { case (n, j) =>
      n -> (0 until nObs).map(t => 5.0 + 3.0 * noise(t * 10 + j))
    }
    val rows = (0 until nObs).flatMap { t =>
      val ds = java.sql.Date.valueOf(java.time.LocalDate.of(2019, 1, 1).plusMonths(t))
      drivers.map { case (n, ys) => (n, ds, ys(t), false) } ++
        (0 until 45).map { i =>
          val (dn, ys) = drivers(i % 3)
          val sign = if (i % 5 == 0) -0.7 else 0.7
          val y = if (t == 0) 2.0 + i * 0.1
                  else 2.0 + i * 0.1 + sign * ys(t - 1) + 0.05 * noise(t * 100 + i)
          (f"f$i%02d", ds, y, false)
        } ++
        (0 until 12).map(i => (f"n$i%02d", ds, 1.0 + 0.5 * noise(t * 1000 + i), false))
    }
    val frame = rows.toDF("series_id", "ds", "y", "is_future")
    def asSet(b: org.apache.spark.sql.DataFrame) =
      b.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val exact = asSet(graft.models.BlockedVar.screen(frame, 1, 2, 0.4))
    val approx = asSet(graft.models.BlockedVar.screenApprox(frame, 2, 0.4,
      profileWindow = 48))
    assert(exact == approx,
      s"approx block must equal the exact screen: missing ${exact -- approx}, extra ${approx -- exact}")
  }

  test("BlockedVar screens the true driver and fits past the coupled-set bound") {
    import spark.implicits._
    def noise(t: Int): Double = {
      var z = t.toLong * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = z ^ (z >>> 31)
      (math.abs(z % 2000001L).toDouble / 1000000.0) - 1.0
    }
    // 80 series (past CoupledSetMax=64): one white-noise driver 'a' and 79
    // followers tracking its lag — the screen must find 'a' for every
    // follower, and the fitted cross-coefficient must recover 0.6
    val nObs = 60
    val a = (0 until nObs).map(t => 5.0 + 3.0 * noise(t))
    val rows = (0 until nObs).flatMap { t =>
      val ds = java.sql.Date.valueOf(java.time.LocalDate.of(2019, 1, 1).plusMonths(t))
      ("a", ds, Some(a(t)), false) +: (1 to 79).map { i =>
        val y = if (t == 0) 2.0 + i * 0.1
                else 2.0 + i * 0.1 + 0.6 * a(t - 1) + 0.05 * noise(t * 100 + i)
        (f"b$i%02d", ds, Some(y), false)
      }
    }
    val frame = rows.toDF("series_id", "ds", "y", "is_future")
    val (fits, block) = graft.models.BlockedVar.fit(frame, maxLag = 1, maxSources = 2)
    val rank1 = block.filter(col("src_rank") === 1 && col("target") =!= "a")
      .select("target", "src").collect()
    assert(rank1.length == 79 && rank1.forall(_.getString(1) == "a"),
      "every follower's screened source must be the driver")
    // fi layout at maxLag=1, maxSources=2: 0=self lag, 1=screened source lag,
    // 2=intercept — the driver coefficient must recover ~0.6
    val betas = fits.filter(col("target") =!= "a").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("beta")))
    assert(betas.length == 79)
    betas.foreach { b =>
      assert(math.abs(b(1) - 0.6) < 0.05, s"driver beta ${b(1)} should be ~0.6")
      assert(math.abs(b(0)) < 0.2, s"self-lag beta ${b(0)} should be ~0")
    }
    val fitted = graft.models.BlockedVar.fittedValues(frame, 1, 2)
      .filter(col("series_id") =!= "a")
    val rmse = fitted.agg(sqrt(avg(pow(col("y") - col("yhat"), 2)))).first().getDouble(0)
    assert(rmse < 0.1, s"follower fit rmse $rmse")
  }

  test("BlockedVar dynamicForecast walks the coupled horizon (driver feeds followers)") {
    import spark.implicits._
    // deterministic driver + one follower b = 0.5*a_{t-1} + 1 EXACTLY:
    // the blocked recursion must reproduce the hand recursion to ~1e-9
    val nObs = 40
    val a = (0 until nObs).map(t => 10.0 + 3.0 * math.sin(t / 2.0) + 0.2 * t)
    val b = (0 until nObs).map(t => if (t == 0) 5.0 else 0.5 * a(t - 1) + 1.0)
    val frame = graft.core.SeriesFrame.withMonthlyHorizon(
      obsSeries(a, "a").unionByName(obsSeries(b, "b")), 4)
    val out = graft.models.BlockedVar.dynamicForecast(frame, maxLag = 1, maxSources = 2)
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
    assert(out.length == 8, s"both series x 4 steps, got ${out.length}")
    // replay: a's own equation drives a-hat; b-hat(step i) = 0.5*a-hat(i-1)+1
    val aFit = graft.models.BlockedVar.fit(frame, 1, 2)._1
      .filter(col("target") === "a").first().getSeq[Double](1)
    var aPrev = a.last
    val bPreds = out.filter(_._1 == "b").sortBy(_._2).map(_._3)
    val aPreds = out.filter(_._1 == "a").sortBy(_._2).map(_._3)
    for (i <- 0 until 4) {
      val bExpect = 0.5 * aPrev + 1.0
      assert(math.abs(bPreds(i) - bExpect) < 1e-6,
        s"step $i: b ${bPreds(i)} vs $bExpect")
      aPrev = aPreds(i)
    }
  }

  test("coupled cross-lag OLS refuses an oversized series set loudly") {
    val ids = (0 to MvForecast.CoupledSetMax).map(i => s"s$i")
    val e = intercept[IllegalArgumentException](
      MvForecast.fitPerSeriesOls(mvFrame, ids, 1))
    assert(e.getMessage.contains("coupled cross-lag"), e.getMessage)
  }

  test("addCrossSeriesLags builds xlag columns for every series") {
    val out = MvForecast.addCrossSeriesLags(mvFrame, Seq("a", "b"), 2)
    Seq("xlag_a_1", "xlag_a_2", "xlag_b_1", "xlag_b_2").foreach(c =>
      assert(out.columns.contains(c)))
    // row of series b at position 5 sees a's value at position 4
    val r = out.filter(col("series_id") === "b").orderBy("ds").collect()(5)
    assert(math.abs(r.getAs[Double]("xlag_a_1") - y1(4)) < 1e-12)
  }

  test("MV dynamic forecast: b's model learns b_t = 0.7*a_(t-1) + 1 exactly") {
    val base = SeriesFrame.withMonthlyHorizon(mvFrame, 4)
    val withLags = MvForecast.addCrossSeriesLags(base, Seq("a", "b"), 1)
    val fits = MvForecast.fitPerSeriesOls(withLags, Seq("a", "b"), 1)
    val out = MvForecast.dynamicForecastOls(withLags, fits, Seq("a", "b"), 1)
    val bFc = col1(out.filter(col("series_id") === "b" && col("is_future")), "yhat")
    val aFc = col1(out.filter(col("series_id") === "a" && col("is_future")), "yhat")
    assert(bFc.length === 4 && aFc.length === 4)
    // step 1 of b must be 0.7*a_T + 1 (exact linear relation, OLS recovers it)
    assert(math.abs(bFc.head - (0.7 * y1.last + 1.0)) < 1e-6, s"got ${bFc.head}")
    // step 2 of b consumes a's step-1 PREDICTION through the shared ledger
    assert(math.abs(bFc(1) - (0.7 * aFc.head + 1.0)) < 1e-5)
  }
}
