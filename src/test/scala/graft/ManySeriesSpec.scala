package graft

import graft.core.SeriesFrame
import graft.functions.FeatureOps
import graft.models.{MllibTsEstimator, Recursive}
import org.apache.spark.sql.functions._

/** The series-parallel claim, exercised: every window/ledger op must produce
  * complete per-series results when hundreds of series share one frame. */
class ManySeriesSpec extends SparkSpec {

  private val nSeries = 120
  private val nObs = 36

  private def manySeries(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (for (s <- 0 until nSeries; t <- 0 until nObs) yield {
      val sid = f"s$s%03d"
      val y = 20.0 + s * 0.5 + 0.8 * t + 3 * math.sin((t + s) / 3.0)
      (sid, java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusMonths(t)),
        Some(y), false)
    }).toDF("series_id", "ds", "y", "is_future")
  }

  test("dynamic forecast fills every series' full horizon from one shared ledger") {
    val base = SeriesFrame.withMonthlyHorizon(manySeries(), 4)
    val withAr = FeatureOps.addArTerms(base, 2)
    val model = MllibTsEstimator("mlr", Seq("ar_1", "ar_2")).fit(withAr)
    val fut = Recursive.dynamicForecast(withAr, model).filter(col("is_future"))
    assert(fut.count() == nSeries * 4L)
    assert(fut.filter(col("yhat").isNull || isnan(col("yhat"))).count() == 0,
      "every series' recursive steps must resolve from the ledger")
    // per-series horizons stay distinct (no cross-series ledger bleed):
    // forecasts should preserve the per-series level ordering
    val means = fut.groupBy("series_id").agg(avg("yhat").as("m"))
      .orderBy("series_id").collect().map(_.getDouble(1))
    assert(means.head < means.last, "series levels must be preserved")
  }

  test("dynamicTestForecast peeking works across many series at once") {
    val flagged = FeatureOps.addArTerms(
      SeriesFrame.withTestFlag(manySeries(), 8), 1)
    val model = MllibTsEstimator("mlr", Seq("ar_1")).fit(flagged)
    val scored = Recursive.dynamicTestForecast(flagged, model, 4)
      .filter(col("is_test"))
    assert(scored.count() == nSeries * 8L)
    assert(scored.filter(col("yhat").isNull || isnan(col("yhat"))).count() == 0)
  }

  test("boxcoxMleT + adfT stay distributed and complete over 10^4 series") {
    // distinct per-series shapes: exponential growth rate varies with the
    // series index, so the MLE λ must differ across series (argmax really is
    // per-series, not a shared constant)
    import spark.implicits._
    val n = 10000; val obs = 24
    // even series: pure exponential growth (MLE λ → 0); odd: linear (λ → 1)
    val big = spark.range(n.toLong * obs).select(
      format_string("s%05d", (col("id") / obs).cast("int")).as("series_id"),
      expr("date_add(date '2020-01-01', cast(id % 24 as int) * 7)").cast("date").as("ds"),
      when(((col("id") / obs) % 2) === 0,
          exp((col("id") % obs).cast("double") * 0.3) * (sin(col("id").cast("double")) * 0.05 + 1.0))
        .otherwise((col("id") % obs).cast("double") * 3.0 + 5.0 +
          sin(col("id").cast("double"))).as("y"),
      lit(false).as("is_future"))
    val t0 = graft.operators.Transforms.boxcoxMleT(big, Seq(-0.5, 0.0, 0.5, 1.0))
    val lam = t0.params.groupBy("p1").count()
    assert(t0.params.count() == n.toLong)
    assert(lam.count() >= 2, "λ must vary across series")
    val adf = graft.functions.Diagnostics.adfT(big)
    assert(adf.count() == n.toLong)
    assert(adf.filter(col("adf_t").isNull || isnan(col("adf_t"))).count() == 0)
  }

  test("findSeasonalLengthBySeries decides per series over 10^4 series") {
    // even series: strong period-6 cycle; odd: strong period-12 cycle — the
    // grouped argmax must split the decisions, and no per-series row may be
    // lost or cross-bled (the old scalar op kept an arbitrary series per lag)
    import spark.implicits._
    val n = 10000; val obs = 48
    val big = spark.range(n.toLong * obs).select(
      format_string("s%05d", (col("id") / obs).cast("int")).as("series_id"),
      expr(s"date_add(date '2020-01-01', cast(id % $obs as int) * 7)")
        .cast("date").as("ds"),
      when(((col("id") / obs).cast("long") % 2) === 0,
          sin((col("id") % obs).cast("double") * (2 * math.Pi / 6)) * 10.0)
        .otherwise(sin((col("id") % obs).cast("double") * (2 * math.Pi / 12)) * 10.0)
        .as("y"),
      lit(false).as("is_future"))
    val out = graft.eval.AutoSelect.findSeasonalLengthBySeries(big, Seq(4, 6, 12))
    assert(out.count() == n.toLong)
    val byM = out.groupBy("m").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byM.getOrElse(6, 0L) == n / 2, s"period-6 half: $byM")
    assert(byM.getOrElse(12, 0L) == n / 2, s"period-12 half: $byM")
    // the scalar form refuses the ambiguity a multi-series frame poses
    intercept[IllegalArgumentException](
      graft.eval.AutoSelect.findSeasonalLength(big, Seq(4, 6, 12)))
  }

  test("statTransformRecipesBySeries prescribes per series; applyStatRecipes executes in one pass") {
    import spark.implicits._
    // trending series (unit root not rejected → diff; positive → log) mixed
    // with stationary noise series (no transform)
    val n = 200; val obs = 40
    val big = spark.range(n.toLong * obs).select(
      format_string("s%04d", (col("id") / obs).cast("int")).as("series_id"),
      expr(s"date_add(date '2020-01-01', cast(id % $obs as int) * 7)")
        .cast("date").as("ds"),
      when(((col("id") / obs).cast("long") % 2) === 0,
          (col("id") % obs).cast("double") * 5.0 + 100.0 + sin(col("id").cast("double")))
        // two incommensurate frequencies: mean-reverting but NOT spanned by
        // the 2-lag ADF design (a single sinusoid would fit perfectly and
        // degenerate rss to 0)
        .otherwise(sin(col("id").cast("double") * 2.39) * 3.0 +
          sin(col("id").cast("double") * 0.9) * 2.0 + 10.0).as("y"),
      lit(false).as("is_future"))
    val recipes = graft.eval.AutoSelect.statTransformRecipesBySeries(big)
    assert(recipes.count() == n.toLong)
    val trending = recipes.filter(col("series_id") === "s0000").first()
    assert(trending.getAs[Boolean]("needs_diff") && trending.getAs[Boolean]("use_log"))
    val stationary = recipes.filter(col("series_id") === "s0001").first()
    assert(!stationary.getAs[Boolean]("needs_diff"))
    val applied = graft.eval.AutoSelect.applyStatRecipes(big, recipes)
    // untouched series keep all rows and values; transformed series drop one
    // (the diff head) and carry log-diff values
    val s1 = applied.filter(col("series_id") === "s0001")
    assert(s1.count() == obs.toLong)
    val s0 = applied.filter(col("series_id") === "s0000").orderBy("ds")
      .select("y").collect().map(_.getDouble(0))
    assert(s0.length == obs - 1)
    val expHead = math.log(105.0 + math.sin(1.0)) - math.log(100.0 + math.sin(0.0))
    assert(math.abs(s0.head - expHead) < 1e-9, s"got ${s0.head} want $expHead")
  }

  test("autoXvarSelectBySeries splits trend/seasonal decisions per series") {
    import spark.implicits._
    // even series: pure trend + noise (seasonal rep must NOT be selected);
    // odd: strong month-12 seasonality on a flat level (seasonal rep wins)
    val n = 400; val obs = 60
    val big = spark.range(n.toLong * obs).select(
      format_string("s%04d", (col("id") / obs).cast("int")).as("series_id"),
      expr(s"add_months(date '2019-01-01', cast(id % $obs as int))")
        .cast("date").as("ds"),
      when(((col("id") / obs).cast("long") % 2) === 0,
          (col("id") % obs).cast("double") * 2.0 + 20.0 +
            sin(col("id").cast("double") * 2.39))
        .otherwise(sin((col("id") % obs).cast("double") * (2 * math.Pi / 12)) * 8.0 +
          20.0 + sin(col("id").cast("double") * 2.39) * 0.5).as("y"),
      lit(false).as("is_future"))
    val out = graft.eval.AutoSelect.autoXvarSelectBySeries(big, h = 12)
    assert(out.count() == n.toLong)
    val seasonalByParity = out
      .withColumn("even", (expr("cast(substring(series_id, 2) as int)") % 2) === 0)
      .groupBy("even").agg(
        sum(when(col("seasonal") =!= "", 1).otherwise(0)).as("nSeas"),
        count(lit(1)).as("n")).collect()
      .map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (seasEven, nEven) = seasonalByParity(true)
    val (seasOdd, nOdd) = seasonalByParity(false)
    // the 12-point holdout makes individual decisions noisy; what must hold
    // is the per-series CONTRAST between the two constructions
    assert(seasOdd >= nOdd * 9 / 10, s"seasonal series must pick Fourier: $seasOdd/$nOdd")
    assert(seasOdd.toDouble / nOdd - seasEven.toDouble / nEven >= 0.5,
      s"decision rates must separate the constructions: $seasOdd/$nOdd vs $seasEven/$nEven")
  }

  test("scoreFeatureSetsBySeries == one scoreFeaturesBySeries per candidate") {
    import graft.functions.FeatureOps
    import graft.models.GroupedOls
    // 6 series with mixed trend/seasonal structure; candidates spanning the
    // full auto_Xvar pool, including the empty-lag and full-lag extremes
    val n = 6; val obs = 48
    val base = spark.range(n.toLong * obs).select(
      format_string("s%02d", (col("id") / obs).cast("int")).as("series_id"),
      expr(s"add_months(date '2020-01-01', cast(id % $obs as int))")
        .cast("date").as("ds"),
      ((col("id") % obs).cast("double") * 0.3 +
        sin((col("id") % obs).cast("double") * (2 * math.Pi / 12)) * 2.0 +
        sin(col("id").cast("double") * 2.39)).as("y"),
      lit(false).as("is_future"))
    val withF = FeatureOps.addArTerms(
      FeatureOps.addFourier(
        FeatureOps.addCalendar(
          FeatureOps.addTimeTrend(base).withColumn("t2", col("t") * col("t")),
          Seq("month")),
        col("month"), 12.0, "month"), 2)
    val candidates = Seq(
      "c0" -> Seq("t"),
      "c1" -> Seq("t", "t2"),
      "c2" -> Seq("t", "monthsin", "monthcos"),
      "c3" -> Seq("t", "ar_1"),
      "c4" -> Seq("t", "t2", "monthsin", "monthcos", "ar_1", "ar_2"))
    val batched = GroupedOls.scoreFeatureSetsBySeries(withF,
      alwaysPool = Seq("t", "t2", "monthsin", "monthcos"),
      lagPool = Seq("ar_1", "ar_2"), candidates, h = 12)
      .collect().map(r => r.getString(0) ->
        candidates.indices.map(i => r.getDouble(i + 1))).toMap
    assert(batched.size === n)
    candidates.zipWithIndex.foreach { case ((key, feats), i) =>
      val solo = GroupedOls.scoreFeaturesBySeries(withF, feats, 12)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      batched.foreach { case (sid, rs) =>
        assert(math.abs(rs(i) - solo(sid)) < 1e-9,
          s"$key/$sid: batched ${rs(i)} vs solo ${solo(sid)}")
      }
    }
    // a lagPool-order violation is rejected loudly
    val e = intercept[IllegalArgumentException] {
      GroupedOls.scoreFeatureSetsBySeries(withF, Seq("t"), Seq("ar_1", "ar_2"),
        Seq("bad" -> Seq("t", "ar_2")), h = 12)
    }
    assert(e.getMessage.contains("lagPool prefix"))
  }

  test("scoreFeatureSetsBySeries survives a series whose train slice is empty") {
    // s00: 48 obs (normal); s01: 8 obs with h=12 → every row is holdout, so
    // the train moments are null at every lag tier and beta is the NaN
    // sentinel — the step loop must not index past it (r9 regression)
    val rows = (0 until 48).map { t =>
      ("s00", t, 10.0 + 0.5 * t + math.sin(t / 3.0))
    } ++ (0 until 8).map { t => ("s01", t, 5.0 + t) }
    val base = spark.createDataFrame(rows).toDF("series_id", "ti", "y")
      .select(col("series_id"),
        expr("add_months(date '2020-01-01', ti)").cast("date").as("ds"),
        col("y"), lit(false).as("is_future"))
    val withF = FeatureOps.addArTerms(FeatureOps.addTimeTrend(base), 2)
    val out = graft.models.GroupedOls.scoreFeatureSetsBySeries(withF,
      alwaysPool = Seq("t"), lagPool = Seq("ar_1", "ar_2"),
      candidates = Seq("c0" -> Seq("t"), "c1" -> Seq("t", "ar_1", "ar_2")),
      h = 12).collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 2)
    assert(!out("s00").isNullAt(1) && !out("s00").isNullAt(2))
    assert(out("s01").isNullAt(1) && out("s01").isNullAt(2),
      "an all-holdout series must score null, not crash")
  }

  test("GroupedOls matches per-series Ols.fit exactly") {
    val f = manySeries()
    val withFeats = graft.functions.FeatureOps.addArTerms(
      graft.functions.FeatureOps.addTimeTrend(f), 2)
    val feats = Seq("t", "ar_1", "ar_2")
    val grouped = graft.models.GroupedOls.fitBySeries(withFeats, feats)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(grouped.size == nSeries)
    for (sid <- Seq("s000", "s042", "s119")) {
      val single = graft.models.Ols.fit(
        withFeats.filter(col("series_id") === sid), feats)
      val g = grouped(sid)
      assert(math.abs(g.head - single.intercept) < 1e-8, s"$sid intercept")
      single.beta.zip(g.tail).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-8, s"$sid beta $a vs $b") }
    }
  }

  test("findOptimalTransformationBySeries accepts detrend only where it helps") {
    import spark.implicits._
    // even series: strong linear trend (detrend must win); odd: mean-
    // reverting two-tone oscillation (detrend must be rejected)
    val n = 200; val obs = 48
    val big = spark.range(n.toLong * obs).select(
      format_string("s%04d", (col("id") / obs).cast("int")).as("series_id"),
      expr(s"date_add(date '2020-01-01', cast(id % $obs as int) * 7)")
        .cast("date").as("ds"),
      when(((col("id") / obs).cast("long") % 2) === 0,
          (col("id") % obs).cast("double") * 4.0 + 10.0 + sin(col("id").cast("double")))
        .otherwise(sin(col("id").cast("double") * 2.39) * 3.0 +
          sin(col("id").cast("double") * 0.9) * 2.0 + 10.0).as("y"),
      lit(false).as("is_future"))
    val (recipes, outFrame) = graft.eval.AutoSelect
      .findOptimalTransformationBySeries(big, h = 12, candidateNames = Seq("detrend"))
    // the decision is about holdout-rmse improvement, not trend presence, so
    // allow a few marginal series; the split must still clearly follow the
    // even (trending) / odd (stationary) construction
    val acc = recipes.filter(col("candidate") === "detrend" && col("accepted"))
      .select("series_id").collect().map(_.getString(0)).toSet
    val evenAcc = acc.count(s => s.stripPrefix("s").toInt % 2 == 0)
    assert(evenAcc >= 90, s"most trending series must accept detrend: $evenAcc/100")
    assert(acc.size - evenAcc <= 10,
      s"few stationary series may accept detrend: ${acc.size - evenAcc}/100")
    // the blended frame really is detrended for accepted series only:
    // a trending series' mean |y| collapses, a stationary one is untouched
    val m0 = outFrame.filter(col("series_id") === "s0000")
      .agg(avg(abs(col("y")))).first().getDouble(0)
    assert(m0 < 10.0, s"detrended trending series should hug 0, got $m0")
    val sTail = outFrame.filter(col("series_id") === "s0001")
      .agg(avg(col("y"))).first().getDouble(0)
    assert(math.abs(sTail - 10.0) < 1.0, s"untouched series keeps its level: $sTail")
  }

  test("BlockedVar component walk: 100 independent driver-follower pairs in one pass") {
    import spark.implicits._
    def noise(t: Long): Double = {
      var z = t * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = z ^ (z >>> 31)
      (math.abs(z % 2000001L).toDouble / 1000000.0) - 1.0
    }
    val nPairs = 100; val obs = 40; val h = 3
    val rows = (0 until nPairs).flatMap { p =>
      val a = (0 until obs).map(t => 5.0 + 3.0 * noise(p.toLong * 1000 + t))
      (0 until obs).flatMap { t =>
        val ds = java.sql.Date.valueOf(java.time.LocalDate.of(2019, 1, 1).plusMonths(t))
        Seq((f"a$p%03d", ds, Some(a(t)), false),
          (f"b$p%03d", ds,
            Some(if (t == 0) 1.0 else 1.0 + 0.7 * a(t - 1) + 0.01 * noise(p * 7919L + t)),
            false))
      }
    }
    val frame = SeriesFrame.withMonthlyHorizon(
      rows.toDF("series_id", "ds", "y", "is_future"), h)
    // threshold keeps only genuine edges → the graph is 100 independent pairs
    val out = graft.models.BlockedVar.dynamicForecast(frame, maxLag = 1,
      maxSources = 2, minAbsCorr = 0.3)
    assert(out.count() == nPairs * 2L * h, "every series' full horizon resolves")
    assert(out.filter(col("yhat").isNull || isnan(col("yhat"))).count() == 0)
    // each follower's step-1 forecast tracks its own driver's last actual
    val lastA = rows.filter(r => r._1.startsWith("a") && !r._4)
      .groupBy(_._1).map { case (sid, rs) => sid -> rs.maxBy(_._2.toString)._3.get }
    val step1 = out.withColumn("_rk",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("series_id").orderBy("ds")))
      .filter(col("_rk") === 1 && col("series_id").startsWith("b"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("yhat"))
    step1.foreach { case (sid, yh) =>
      val expect = 1.0 + 0.7 * lastA("a" + sid.stripPrefix("b"))
      assert(math.abs(yh - expect) < 0.1, s"$sid step1 $yh vs $expect")
    }
  }

  test("screenApprox recovers 2000 series' planted drivers without a pair pass") {
    import spark.implicits._
    def noise(t: Long): Double = {
      var z = t * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = z ^ (z >>> 31)
      (math.abs(z % 2000001L).toDouble / 1000000.0) - 1.0
    }
    // 20 driver families × 100 series: followers track ±(their driver's
    // lag); the screen must assign every follower its own family's driver
    val nFam = 20; val perFam = 100; val obs = 30
    val drv = Array.tabulate(nFam, obs)((f, t) => 5.0 + 3.0 * noise(t * 31L + f))
    val rows = (for (f <- 0 until nFam; i <- 0 until perFam; t <- 0 until obs) yield {
      val ds = java.sql.Date.valueOf(java.time.LocalDate.of(2018, 1, 1).plusMonths(t))
      val sid = f"f$f%02d_s$i%03d"
      val sign = if (i % 2 == 0) 0.8 else -0.8
      val y = if (i == 0) drv(f)(t)
        else if (t == 0) 1.0 + i * 0.01
        else 1.0 + i * 0.01 + sign * drv(f)(t - 1) +
          0.05 * noise(t * 7919L + f * 100003L + i)
      (sid, ds, y, false)
    }).toDF("series_id", "ds", "y", "is_future")
    val block = graft.models.BlockedVar.screenApprox(rows, maxSources = 2,
      minAbsCorr = 0.5, profileWindow = 30)
    val rank1 = block.filter(col("src_rank") === 1).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val followers = rank1.filter(!_._1.endsWith("_s000"))
    assert(followers.length == nFam * (perFam - 1),
      s"every follower needs a screened source, got ${followers.length}")
    assert(followers.forall { case (t, s) => s == t.take(3) + "_s000" },
      "every follower's source must be its own family's driver")
  }

  test("seasonalDecompose keeps components per-series on a shared frame") {
    val out = graft.operators.Transforms.seasonalDecompose(manySeries(), 12)
    assert(out.count() == nSeries.toLong * nObs)
    // interior rows (complete MA window) decompose everywhere
    val interior = out.filter(col("trend").isNotNull)
    assert(interior.count() == nSeries.toLong * (nObs - 12))
    assert(interior.filter(col("seasonal").isNull || col("resid").isNull).count() == 0)
    // seasonal means are normalized per series (sum ≈ 0 over one period)
    val sums = out.filter(col("ds") < lit("2021-01-01"))
      .groupBy("series_id").agg(sum("seasonal").as("s"))
      .filter(abs(col("s")) > 1e-6)
    assert(sums.count() == 0, "per-series seasonal components must be centered")
  }

  test("param joins give identical results with the broadcast gate on and off") {
    val base = manySeries()
    def run(): Set[(String, String, Double)] = {
      val t = graft.operators.Transforms.scaleT(base)
      val scored = graft.models.Baselines.naiveForecast(
        SeriesFrame.withMonthlyHorizon(t.transform(base), 3), 1)
      scored.filter(col("is_future"))
        .select(col("series_id"), col("ds").cast("string"), round(col("yhat"), 9))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    }
    val gated = run()
    // threshold -1 turns the gate off: no broadcast hint anywhere
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val viaShuffle = try run() finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(viaShuffle == gated && gated.size == nSeries * 3)
  }

  test("backtestMetrics and prophet_like stay complete per series over the shared frame") {
    val base = manySeries()
    val perIter = graft.eval.Evaluation.backtest(base, 2, 6, 6,
      f => graft.models.Baselines.naiveFitted(f, 1), Seq("rmse", "mae"))
    val pivoted = graft.eval.Evaluation.backtestMetrics(perIter, Seq("rmse", "mae"), 2)
    assert(pivoted.count() == nSeries * 2L) // one row per (series, metric)
    assert(pivoted.filter(col("iter_0").isNull || col("iter_1").isNull ||
      col("average").isNull).count() == 0)

    val fc = graft.models.ProphetLike.forecast(
      graft.core.SeriesFrame.withMonthlyHorizon(base, 3))
    val fut = fc.filter(col("is_future"))
    assert(fut.count() == nSeries * 3L)
    assert(fut.filter(col("yhat").isNull).count() == 0)
  }

  test("grouped conformal attaches one per-series width to by-series point forecasts") {
    val flagged = SeriesFrame.withTestFlag(
      FeatureOps.addTimeTrend(SeriesFrame.withMonthlyHorizon(manySeries(), 4)), 12)
    val scored = graft.models.GroupedOls.fitPredictBySeries(flagged, Seq("t"))
    val out = graft.operators.Conformal.attachBySeries(flagged, scored)
    val fut = out.filter(col("is_future"))
    assert(fut.count() == nSeries * 4L)
    assert(fut.filter(col("lower").isNull || col("upper").isNull ||
      col("ci_width").isNull).count() == 0, "every series' horizon gets bounds")
    // widths are genuinely per-series (the sin((t+s)/3) phase shifts the
    // trend-only residuals differently per series), not one pooled number
    val widths = out.select("series_id", "ci_width").distinct()
    assert(widths.count() == nSeries.toLong)
    assert(widths.select(countDistinct("ci_width")).first().getLong(0) > 1)
    // bounds bracket the point forecast symmetrically (to fp rounding)
    assert(fut.filter(abs((col("upper") - col("yhat")) - (col("yhat") - col("lower")))
      > lit(1e-9)).count() == 0)
  }

  test("inferFreq and withTestFlag stay per-series on a shared frame") {
    val df = manySeries()
    assert(SeriesFrame.inferFreq(df) == "MS")
    val flagged = SeriesFrame.withTestFlag(df, 5)
    val perSeries = flagged.filter(col("is_test"))
      .groupBy("series_id").count().collect()
    assert(perSeries.length == nSeries && perSeries.forall(_.getLong(1) == 5L))
  }
}
