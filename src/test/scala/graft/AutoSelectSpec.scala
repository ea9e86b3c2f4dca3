package graft

import graft.eval.AutoSelect
import graft.functions.FeatureOps
import graft.models.{Arima, Ols}
import graft.operators.Transforms
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AutoSelectSpec extends SparkSpec {

  val ar1: Seq[Double] = Iterator.iterate(50.0)(v => 10.0 + 0.8 * v).take(60).toSeq
    .zipWithIndex.map { case (v, t) => v + ((t * 29) % 7) - 3 }

  test("autoAr picks a small order for an AR(1)-ish process") {
    val (p, aic) = AutoSelect.autoAr(obsSeries(ar1), maxP = 5)
    assert(p >= 1 && p <= 5 && !aic.isNaN)
  }

  /** [[ar1]] with y missing at t = 30, inside the observed range (a gap on
    * a date spine). */
  private def withGap: DataFrame =
    seriesOf(ar1.zipWithIndex.map { case (v, t) => if (t == 30) None else Some(v) })

  /** The OLS AIC of `feats` on `frame` from its pieces, with n the residual
    * count (rows whose y and every feature are known) and with n + 1 (the
    * gap row counted too). Asserts the gap row is feature-complete, so
    * only its null y keeps it out. */
  private def aicBothWays(frame: DataFrame, feats: Seq[String]): (Double, Double) = {
    val complete = feats.map(c => col(c).isNotNull).reduce(_ && _) && !col("is_future")
    assert(frame.filter(complete && col("y").isNull).count() === 1)
    val fit = Ols.fit(frame, feats)
    val r = frame.filter(complete && col("y").isNotNull)
      .agg(sum(pow(col("y") - fit.predictExpr, 2)), count(lit(1))).first()
    val sse = r.getDouble(0)
    def aic(n: Double) = n * math.log(sse / n) + 2.0 * (feats.size + 1)
    (aic(r.getLong(1).toDouble), aic(r.getLong(1) + 1.0))
  }

  test("autoAr counts no null-y row in the AIC's n") {
    val (p, aic) = AutoSelect.autoAr(withGap, maxP = 3)
    val lags = FeatureOps.addArTerms(withGap, 3)
    val (exact, gapCounted) = aicBothWays(lags, (1 to p).map(i => s"ar_$i"))
    assert(math.abs(aic - exact) < 1e-6, s"autoAr AIC $aic, expected $exact")
    assert(math.abs(gapCounted - exact) > 1e-3)
  }

  test("armaAic counts no null-y row in the AIC's n") {
    val arma = Arima.armaAic(withGap, 1, 1)
    val (armaExact, armaGapCounted) =
      aicBothWays(Arima.fitArma(withGap, 1, 1).prepared, Seq("ar_1", "elag_1"))
    assert(math.abs(arma - armaExact) < 1e-6, s"armaAic $arma, expected $armaExact")
    assert(math.abs(armaGapCounted - armaExact) > 1e-3)
  }

  test("autoAr leaves no cache entry behind") {
    // suites sharing this session may hold cache entries of their own, so
    // count them (`numCachedEntries` is Spark-private, public in bytecode)
    val cache = spark.sharedState.cacheManager
    def entries = cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    val before = entries
    AutoSelect.autoAr(obsSeries(ar1), maxP = 3)
    assert(entries === before, "autoAr left a permanent cache entry in the session CacheManager")
  }

  test("findSeasonalLength detects the annual cycle") {
    val ys = (0 until 72).map(t => 100.0 + 30 * math.sin(2 * math.Pi * t / 12.0))
    assert(AutoSelect.findSeasonalLength(obsSeries(ys)) === 12)
  }

  test("reduceXvars drops a pure-noise feature before a real one") {
    val ys = (0 until 60).map(t => 10.0 + 2.0 * t + ((t * 31) % 5) - 2)
    val df = graft.functions.FeatureOps.addTimeTrend(obsSeries(ys))
      .withColumn("noise", pmod(col("t") * 7919, lit(11)).cast("double"))
    val (kept, rmse) = AutoSelect.reduceXvars(df, Seq("t", "noise"), 6)
    assert(kept.contains("t"), s"kept=$kept")
    assert(!rmse.isNaN)
  }

  test("limitGridSize deterministic subsample") {
    val g = (1 to 100).toList
    val s1 = AutoSelect.limitGridSize(g, 10)
    val s2 = AutoSelect.limitGridSize(g, 10)
    assert(s1 === s2 && s1.size === 10)
  }

  test("periodogram peaks at the true frequency") {
    val ys = (0 until 48).map(t => 10 * math.sin(2 * math.Pi * 4 * t / 48.0))
    val p = AutoSelect.periodogram(obsSeries(ys))
      .collect().map(r => (r.getInt(1), r.getDouble(2)))
    assert(p.maxBy(_._2)._1 === 4)
  }

  test("boxcoxMleT picks λ≈0 for an exponential series") {
    val ys = (0 until 50).map(t => math.exp(2.0 + 0.05 * t))
    val t0 = Transforms.boxcoxMleT(obsSeries(ys))
    val lambda = t0.params.select("p1").first().getDouble(0)
    assert(math.abs(lambda) <= 0.3, s"λ=$lambda")
  }
}
