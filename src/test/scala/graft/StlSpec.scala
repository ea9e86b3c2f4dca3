package graft

import graft.operators.Transforms
import org.apache.spark.sql.functions._

/** ts_stl's second, independent pin (its first is the full closed-form
  * DuckDB oracle — the stl* SQL generators in [[graft.queries.TsQueries]]):
  * a driver-side reference STL — re-derived from Cleveland et al. (1990) with an
  * independently-arranged LOWESS (centered weighted moments vs the
  * engine's raw-sum normal equations) — pinned against the distributed
  * `Transforms.stl` at 1e-6 relative over the bench fixture's monthly
  * orders series. Also pins the decomposition identity and the grouped
  * path's ordering (the executor sorts by date inside each group; the
  * reference sorts on the driver). */
class StlSpec extends SparkSpec {

  private def refLowess(ys: Array[Double], frac: Double): Array[Double] = {
    val n = ys.length
    val span = math.max(2, math.min(n, math.ceil(frac * n).toInt))
    Array.tabulate(n) { i =>
      var lo = i - (span - 1) / 2
      if (lo < 0) lo = 0
      if (lo > n - span) lo = n - span
      val hi = lo + span - 1
      val dmax = math.max(i - lo, hi - i).toDouble
      val js = (lo to hi).toArray
      val w = js.map { j =>
        val u = math.abs(j - i) / math.max(dmax, 1e-12)
        val c = 1.0 - u * u * u
        if (c <= 0) 0.0 else c * c * c
      }
      val sw = w.sum
      if (sw == 0.0) ys(i)
      else {
        val xbar = js.indices.map(k => w(k) * js(k)).sum / sw
        val ybar = js.indices.map(k => w(k) * ys(js(k))).sum / sw
        val sxx = js.indices.map(k => w(k) * (js(k) - xbar) * (js(k) - xbar)).sum
        val sxy = js.indices.map(k => w(k) * (js(k) - xbar) * (ys(js(k)) - ybar)).sum
        if (sw * sxx < 1e-12) ybar else ybar + sxy / sxx * (i - xbar)
      }
    }
  }

  /** Fixed-iteration additive STL, driver-side: the published inner loop
    * (detrend → cycle-subseries smooth → low-pass → seasonal → trend). */
  private def refStl(ys: Array[Double], m: Int, innerIter: Int = 2,
                     seasonalFrac: Double = 0.75, trendFrac: Double = 0.4)
      : (Array[Double], Array[Double]) = {
    val n = ys.length
    var trend = Array.fill(n)(0.0)
    val seasonal = Array.fill(n)(0.0)
    def movAvg(a: Array[Double], win: Int): Array[Double] = Array.tabulate(n) { i =>
      val lo = math.max(0, i - win / 2); val hi = math.min(n - 1, i + win / 2)
      (lo to hi).map(a).sum / (hi - lo + 1)
    }
    for (_ <- 1 to innerIter) {
      val det = Array.tabulate(n)(i => ys(i) - trend(i))
      val c = Array.ofDim[Double](n)
      for (phase <- 0 until m) {
        val idx = phase.until(n, m).toArray
        if (idx.nonEmpty) {
          val sub = idx.map(det)
          val sm = if (idx.length < 3) sub else refLowess(sub, seasonalFrac)
          idx.indices.foreach(k => c(idx(k)) = sm(k))
        }
      }
      val lp = movAvg(movAvg(movAvg(c, m), m), 3)
      for (i <- 0 until n) seasonal(i) = c(i) - lp(i)
      val deseas = Array.tabulate(n)(i => ys(i) - seasonal(i))
      trend = if (n < 3) deseas else refLowess(deseas, trendFrac)
    }
    (trend, seasonal)
  }

  test("distributed STL matches the driver-side reference at 1e-6 on the bench fixture") {
    val fixture = new java.io.File("/root/testdata/sf0.001/orders.parquet")
    assume(fixture.exists(), "driver-provided fixture required")
    val monthly = spark.read.parquet(fixture.getPath)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("ds"))
      .agg(round(sum("o_totalprice"), 2).as("y"))
      .select(lit("orders").as("series_id"), col("ds"), col("y"),
        lit(false).as("is_future"))
      .repartition(4) // the grouped path must not depend on input order
    val got = Transforms.stl(monthly, 12).collect()
      .map(r => r.getDate(1).toString ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val series = monthly.select("ds", "y").collect()
      .map(r => r.getDate(0).toString -> r.getDouble(1)).sortBy(_._1)
    val ys = series.map(_._2)
    val (trend, seasonal) = refStl(ys, 12)
    assert(got.size == ys.length && ys.length > 60)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * (1.0 + math.abs(b))
    series.indices.foreach { i =>
      val (ds, y) = series(i)
      val (t, s, r) = got(ds)
      assert(close(t, trend(i)), s"trend@$ds: $t vs ${trend(i)}")
      assert(close(s, seasonal(i)), s"seasonal@$ds: $s vs ${seasonal(i)}")
      assert(math.abs(t + s + r - y) <= 1e-9 * (1.0 + math.abs(y)),
        s"decomposition identity@$ds")
    }
  }

  test("STL seasonal component has near-zero mean per calendar phase on a planted cycle") {
    // planted: trend 0.5t + seasonal sin cycle (m=12) + tiny deterministic wiggle
    val ys = (0 until 96).map(t =>
      100.0 + 0.5 * t + 8.0 * math.sin(2 * math.Pi * t / 12.0)
        + 0.3 * math.sin(t * 1.7))
    val out = Transforms.stl(obsSeries(ys), 12).orderBy("ds").collect()
    val seasonal = out.map(_.getDouble(3))
    // the seasonal track must carry the planted cycle's amplitude
    assert(seasonal.max > 5.0 && seasonal.min < -5.0, "cycle captured")
    // and the trend must not absorb it: trend is within the planted line ±3
    val trend = out.map(_.getDouble(2))
    ys.indices.drop(12).dropRight(12).foreach { i =>
      assert(math.abs(trend(i) - (100.0 + 0.5 * i)) < 3.0, s"trend@$i ${trend(i)}")
    }
  }
}
