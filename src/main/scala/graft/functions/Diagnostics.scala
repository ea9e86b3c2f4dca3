package graft.functions

import graft.core.Joins.maybeBroadcast
import graft.core.SeriesFrame._
import graft.models.Ols
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical diagnostics (SURVEY §2.9): ACF/PACF, augmented Dickey-Fuller,
  * D'Agostino-style normality, lagged cross-correlation. ACF and corr are
  * fully distributed aggregations; the ADF regression and normality z-scores
  * reduce to per-series moment rows whose tiny closed-form finish maps over
  * the stats frame on the executors — per-series data never hits the driver.
  * Only PACF (Durbin-Levinson over ≤ maxLag ACF numbers) stays driver-side.
  */
object Diagnostics {

  /** statsmodels-convention ACF: r_k = Σ_(t>k)(y_t−ȳ)(y_(t−k)−ȳ) / Σ(y_t−ȳ)²
    * with the FULL-series mean in both factors and the lag-0 denominator
    * (/root/reference/src/scalecast/Forecaster.py:1320-1366 plot_acf).
    * One row per (series, lag). */
  def acf(df: DataFrame, maxLag: Int): DataFrame = {
    val obs = df.filter(!col(IsFuture))
    val means = obs.groupBy(SeriesId).agg(avg(Y).as("_mu"), count(lit(1)).as("_n"))
    val centered = obs.join(maybeBroadcast(means), Seq(SeriesId))
      .withColumn("_c", col(Y) - col("_mu"))
    val denom = centered.groupBy(SeriesId).agg(sum(col("_c") * col("_c")).as("_d"))
    // all maxLag numerators in ONE window pass (the lag array shares the
    // per-series sort) + one (series, lag) aggregate — not maxLag jobs
    val lags = centered
      .select(col(SeriesId),
        array((1 to maxLag).map(k => lag(col("_c"), k).over(w)): _*).as("_cls"),
        col("_c"))
      .select(col(SeriesId), col("_c"), posexplode(col("_cls")).as(Seq("_k", "_cl")))
      .filter(col("_cl").isNotNull)
      .groupBy(SeriesId, "_k").agg(sum(col("_c") * col("_cl")).as("_num"))
      .withColumn("lag", col("_k") + 1)
    lags.join(maybeBroadcast(denom), Seq(SeriesId))
      .select(col(SeriesId), col("lag"), (col("_num") / col("_d")).as("acf"))
  }

  /** PACF via Durbin-Levinson over the ACF values. One distributed ACF pass,
    * then the ≤ maxLag² recursion runs per series INSIDE `mapGroups` — no
    * per-series rows reach the driver, so the (series_id, lag, pacf) frame
    * scales to any series count like the rest of the diagnostics tier. */
  def pacf(df: DataFrame, maxLag: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    acf(df, maxLag)
      .select(col(SeriesId).cast("string"), col("lag").cast("int"),
        col("acf").cast("double"))
      .as[(String, Int, Double)]
      .groupByKey(_._1).flatMapGroups { (sid, it) =>
        val rho = it.toIndexedSeq.sortBy(_._2).map(_._3).toArray
        durbinLevinson(rho).zipWithIndex.map { case (v, i) => (sid, i + 1, v) }
      }.toDF(SeriesId, "lag", "pacf")
  }

  private[functions] def durbinLevinson(rho: Array[Double]): Array[Double] = {
    val m = rho.length
    val phi = Array.ofDim[Double](m + 1, m + 1)
    val pacf = Array.ofDim[Double](m)
    for (k <- 1 to m) {
      if (k == 1) phi(1)(1) = rho(0)
      else {
        val num = rho(k - 1) - (1 until k).map(j => phi(k - 1)(j) * rho(k - 1 - j)).sum
        val den = 1.0 - (1 until k).map(j => phi(k - 1)(j) * rho(j - 1)).sum
        phi(k)(k) = num / den
        for (j <- 1 until k) phi(k)(j) = phi(k - 1)(j) - phi(k)(k) * phi(k - 1)(k - j)
      }
      pacf(k - 1) = phi(k)(k)
    }
    pacf
  }

  /** Augmented Dickey-Fuller test (constant, no trend):
    * Δy_t = α + γ·y_(t−1) + Σ_(i=1..p) β_i·Δy_(t−i) + ε. Returns the γ
    * t-statistic per series; compare against MacKinnon 5% critical value
    * ≈ −2.86 (reject unit root ⇒ stationary)
    * (/root/reference/src/scalecast/Forecaster.py:1258-1301). Fully
    * distributed END TO END: the normal-equation moments (X'X, X'y, y'y —
    * k ≤ p+2) are per-series aggregates, and the tiny k×k solve maps over the
    * stats rows on the executors — the returned (series_id, adf_t) frame
    * stays partitioned, so neither observations nor per-series stats ever
    * reach the driver at any series count. */
  def adfT(df: DataFrame, p: Int = 1): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val obs = df.filter(!col(IsFuture))
      .withColumn("_dy", col(Y) - lag(col(Y), 1).over(w))
      .withColumn("_ylag", lag(col(Y), 1).over(w))
    val withLags = (1 to p).foldLeft(obs)((f, i) =>
      f.withColumn(s"_dy$i", lag(col("_dy"), i).over(w)))
    val cols = Seq("_dy", "_ylag") ++ (1 to p).map(i => s"_dy$i")
    val complete = cols.foldLeft(withLags)((f, c) => f.filter(col(c).isNotNull))
    val k = p + 2
    val x = Seq(lit(1.0), col("_ylag")) ++ (1 to p).map(i => col(s"_dy$i"))
    val aggs = count(lit(1)) +: Ols.gram(x :+ col("_dy"))
    val schema = StructType(Seq(
      StructField(SeriesId, StringType), StructField("adf_t", DoubleType)))
    complete.groupBy(SeriesId).agg(aggs.head, aggs.tail: _*)
      .map({ row =>
        org.apache.spark.sql.Row(row.getString(0),
          tStat(Ols.Moments.read(row, 2, k + 1), row.getLong(1)))
      })(Encoders.row(schema)).toDF()
  }

  /** OLS t-stat of coefficient index 1 (the y_(t−1) term) from the moments:
    * β and (X'X)⁻¹₁₁ (the solve with e₁ on the right) from the kernel, and
    * the OLS identity RSS = y'y − β'X'y for the residual variance. */
  private def tStat(m: Ols.Moments, n: Long): Double = {
    val k = m.d - 1
    val beta = m.beta(0 until k)
    val inv11 = m.solve(0 until k, Array.tabulate(k)(i => if (i == 1) 1.0 else 0.0))(1)
    val rss = m(k, k) - beta.indices.map(i => beta(i) * m(k, i)).sum
    // a numerically perfect fit (e.g. a deterministic series the lags span
    // exactly) cancels rss to ~0 or slightly NEGATIVE in the moments form;
    // sqrt would yield NaN, which Spark orders GREATER than every number and
    // would silently read as "not stationary". se -> 0+ means |t| -> inf
    // with beta's sign — return that explicitly.
    if (rss <= 0) return if (beta(1) < 0) Double.NegativeInfinity else Double.PositiveInfinity
    val sigma2 = rss / (n - k)
    val se = math.sqrt(sigma2 * inv11)
    beta(1) / se
  }

  /** Skewness/kurtosis-based normality check on a column (the
    * D'Agostino-Pearson ingredients; Forecaster.py:1304-1318) — distributed
    * moments, returning (series, skew, kurtosis, n). */
  def momentsForNormality(df: DataFrame): DataFrame =
    df.filter(!col(IsFuture)).groupBy(SeriesId)
      .agg(skewness(col(Y)).as("skewness"), kurtosis(col(Y)).as("kurtosis"),
        count(lit(1)).as("n"))

  /** Full D'Agostino-Pearson K² normality test (scipy.stats.normaltest
    * semantics, Forecaster.py:1304-1318): skew and kurtosis z-scores
    * (D'Agostino 1973; Anscombe-Glynn 1983) combined as K² = Z_s² + Z_k²,
    * p-value from χ²(2) (= exp(−K²/2)). Distributed moments; the per-series
    * closed-form z transforms map over the stats rows on the executors, so
    * the returned (series_id, k2, pvalue) frame stays partitioned. */
  def normalityTest(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField(SeriesId, StringType),
      StructField("k2", DoubleType), StructField("pvalue", DoubleType)))
    momentsForNormality(df).map({ r =>
      val g1 = r.getDouble(r.fieldIndex("skewness"))
      val g2 = r.getDouble(r.fieldIndex("kurtosis")) // excess
      val n = r.getLong(r.fieldIndex("n")).toDouble
      // skewtest (D'Agostino 1973)
      val y = g1 * math.sqrt((n + 1) * (n + 3) / (6.0 * (n - 2)))
      val beta2 = 3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3) /
        ((n - 2) * (n + 5) * (n + 7) * (n + 9))
      val w2 = -1.0 + math.sqrt(2.0 * (beta2 - 1))
      val delta = 1.0 / math.sqrt(0.5 * math.log(w2))
      val alpha = math.sqrt(2.0 / (w2 - 1))
      val ya = y / alpha
      val zS = delta * math.log(ya + math.sqrt(ya * ya + 1))
      // kurtosistest (Anscombe-Glynn 1983)
      val b2 = g2 + 3.0
      val eB2 = 3.0 * (n - 1) / (n + 1)
      val varB2 = 24.0 * n * (n - 2) * (n - 3) / ((n + 1) * (n + 1) * (n + 3) * (n + 5))
      val x = (b2 - eB2) / math.sqrt(varB2)
      val sqrtB1 = 6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9)) *
        math.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
      val a = 6.0 + 8.0 / sqrtB1 * (2.0 / sqrtB1 + math.sqrt(1 + 4.0 / (sqrtB1 * sqrtB1)))
      val t = (1 - 2.0 / a) / (1 + x * math.sqrt(2.0 / (a - 4)))
      val zK = ((1 - 2.0 / (9 * a)) - math.cbrt(t)) / math.sqrt(2.0 / (9 * a))
      val k2 = zS * zS + zK * zK
      org.apache.spark.sql.Row(r.getString(r.fieldIndex(SeriesId)), k2, math.exp(-k2 / 2.0))
    })(Encoders.row(schema)).toDF()
  }

  /** `corr_lags` — Pearson correlation of one series with the k-lagged other
    * (/root/reference/src/scalecast/MVForecaster.py:1012-1074). All maxLag+1
    * lags come out of ONE window pass partitioned by series_id (the lag array
    * shares the sort), then one groupBy(lag) aggregate — no unpartitioned
    * windows, no per-lag jobs. */
  /** `corr` — the pairwise Pearson matrix of a multivariate frame in long
    * form (sid_a < sid_b), plus the shared-date count backing each cell
    * (/root/reference/src/scalecast/MVForecaster.py:1012-1049). One
    * date-keyed self-join + one grouped `corr` aggregate. */
  def corrMatrix(df: DataFrame): DataFrame = {
    val obs = df.filter(!col(IsFuture))
    val a = obs.select(col(SeriesId).as("sid_a"), col(Ds), col(Y).as("ya"))
    val b = obs.select(col(SeriesId).as("sid_b"), col(Ds), col(Y).as("yb"))
    a.join(b, Seq(Ds.toString)).filter(col("sid_a") < col("sid_b"))
      .groupBy("sid_a", "sid_b")
      .agg(corr(col("ya"), col("yb")).as("corr"), count(lit(1)).as("n"))
  }

  def corrLags(df: DataFrame, sidA: String, sidB: String, maxLag: Int): DataFrame = {
    val a = df.filter(col(SeriesId) === sidA).select(col(Ds), col(Y).as("ya"))
    val bl = df.filter(col(SeriesId) === sidB)
      .select(col(Ds),
        array((0 to maxLag).map(k => lag(col(Y), k).over(w)): _*).as("_lags"))
      .select(col(Ds), posexplode(col("_lags")).as(Seq("lag", "yb")))
    a.join(bl, Seq(Ds.toString)).filter(col("yb").isNotNull)
      .groupBy("lag").agg(corr(col("ya"), col("yb")).as("corr"))
      .select(lit(sidA).as("sid_a"), lit(sidB).as("sid_b"), col("lag"), col("corr"))
  }
}
