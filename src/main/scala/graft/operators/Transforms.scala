package graft.operators

import graft.core.Joins.maybeBroadcast
import graft.core.SeriesFrame._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reversible series transformations (SURVEY.md §2.4 — the reference's
  * SeriesTransformer, /root/reference/src/scalecast/SeriesTransformer.py).
  *
  * Design: a transform `fit` computes per-series parameters as a SMALL
  * DataFrame (series_id → params) — never a driver collect — and returns a
  * [[FittedTransform]] whose `transform`/`revert` are broadcast-join +
  * expression work. Stacked transforms are an explicit immutable list
  * ([[TransformStack]]) replacing the reference's mutable attribute counters
  * (SeriesTransformer.py:584-596). `trainEnd` (an upper ds bound) restricts
  * parameter fitting to the training slice for leakage discipline
  * (`train_only`, SeriesTransformer.py:400-404).
  */
sealed trait FittedTransform extends Serializable {
  /** Forward-transform the y column. */
  def transform(df: DataFrame): DataFrame
  /** Inverse-transform the y column (and any extra value columns such as
    * forecasts/fitted values/CI bounds, mirroring Revert's remapping of
    * stored model arrays, SeriesTransformer.py:90-119). */
  def revert(df: DataFrame, valueCols: Seq[String] = Seq(Y)): DataFrame
}

/** Point-wise transforms: invertible per-row given per-series params. */
final case class ExprTransform(
    name: String,
    params: DataFrame, // (series_id, p1, p2) — tiny, broadcast on join
    fwd: (Column, Column, Column) => Column,
    inv: (Column, Column, Column) => Column
) extends FittedTransform {

  private def withParams(df: DataFrame): DataFrame =
    df.join(maybeBroadcast(params), Seq(SeriesId), "left")

  def transform(df: DataFrame): DataFrame =
    withParams(df).withColumn(Y, fwd(col(Y), col("p1"), col("p2"))).drop("p1", "p2")

  def revert(df: DataFrame, valueCols: Seq[String] = Seq(Y)): DataFrame = {
    val j = withParams(df)
    valueCols.foldLeft(j)((f, c) => f.withColumn(c, inv(col(c), col("p1"), col("p2"))))
      .drop("p1", "p2")
  }
}

object Transforms {

  private def paramless(n: String, fwd: Column => Column, inv: Column => Column)
                       (df: DataFrame): ExprTransform = {
    val params = df.select(SeriesId).distinct()
      .withColumn("p1", lit(0.0)).withColumn("p2", lit(0.0))
    ExprTransform(n, params, (y, _, _) => fwd(y), (y, _, _) => inv(y))
  }

  /** LogTransform/LogRevert (SeriesTransformer.py:313-345). */
  def logT(df: DataFrame): ExprTransform  = paramless("log", log(_), exp(_))(df)

  /** SqrtTransform/SqrtRevert (SeriesTransformer.py:347-379). */
  def sqrtT(df: DataFrame): ExprTransform = paramless("sqrt", sqrt(_), c => c * c)(df)

  /** BoxCox (x^λ−1)/λ, λ=0 → ln (/root/reference/src/scalecast/_utils.py:75-87). */
  def boxcoxT(df: DataFrame, lambda: Double): ExprTransform =
    if (lambda == 0.0) logT(df)
    else paramless(s"boxcox($lambda)",
      y => (pow(y, lambda) - 1) / lambda,
      y => pow(y * lambda + 1, 1.0 / lambda))(df)

  /** Per-series argmax over a candidate grid, fully distributed: the stats
    * frame has one row per series with `ll(candidate_i)` derivable as a column
    * expression; the winner comes from `array_max` over (ll, −i, λ) structs
    * (struct ordering ⇒ max ll, ties to the EARLIEST candidate — the same
    * contract as Scala's maxBy on the driver, which this replaces). No
    * observation row and no stats row ever reaches the driver. */
  private def gridArgmax(stats: DataFrame, candidates: Seq[Double],
                         ll: (Double, Int) => Column): DataFrame = {
    val cells = candidates.zipWithIndex.map { case (l, i) =>
      struct(ll(l, i).as("ll"), lit(-i).as("ni"), lit(l).as("lam"))
    }
    stats.select(col(SeriesId),
      array_max(array(cells: _*)).getField("lam").as("p1"), lit(0.0).as("p2"))
  }

  /** Box-Cox with per-series MLE λ — `add_pt_terms(method='box-cox')`
    * (/root/reference/src/scalecast/_Forecaster_parent.py:675-718, sklearn
    * PowerTransformer). Profile log-likelihood
    * ll(λ) = −(n/2)·ln(var(bc(y,λ))) + (λ−1)·Σ ln y is evaluated for every
    * candidate λ in ONE aggregation pass (sum/sumsq pairs per λ); the argmax
    * is a per-row expression over the stats frame ([[gridArgmax]]), so the
    * whole fit is two narrow distributed ops at any series count.
    * Requires y > 0. */
  def boxcoxMleT(df: DataFrame, candidates: Seq[Double] = (-20 to 20).map(_ / 10.0),
                 trainEnd: Option[String] = None): ExprTransform = {
    val obs = trainSlice(df, trainEnd)
    val aggs = candidates.zipWithIndex.flatMap { case (l, i) =>
      val bc = if (l == 0.0) log(col(Y)) else (pow(col(Y), l) - 1) / l
      Seq(sum(bc).as(s"_s$i"), sum(bc * bc).as(s"_q$i"))
    } ++ Seq(count(lit(1)).as("_n"), sum(log(col(Y))).as("_slog"))
    val stats = obs.groupBy(SeriesId).agg(aggs.head, aggs.tail: _*)
    val lambdas = gridArgmax(stats, candidates, (l, i) => {
      val n = col("_n").cast("double")
      val s = col(s"_s$i"); val q = col(s"_q$i")
      val v = q / n - (s / n) * (s / n)
      when(v <= 0, lit(Double.MinValue))
        .otherwise(-(n / 2.0) * log(v) + col("_slog") * (l - 1.0))
    })
    ExprTransform("boxcox_mle", lambdas, bcMleFwd, bcMleInv)
  }

  // named fwd/inv pairs shared by the fit paths and PipelineStore.rebuild
  private[operators] val bcMleFwd = (y: Column, l: Column, _: Column) =>
    when(l === 0.0, log(y)).otherwise((pow(y, l) - 1) / l)
  private[operators] val bcMleInv = (y: Column, l: Column, _: Column) =>
    when(l === 0.0, exp(y)).otherwise(pow(y * l + 1, lit(1.0) / l))

  private def trainSlice(df: DataFrame, trainEnd: Option[String]): DataFrame =
    trainEnd.fold(df.filter(!col(IsFuture)))(e =>
      df.filter(!col(IsFuture) && col(Ds) <= lit(e).cast("date")))

  /** Rebuild a named point-wise transform from its SAVED params frame —
    * the persistence path ([[graft.results.PipelineStore]]): the name fully
    * determines the fwd/inv expressions, the params carry the fitted state. */
  private[graft] def rebuildExpr(name: String, params: DataFrame): ExprTransform = {
    val bcFixed = """boxcox\((.+)\)""".r
    name match {
      case "log"  => ExprTransform(name, params, (y, _, _) => log(y), (y, _, _) => exp(y))
      case "sqrt" => ExprTransform(name, params, (y, _, _) => sqrt(y), (y, _, _) => y * y)
      case bcFixed(l) =>
        val lam = l.toDouble
        ExprTransform(name, params,
          (y, _, _) => (pow(y, lam) - 1) / lam,
          (y, _, _) => pow(y * lam + 1, 1.0 / lam))
      case "boxcox_mle"     => ExprTransform(name, params, bcMleFwd, bcMleInv)
      case "yeojohnson_mle" => ExprTransform(name, params, yjMleFwd, yjMleInv)
      case "scale"  => ExprTransform(name, params, (y, m, s) => (y - m) / s, (y, m, s) => y * s + m)
      case "minmax" => ExprTransform(name, params, (y, lo, r) => (y - lo) / r, (y, lo, r) => y * r + lo)
      case "robust" => ExprTransform(name, params, (y, md, q) => (y - md) / q, (y, md, q) => y * q + md)
      case other => throw new IllegalArgumentException(s"unknown transform name $other")
    }
  }

  /** ScaleTransform: (y−μ)/σ with sample σ (ddof=1 — pandas .std(), matches
    * SeriesTransformer.py:381-441). */
  def scaleT(df: DataFrame, trainEnd: Option[String] = None): ExprTransform = {
    val p = trainSlice(df, trainEnd).groupBy(SeriesId)
      .agg(avg(Y).as("p1"), stddev_samp(Y).as("p2"))
    ExprTransform("scale", p, (y, m, s) => (y - m) / s, (y, m, s) => y * s + m)
  }

  /** MinMaxTransform: (y−min)/(max−min) (SeriesTransformer.py:498-558). */
  def minmaxT(df: DataFrame, trainEnd: Option[String] = None): ExprTransform = {
    val p = trainSlice(df, trainEnd).groupBy(SeriesId)
      .agg(min(Y).as("p1"), (max(Y) - min(Y)).as("p2"))
    ExprTransform("minmax", p, (y, lo, rng) => (y - lo) / rng, (y, lo, rng) => y * rng + lo)
  }

  /** RobustScaleTransform: (y−median)/IQR — sklearn RobustScaler semantics
    * (SeriesTransformer.py:443-496). Exact percentiles with linear
    * interpolation (`percentile`), matching numpy/duckdb quantile_cont. */
  def robustT(df: DataFrame, trainEnd: Option[String] = None): ExprTransform = {
    val p = trainSlice(df, trainEnd).groupBy(SeriesId)
      .agg(expr(s"percentile($Y, 0.5)").as("p1"),
           (expr(s"percentile($Y, 0.75)") - expr(s"percentile($Y, 0.25)")).as("p2"))
    ExprTransform("robust", p, (y, med, iqr) => (y - med) / iqr, (y, med, iqr) => y * iqr + med)
  }

  /** DiffTransform(m): y − lag(y, m); revert is the seasonal cumulative
    * reconstruction seeded with the stashed original rows
    * (`seasrevert`, SeriesTransformer.py:636-643). */
  def diffT(df: DataFrame, m: Int): DiffTransform = DiffTransform(m, df.select(SeriesId, Ds, Y))

  /** DetrendTransform('linear'): subtract OLS fit of y on the row index
    * (SeriesTransformer.py:121-311, poly order 1). Closed-form via
    * covariance/variance aggregates — no MLlib needed, fully distributed. */
  def detrendLinearT(df: DataFrame, trainEnd: Option[String] = None): DetrendLinear = {
    val withT = df.withColumn("_t", row_number().over(w).cast("double"))
    val p = trainSlice(withT, trainEnd).groupBy(SeriesId)
      .agg((covar_samp(col("_t"), col(Y)) / var_samp(col("_t"))).as("slope"),
           (avg(Y) - covar_samp(col("_t"), col(Y)) / var_samp(col("_t")) * avg("_t")).as("intercept"))
    DetrendLinear(p)
  }

  /** DetrendTransform(poly_order = n) (SeriesTransformer.py:121-311): subtract
    * a per-series polynomial OLS fit of y on the row index. Normal-equation
    * moments are ONE distributed aggregate (k = order+1 ≤ ~4); the tiny
    * per-series solve maps over the stats rows on the executors.
    * `basis` exponents 0..order. */
  def detrendPolyT(df: DataFrame, order: Int,
                   trainEnd: Option[String] = None): DetrendBasis = {
    require(order >= 1, "poly order must be >= 1")
    detrendBasisT(df, basisOf(s"poly:$order"), trainEnd, s"poly:$order")
  }

  /** DetrendTransform(ln_trend = True): y ~ a + b·ln(t). */
  def detrendLnT(df: DataFrame, trainEnd: Option[String] = None): DetrendBasis =
    detrendBasisT(df, basisOf("ln"), trainEnd, "ln")

  /** Named basis families, rebuildable from a spec string (persistence). */
  private[graft] def basisOf(spec: String): Seq[Column => Column] = spec match {
    case s if s.startsWith("poly:") =>
      (0 to s.stripPrefix("poly:").toInt).map(i => (t: Column) => pow(t, i))
    case "ln" => Seq((_: Column) => lit(1.0), (t: Column) => log(t))
    case other => throw new IllegalArgumentException(s"unknown basis spec $other")
  }

  /** Shared basis-function detrend: per-series OLS of y on basis(t). The
    * normal-equation moments (k ≤ ~4) are ONE distributed aggregate, and the
    * tiny k×k solve ([[graft.models.Ols]]) runs as a distributed `map` over
    * the per-series stats rows — the params frame stays partitioned, so
    * nothing per-series ever reaches the driver at any series count. */
  private def detrendBasisT(df: DataFrame, basis: Seq[Column => Column],
                            trainEnd: Option[String], spec: String = ""): DetrendBasis = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val k = basis.length
    val withT = df.withColumn("_t", row_number().over(w).cast("double"))
    val aggs = graft.models.Ols.gram(basis.map(f => f(col("_t"))) :+ col(Y))
    val stats = trainSlice(withT, trainEnd).groupBy(SeriesId)
      .agg(aggs.head, aggs.tail: _*)
    val schema = StructType(StructField(SeriesId, StringType) +:
      (0 until k).map(i => StructField(s"c_$i", DoubleType)))
    val params = stats.map({ r =>
      Row.fromSeq(r.getString(0) +: graft.models.Ols.Moments.read(r, 1, k + 1).beta(0 until k).toSeq)
    })(Encoders.row(schema))
    DetrendBasis(basis, params.toDF(), k, spec)
  }

  /** DetrendTransform(loess = True): subtract a per-series LOWESS trend
    * (statsmodels nonparametric lowess: tricube-weighted local linear fits,
    * `it` bisquare robustifying iterations). The point-wise fit is inherently
    * per-series sequential → `mapGroups` (a series fits in executor memory;
    * series parallelize across the cluster); the fitted trend is a
    * (series, ds, trend) frame joined back for transform/revert. Horizon rows
    * carry the last in-sample trend value (flat extension). */
  def detrendLoessT(df: DataFrame, frac: Double = 2.0 / 3.0, it: Int = 3,
                    trainEnd: Option[String] = None): DetrendLoess = {
    val spark = df.sparkSession
    import spark.implicits._
    val obs = trainSlice(df, trainEnd)
      .select(col(SeriesId).cast("string"), col(Ds).cast("date"), col(Y).cast("double"))
      .as[(String, java.sql.Date, Double)]
    val trend = obs.groupByKey(_._1).flatMapGroups { (sid, rowsIt) =>
      val rows = rowsIt.toIndexedSeq.sortBy(_._2.getTime)
      val ys = rows.map(_._3).toArray
      val fit = lowess(ys, frac, it)
      rows.zip(fit).map { case ((_, ds, _), tr) => (sid, ds, tr) }
    }.toDF(SeriesId, Ds, "_trend")
    DetrendLoess(trend)
  }

  /** Degree-1 LOWESS over the index 0..n−1 with tricube weights and `it`
    * bisquare robustness iterations (the statsmodels algorithm). */
  private[operators] def lowess(ys: Array[Double], frac: Double, it: Int): Array[Double] = {
    val n = ys.length
    val q = math.max(2, math.min(n, math.ceil(frac * n).toInt))
    val robust = Array.fill(n)(1.0)
    var fitted = Array.ofDim[Double](n)
    for (iter <- 0 to it) {
      fitted = Array.tabulate(n) { i =>
        val lo0 = math.max(0, math.min(i - (q - 1) / 2, n - q))
        val window = (lo0 until lo0 + q)
        val dmax = math.max(math.abs(i - window.head), math.abs(i - window.last)).toDouble
        var sw = 0.0; var swx = 0.0; var swy = 0.0; var swxx = 0.0; var swxy = 0.0
        for (j <- window) {
          val d = math.abs(j - i) / math.max(dmax, 1e-12)
          val tri = { val u = 1.0 - d * d * d; if (u <= 0) 0.0 else u * u * u }
          val wj = tri * robust(j)
          sw += wj; swx += wj * j; swy += wj * ys(j)
          swxx += wj * j.toDouble * j; swxy += wj * j * ys(j)
        }
        val den = sw * swxx - swx * swx
        if (math.abs(den) < 1e-12 || sw == 0.0) (if (sw == 0.0) ys(i) else swy / sw)
        else {
          val beta = (sw * swxy - swx * swy) / den
          val alpha = (swy - beta * swx) / sw
          alpha + beta * i
        }
      }
      if (iter < it) {
        val res = Array.tabulate(n)(i => math.abs(ys(i) - fitted(i)))
        val s = { val sorted = res.sorted; sorted(n / 2) } // median abs residual
        for (j <- 0 until n) {
          val u = res(j) / math.max(6.0 * s, 1e-12)
          robust(j) = if (u >= 1.0) 0.0 else { val v = 1.0 - u * u; v * v }
        }
      }
    }
    fitted
  }

  /** STL decomposition (Cleveland et al. 1990; statsmodels `STL`,
    * Forecaster.py:1394-1456): additive seasonal-trend decomposition by
    * LOESS — inner loop of cycle-subseries LOWESS smoothing, low-pass
    * filtering, and trend LOWESS. Inherently per-series sequential →
    * `mapGroups` (a series fits in executor memory; series parallelize
    * across the cluster). Returns (series_id, ds, trend, seasonal, resid). */
  def stl(df: DataFrame, m: Int, innerIter: Int = 2,
          seasonalFrac: Double = 0.75, trendFrac: Double = 0.4): DataFrame = {
    require(m >= 2, "seasonal period must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    val obs = df.filter(!col(IsFuture))
      .select(col(SeriesId).cast("string"), col(Ds).cast("date"), col(Y).cast("double"))
      .as[(String, java.sql.Date, Double)]
    obs.groupByKey(_._1).flatMapGroups { (sid, rowsIt) =>
      val rows = rowsIt.toIndexedSeq.sortBy(_._2.getTime)
      val ys = rows.map(_._3).toArray
      val n = ys.length
      var trend = Array.fill(n)(0.0)
      var seasonal = Array.fill(n)(0.0)
      for (_ <- 1 to innerIter) {
        // 1. detrend, 2. cycle-subseries LOWESS → C
        val det = Array.tabulate(n)(i => ys(i) - trend(i))
        val c = Array.ofDim[Double](n)
        for (p <- 0 until m) {
          val idx = p.until(n, m).toArray
          if (idx.nonEmpty) {
            val sub = idx.map(det)
            val sm = if (idx.length < 3) sub else lowess(sub, seasonalFrac, 0)
            idx.zip(sm).foreach { case (i, v) => c(i) = v }
          }
        }
        // 3. low-pass of C: centered MA(m) twice then MA(3)
        def ma(a: Array[Double], w: Int): Array[Double] = Array.tabulate(a.length) { i =>
          val lo = math.max(0, i - w / 2); val hi = math.min(a.length - 1, i + w / 2)
          var s = 0.0; for (j <- lo to hi) s += a(j); s / (hi - lo + 1)
        }
        val l = ma(ma(ma(c, m), m), 3)
        // 4. seasonal = C − L (detrended cycle component)
        for (i <- 0 until n) seasonal(i) = c(i) - l(i)
        // 5. trend = LOWESS of deseasonalized series
        val deseas = Array.tabulate(n)(i => ys(i) - seasonal(i))
        trend = if (n < 3) deseas else lowess(deseas, trendFrac, 0)
      }
      rows.indices.map { i =>
        (sid, rows(i)._2, trend(i), seasonal(i), ys(i) - trend(i) - seasonal(i))
      }
    }.toDF(SeriesId, Ds, "trend", "seasonal", "resid")
  }

  /** Yeo-Johnson with per-series MLE λ — `add_pt_terms(method='yeo-johnson')`
    * (/root/reference/src/scalecast/_Forecaster_parent.py:675-718, sklearn
    * PowerTransformer). Same one-pass candidate-grid profile likelihood as
    * [[boxcoxMleT]]: ll(λ) = −(n/2)·ln(var(ψ(y,λ))) + (λ−1)·Σ sign(y)·ln(|y|+1),
    * works for any sign of y. */
  def yeoJohnsonMleT(df: DataFrame, candidates: Seq[Double] = (-20 to 20).map(_ / 10.0),
                     trainEnd: Option[String] = None): ExprTransform = {
    def psi(y: Column, l: Double): Column = {
      val pos = if (l == 0.0) log(y + 1) else (pow(y + 1, l) - 1) / l
      val neg = if (l == 2.0) -log(-y + 1) else -(pow(-y + 1, 2 - l) - 1) / (2 - l)
      when(y >= 0, pos).otherwise(neg)
    }
    val obs = trainSlice(df, trainEnd)
    val aggs = candidates.zipWithIndex.flatMap { case (l, i) =>
      val p = psi(col(Y), l)
      Seq(sum(p).as(s"_s$i"), sum(p * p).as(s"_q$i"))
    } ++ Seq(count(lit(1)).as("_n"),
      sum(signum(col(Y)) * log(abs(col(Y)) + 1)).as("_slog"))
    val stats = obs.groupBy(SeriesId).agg(aggs.head, aggs.tail: _*)
    val lambdas = gridArgmax(stats, candidates, (l, i) => {
      val n = col("_n").cast("double")
      val s = col(s"_s$i"); val q = col(s"_q$i")
      val v = q / n - (s / n) * (s / n)
      when(v <= 0, lit(Double.MinValue))
        .otherwise(-(n / 2.0) * log(v) + col("_slog") * (l - 1.0))
    })
    ExprTransform("yeojohnson_mle", lambdas, yjMleFwd, yjMleInv)
  }

  // ψ preserves sign, so the inverse branches on sign(ψ) the same way
  private[operators] val yjMleFwd = (y: Column, l: Column, _: Column) => when(y >= 0,
      when(l === 0.0, log(y + 1)).otherwise((pow(y + 1, l) - 1) / l))
    .otherwise(
      when(l === 2.0, -log(-y + 1)).otherwise(-(pow(-y + 1, lit(2.0) - l) - 1) / (lit(2.0) - l)))
  private[operators] val yjMleInv = (z: Column, l: Column, _: Column) => when(z >= 0,
      when(l === 0.0, exp(z) - 1).otherwise(pow(z * l + 1, lit(1.0) / l) - 1))
    .otherwise(
      when(l === 2.0, lit(1.0) - exp(-z))
        .otherwise(lit(1.0) - pow(-z * (lit(2.0) - l) + 1, lit(1.0) / (lit(2.0) - l))))

  /** `seasonal_decompose` (/root/reference/src/scalecast/Forecaster.py:
    * 1404-1430, statsmodels classical additive decomposition): emits the
    * observed rows with `trend` (centered MA(m), null where the window is
    * incomplete), `seasonal` (normalized per-phase mean of y − trend), and
    * `resid` (y − trend − seasonal). Same math [[deseasonT]] fits its
    * seasonal parameters with; this is the component-table view. */
  def seasonalDecompose(df: DataFrame, m: Int): DataFrame = {
    val half = m / 2
    val trendExpr =
      if (m % 2 == 0)
        (sum(Y).over(wRows(-half, half - 1)) + sum(Y).over(wRows(-half + 1, half))) / (2.0 * m)
      else avg(Y).over(wRows(-half, half))
    val obs = df.filter(!col(IsFuture))
      .withColumn("trend",
        when(count(Y).over(wRows(-half, half)) === (2 * half + 1), trendExpr))
      .withColumn("_phase", pmod(row_number().over(w) - 1, lit(m)))
    val phaseMeans = obs.filter(col("trend").isNotNull)
      .groupBy(SeriesId, "_phase").agg(avg(col(Y) - col("trend")).as("_ps"))
    val seasonal = phaseMeans.withColumn("_ps",
      col("_ps") - avg("_ps").over(Window.partitionBy(SeriesId)))
    obs.join(maybeBroadcast(seasonal), Seq(SeriesId, "_phase"), "left")
      .withColumn("seasonal", col("_ps"))
      .withColumn("resid", col(Y) - col("trend") - col("seasonal"))
      .drop("_phase", "_ps")
  }

  /** DeseasonTransform(m, additive): classical moving-average decomposition
    * (statsmodels seasonal_decompose, SeriesTransformer.py:700-829).
    * Seasonal component = per-phase mean of (y − centered MA(m)); phases
    * extend over the horizon by seasonal-naive lookup. */
  def deseasonT(df: DataFrame, m: Int): Deseason = {
    val half = m / 2
    val trend =
      if (m % 2 == 0)
        // even period: (m+1)-window MA with half weights at the two ends —
        // average of the two m-windows, statsmodels filt convention
        (sum(Y).over(wRows(-half, half - 1)) + sum(Y).over(wRows(-half + 1, half))) / (2.0 * m)
      else avg(Y).over(wRows(-half, half))
    val obs = df.filter(!col(IsFuture))
      .withColumn("_trend",
        when(count(Y).over(wRows(-half, half)) === (2 * half + 1), trend))
      .withColumn("_phase", pmod(row_number().over(w) - 1, lit(m)))
    // statsmodels normalizes the per-phase means to sum to zero (mean of the
    // period averages is subtracted)
    val phaseMeans = obs.filter(col("_trend").isNotNull)
      .groupBy(SeriesId, "_phase").agg(avg(col(Y) - col("_trend")).as("seasonal"))
    val seasonal = phaseMeans.withColumn("seasonal",
      col("seasonal") - avg("seasonal").over(Window.partitionBy(SeriesId)))
    Deseason(m, seasonal)
  }
}

/** m-step difference with exact seasonal-cumulative revert. */
final case class DiffTransform(m: Int, stash: DataFrame) extends FittedTransform {
  def transform(df: DataFrame): DataFrame =
    df.withColumn(Y, col(Y) - lag(col(Y), m).over(w))

  /** Reconstruct levels: running sum within each (series, phase mod m)
    * stream, seeded by the stashed original values where no diffed value
    * exists (the first m rows). For a non-y column (forecast/test preds) the
    * observed gaps fall back to the diffed y so the prediction path continues
    * from the right level (`seasrevert`, SeriesTransformer.py:636-643). */
  def revert(df: DataFrame, valueCols: Seq[String] = Seq(Y)): DataFrame = {
    val seeded = df
      .join(stash.withColumnRenamed(Y, "_y0"), Seq(SeriesId, Ds), "left")
      .withColumn("_phase", pmod(row_number().over(w) - 1, lit(m)))
    val pw = Window.partitionBy(col(SeriesId), col("_phase")).orderBy(Ds)
      .rowsBetween(Window.unboundedPreceding, 0)
    valueCols.foldLeft(seeded) { (f, c) =>
      val eff =
        if (c == Y) coalesce(col(c), col("_y0"))
        else coalesce(col(c), col(Y), col("_y0"))
      f.withColumn(c, sum(eff).over(pw))
    }.drop("_y0", "_phase")
  }
}

/** Linear detrend with per-series (slope, intercept) params. */
final case class DetrendLinear(params: DataFrame) extends FittedTransform {
  private def withTrend(df: DataFrame): DataFrame =
    df.withColumn("_t", row_number().over(w).cast("double"))
      .join(maybeBroadcast(params), Seq(SeriesId), "left")
      .withColumn("_trend", col("intercept") + col("slope") * col("_t"))

  def transform(df: DataFrame): DataFrame =
    withTrend(df).withColumn(Y, col(Y) - col("_trend"))
      .drop("_t", "slope", "intercept", "_trend")

  def revert(df: DataFrame, valueCols: Seq[String] = Seq(Y)): DataFrame = {
    val j = withTrend(df)
    valueCols.foldLeft(j)((f, c) => f.withColumn(c, col(c) + col("_trend")))
      .drop("_t", "slope", "intercept", "_trend")
  }
}

/** Basis-function detrend (poly / ln) with per-series coefficient columns
  * `c_0..c_(k−1)`; trend(t) = Σ c_i·basis_i(t) extends over the horizon. */
final case class DetrendBasis(basis: Seq[Column => Column], params: DataFrame,
                              k: Int, spec: String = "") extends FittedTransform {
  private def withTrend(df: DataFrame): DataFrame = {
    val t = row_number().over(w).cast("double")
    val trend = basis.zipWithIndex
      .map { case (f, i) => col(s"c_$i") * f(t) }
      .reduce(_ + _)
    df.join(maybeBroadcast(params), Seq(SeriesId), "left").withColumn("_trend", trend)
  }
  private def cleanup(df: DataFrame): DataFrame =
    df.drop(("_trend" +: (0 until k).map(i => s"c_$i")): _*)

  def transform(df: DataFrame): DataFrame =
    cleanup(withTrend(df).withColumn(Y, col(Y) - col("_trend")))

  def revert(df: DataFrame, valueCols: Seq[String] = Seq(Y)): DataFrame =
    cleanup(valueCols.foldLeft(withTrend(df))((f, c) =>
      f.withColumn(c, col(c) + col("_trend"))))
}

/** LOWESS detrend: per-(series, ds) fitted trend; rows past the fitted range
  * (the horizon) carry the series' last trend value forward. */
final case class DetrendLoess(trend: DataFrame) extends FittedTransform {
  private def withTrend(df: DataFrame): DataFrame = {
    val filled = last(col("_trend"), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, 0))
    df.join(maybeBroadcast(trend), Seq(SeriesId, Ds), "left")
      .withColumn("_trend", filled)
  }
  def transform(df: DataFrame): DataFrame =
    withTrend(df).withColumn(Y, col(Y) - col("_trend")).drop("_trend")

  def revert(df: DataFrame, valueCols: Seq[String] = Seq(Y)): DataFrame =
    valueCols.foldLeft(withTrend(df))((f, c) =>
      f.withColumn(c, col(c) + col("_trend"))).drop("_trend")
}

/** Additive deseasonalization with per-(series, phase) seasonal means. */
final case class Deseason(m: Int, seasonal: DataFrame) extends FittedTransform {
  private def withSeasonal(df: DataFrame): DataFrame =
    df.withColumn("_phase", pmod(row_number().over(w) - 1, lit(m)))
      .join(maybeBroadcast(seasonal), Seq(SeriesId, "_phase"), "left")

  def transform(df: DataFrame): DataFrame =
    withSeasonal(df).withColumn(Y, col(Y) - col("seasonal")).drop("_phase", "seasonal")

  def revert(df: DataFrame, valueCols: Seq[String] = Seq(Y)): DataFrame = {
    val j = withSeasonal(df)
    valueCols.foldLeft(j)((f, c) => f.withColumn(c, col(c) + col("seasonal")))
      .drop("_phase", "seasonal")
  }
}

/** Ordered stack of fitted transforms; revert runs in reverse —
  * the reference's Transformer/Reverter pair
  * (/root/reference/src/scalecast/Pipeline.py:70-214). */
final case class TransformStack(stack: List[FittedTransform]) {
  def transform(df: DataFrame): DataFrame = stack.foldLeft(df)((f, t) => t.transform(f))
  def revert(df: DataFrame, valueCols: Seq[String] = Seq(Y)): DataFrame =
    stack.reverse.foldLeft(df)((f, t) => t.revert(f, valueCols))
}
