package graft.models

import graft.core.SeriesFrame._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The moments kernel: every least-squares fit in graft — pooled OLS and
  * ridge, the grouped per-series fits, Hannan–Rissanen, order searches,
  * ADF, polynomial detrending, the blocked VAR and Johansen's moment
  * matrices — is one aggregate of sums of products plus a tiny solve, and
  * this object is the only code that knows that format.
  *
  * The moments format is the lower triangle, row-major, of the Gram matrix
  * of d columns (x₀..x_(d−2), y): cell (i, j ≤ i) sits at i(i+1)/2 + j. So
  * X'X, X'y and y'y are one triangle — X'y is its last row and y'y its last
  * entry. [[gram]] writes it as aggregate columns, [[Moments.read]] decodes
  * it from a row, [[accumulate]] adds one observation to it in place (the
  * SQL aggregate's state) and [[Moments.solve]] solves any index subset of
  * it with the one solver, [[solve]].
  *
  * For deterministic feature sets (trend, Fourier, calendar dummies) this
  * replaces an MLlib `LinearRegression(normal).fit` + `transform` (2 Spark
  * jobs per fit) with one aggregate plus a pure-expression prediction that
  * stays in whole-stage codegen. [[Moments.ols]] is the MLlib normal
  * solver's math (a direct solve of the normal equations), [[Moments.ridge]]
  * its standardized ridge algebra, and the OLS shape is what the DuckDB
  * oracles replay ([[graft.OracleGen]]).
  *
  * Driver fits ([[Moments.ols]], [[Moments.ridge]]) throw on a non-finite
  * β, so a singular or empty design fails loudly; executor fits
  * ([[Moments.beta]]) return the non-finite β and their callers skip it.
  *
  * Train-slice semantics mirror [[MllibTsEstimator.fit]]: observed,
  * non-test, feature-complete rows.
  */
object Ols {

  final case class Fit(intercept: Double, beta: Array[Double], feats: Seq[String]) {
    /** Prediction as a Column expression: intercept + Σ βᵢ·featᵢ. */
    def predictExpr: Column =
      feats.zip(beta.toSeq).foldLeft(lit(intercept))((acc, fb) => acc + col(fb._1) * lit(fb._2))
  }

  /** Cells of the moments triangle over `d` columns. */
  private[graft] def gramWidth(d: Int): Int = d * (d + 1) / 2

  /** The moments aggregate over `cols` (the last one y): Σ cᵢ·cⱼ for
    * j ≤ i, row-major. With `in`, rows where it is false contribute
    * nothing, so several slices' moments share one aggregate. */
  private[graft] def gram(cols: Seq[Column], in: Option[Column] = None): Seq[Column] = {
    def s(v: Column) = sum(in.fold(v)(when(_, v)))
    for (i <- cols.indices; j <- 0 to i) yield s(cols(i) * cols(j))
  }

  /** Add one observation `z` = (x₀..x_(d−2), y) to the triangle `tri`. */
  private[graft] def accumulate(tri: Array[Double], z: Array[Double]): Unit = {
    var idx = 0
    var i = 0
    while (i < z.length) {
      var j = 0
      while (j <= i) { tri(idx) += z(i) * z(j); idx += 1; j += 1 }
      i += 1
    }
  }

  /** Solve a·x = b by Gauss-Jordan elimination with partial pivoting — the
    * one linear solver. Pure Scala, so executors run it too; a singular
    * system yields non-finite entries. */
  private[graft] def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val k = b0.length
    val a = a0.map(_.clone); val b = b0.clone
    for (c <- 0 until k) {
      val piv = (c until k).maxBy(r => math.abs(a(r)(c)))
      val t = a(c); a(c) = a(piv); a(piv) = t
      val tb = b(c); b(c) = b(piv); b(piv) = tb
      val d = a(c)(c)
      for (j <- 0 until k) a(c)(j) /= d
      b(c) /= d
      for (r <- 0 until k if r != c) {
        val f = a(r)(c)
        for (j <- 0 until k) a(r)(j) -= f * a(c)(j)
        b(r) -= f * b(c)
      }
    }
    b
  }

  /** `x` if every entry is finite; otherwise a driver fit throws. */
  private def finite(x: Array[Double]): Array[Double] = {
    if (x.exists(v => v.isNaN || v.isInfinite))
      throw new ArithmeticException("least squares: singular or empty design")
    x
  }

  /** One decoded moments triangle over `d` columns, the last one y. */
  final class Moments(val tri: Array[Double], val d: Int) extends Serializable {
    def apply(i: Int, j: Int): Double =
      if (j <= i) tri(i * (i + 1) / 2 + j) else tri(j * (j + 1) / 2 + i)

    /** Solve G[idx, idx]·x = rhs. */
    def solve(idx: Seq[Int], rhs: Array[Double]): Array[Double] =
      Ols.solve(Array.tabulate(idx.size, idx.size)((i, j) => apply(idx(i), idx(j))), rhs)

    /** Least squares of y on the columns `idx`: G[idx, idx]·β = G[idx, y].
      * Non-finite on a singular or empty slice (the executor skip). */
    def beta(idx: Seq[Int]): Array[Double] = solve(idx, idx.map(apply(d - 1, _)).toArray)

    /** Least squares over (1, feats), the [[momentCols]] layout; throws on
      * a singular or empty design. */
    def ols(feats: Seq[String]): Fit = {
      val b = finite(beta(0 until d - 1))
      Fit(b(0), b.tail, feats)
    }

    /** MLlib `LinearRegression(regParam = alpha, elasticNetParam = 0)` —
      * WeightedLeastSquares' ridge algebra on the driver over the
      * [[momentCols]] layout: features and label standardized by their
      * population σ, `alpha / σ_y` on the diagonal of the standardized
      * features (the intercept is not penalized), a zero-σ feature gets
      * coefficient 0 and a constant label gives zero coefficients around
      * its mean. Where MLlib falls back to L-BFGS (`alpha = 0` on a
      * collinear design) this throws instead. */
    def ridge(feats: Seq[String], alpha: Double): Fit = {
      val y = d - 1
      val n = apply(0, 0)
      val k = d - 2
      val mean = (0 to k).map(j => apply(j, 0) / n)
      val sd = (0 to k).map(j => math.sqrt(math.max(apply(j, j) / n - mean(j) * mean(j), 0.0)))
      val yMean = apply(y, 0) / n
      val ySd = math.sqrt(math.max(apply(y, y) / n - yMean * yMean, 0.0))
      if (ySd == 0.0) return Fit(yMean, Array.fill(k)(0.0), feats)
      val active = (1 to k).filter(sd(_) != 0.0)
      val m = active.size
      // standardized system, intercept last (MLlib's layout)
      val a = Array.ofDim[Double](m + 1, m + 1)
      val b = new Array[Double](m + 1)
      for ((p, i) <- active.zipWithIndex) {
        for ((q, j) <- active.zipWithIndex) a(i)(j) = apply(p, q) / n / (sd(p) * sd(q))
        a(i)(i) += alpha / ySd
        a(i)(m) = mean(p) / sd(p); a(m)(i) = a(i)(m)
        b(i) = apply(y, p) / n / (sd(p) * ySd)
      }
      a(m)(m) = 1.0
      b(m) = yMean / ySd
      val theta = finite(Ols.solve(a, b))
      val beta = Array.fill(k)(0.0)
      for ((p, i) <- active.zipWithIndex) beta(p - 1) = theta(i) * ySd / sd(p)
      Fit(theta(m) * ySd, beta, feats)
    }
  }

  object Moments {
    /** Decode the [[gram]] of `d` columns from `r` starting at `at`. A null
      * sum (an empty slice, an unused slot) reads as NaN, so only a solve
      * that reads it fails. */
    def read(r: Row, at: Int, d: Int): Moments =
      new Moments(Array.tabulate(gramWidth(d))(i =>
        if (r.isNullAt(at + i)) Double.NaN else r.getDouble(at + i)), d)
  }

  /** Width of [[momentCols]] for `k` features. */
  private[graft] def momentWidth(k: Int): Int = gramWidth(k + 2)

  /** The moments aggregate over (1, feats) and y: X'X, X'y, y'y. */
  private[graft] def momentCols(feats: Seq[String], in: Option[Column] = None): Seq[Column] =
    gram(lit(1.0) +: feats.map(c => col(c).cast("double")) :+ col(Y).cast("double"), in)

  /** Observed, non-test, feature-complete rows. */
  def trainSlice(frame: DataFrame, feats: Seq[String]): DataFrame = {
    val obs = frame.filter(!col(IsFuture) && col(Y).isNotNull)
    val train0 = if (frame.columns.contains("is_test")) obs.filter(!col("is_test")) else obs
    feats.foldLeft(train0)((f, c) => f.filter(col(c).isNotNull))
  }

  /** The train slice's [[Moments]] plus any `extra` aggregates over the
    * same slice, in ONE job. */
  def moments(frame: DataFrame, feats: Seq[String], extra: Seq[Column] = Nil): (Moments, Row) = {
    val aggs = momentCols(feats) ++ extra
    val r = trainSlice(frame, feats).agg(aggs.head, aggs.tail: _*).first()
    (Moments.read(r, 0, feats.size + 2), r)
  }

  /** [[fit]] plus the train-slice sample stddev of every feature — the
    * moments and the second moments share ONE aggregation, so standardized
    * coefficients (|β_j|·sd_j, what a scale-normalized MLlib fit reports)
    * cost no extra job. */
  def fitWithStd(frame: DataFrame, feats: Seq[String]): (Fit, Array[Double]) = {
    val (m, r) = moments(frame, feats, feats.map(c => stddev_samp(col(c).cast("double"))))
    val at = momentWidth(feats.size)
    (m.ols(feats), feats.indices.map(i => r.getDouble(at + i)).toArray)
  }

  def fit(frame: DataFrame, feats: Seq[String]): Fit = moments(frame, feats)._1.ols(feats)

  /** Closed-form ridge on the train slice — [[Moments.ridge]]. */
  def fitRidge(frame: DataFrame, feats: Seq[String], alpha: Double): Fit =
    moments(frame, feats)._1.ridge(feats, alpha)

  /** AIC = n·ln(SSE/n) + 2(k+1) of the OLS fit on `feats`: the fit, then
    * an exact residual pass over the observed rows whose y and every
    * feature are known — a null y (a gap on a date spine) is no residual,
    * so it counts in neither SSE nor n. SSE stays a residual pass:
    * y'y − 2β'X'y + β'Gβ from the moments cancels badly. */
  def aic(frame: DataFrame, feats: Seq[String]): Double = {
    val fit = Ols.fit(frame, feats)
    val known = (col(Y) +: feats.map(col)).map(_.isNotNull).reduce(_ && _)
    val r = frame.filter(!col(IsFuture) && known)
      .agg(sum(pow(col(Y) - fit.predictExpr, 2)), count(lit(1))).first()
    val sse = r.getDouble(0); val n = r.getLong(1).toDouble
    n * math.log(sse / n) + 2.0 * (feats.size + 1)
  }
}
