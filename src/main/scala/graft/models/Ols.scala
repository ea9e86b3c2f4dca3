package graft.models

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core.SeriesFrame._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exact pooled OLS and ridge via ONE distributed moments aggregation.
  *
  * For deterministic feature sets (trend, Fourier, calendar dummies) the
  * normal equations need only `k(k+1)/2 + k + 1` sums — one whole-frame
  * aggregate — and a k×k solve on the driver (k ≤ ~10). That replaces an
  * MLlib `LinearRegression(normal).fit` + `transform` (2 Spark jobs per fit
  * through WeightedLeastSquares, plus its driver-side instrumentation) with
  * one job plus a pure-expression prediction that stays in whole-stage
  * codegen. [[Moments.ols]] is the MLlib normal solver's math (a direct
  * solve of the normal equations), [[Moments.ridge]] its standardized ridge
  * algebra, and the OLS shape is what the DuckDB oracles replay
  * ([[graft.OracleGen]]).
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

  /** One train slice's normal-equation moments over (1, x₁..x_k): X'X
    * (its (0,0) entry is the row count), X'y and y'y. */
  final case class Moments(xtx: DenseMatrix[Double], xty: DenseVector[Double], yty: Double) {

    /** Least squares: solve X'X β = X'y (throws on a singular system). */
    def ols(feats: Seq[String]): Fit = {
      val beta = xtx \ xty
      Fit(beta(0), (1 until xtx.rows).map(beta(_)).toArray, feats)
    }

    /** MLlib `LinearRegression(regParam = alpha, elasticNetParam = 0)` —
      * WeightedLeastSquares' ridge algebra on the driver: features and label
      * standardized by their population σ, `alpha / σ_y` on the diagonal of
      * the standardized features (the intercept is not penalized), a
      * zero-σ feature gets coefficient 0 and a constant label gives zero
      * coefficients around its mean. Where MLlib falls back to L-BFGS
      * (`alpha = 0` on a collinear design) this throws instead. */
    def ridge(feats: Seq[String], alpha: Double): Fit = {
      val n = xtx(0, 0)
      val k = xtx.rows - 1
      val mean = (0 to k).map(j => xtx(j, 0) / n)
      val sd = (0 to k).map(j => math.sqrt(math.max(xtx(j, j) / n - mean(j) * mean(j), 0.0)))
      val yMean = xty(0) / n
      val ySd = math.sqrt(math.max(yty / n - yMean * yMean, 0.0))
      if (ySd == 0.0) return Fit(yMean, Array.fill(k)(0.0), feats)
      val active = (1 to k).filter(sd(_) != 0.0)
      val m = active.size
      // standardized system, intercept last (MLlib's layout)
      val a = DenseMatrix.zeros[Double](m + 1, m + 1)
      val b = DenseVector.zeros[Double](m + 1)
      for ((p, i) <- active.zipWithIndex) {
        for ((q, j) <- active.zipWithIndex) a(i, j) = xtx(p, q) / n / (sd(p) * sd(q))
        a(i, i) += alpha / ySd
        a(i, m) = mean(p) / sd(p); a(m, i) = a(i, m)
        b(i) = xty(p) / n / (sd(p) * ySd)
      }
      a(m, m) = 1.0
      b(m) = yMean / ySd
      val theta = a \ b
      val beta = Array.fill(k)(0.0)
      for ((p, i) <- active.zipWithIndex) beta(p - 1) = theta(i) * ySd / sd(p)
      Fit(theta(m) * ySd, beta, feats)
    }
  }

  /** Width of [[momentCols]] for `k` features. */
  private[graft] def momentWidth(k: Int): Int = (k + 1) * (k + 2) / 2 + (k + 1) + 1

  /** The moments aggregate columns over (1, feats) and y — X'X lower
    * triangle, X'y, y'y. With `in`, rows where it is false contribute
    * nothing, so several slices' moments share one aggregate. */
  private[graft] def momentCols(feats: Seq[String], in: Option[Column] = None): Seq[Column] = {
    val xs: Seq[Column] = lit(1.0) +: feats.map(c => col(c).cast("double"))
    val y = col(Y).cast("double")
    val k = xs.size
    def s(v: Column) = sum(in.fold(v)(when(_, v)))
    (for (i <- 0 until k; j <- 0 to i) yield s(xs(i) * xs(j))) ++
      (0 until k).map(i => s(xs(i) * y)) :+ s(y * y)
  }

  /** Read [[momentCols]] for `k` features from `r` starting at `at`. An
    * empty slice (null sums) throws, as a fit on no rows does. */
  private[graft] def readMoments(r: Row, at: Int, k: Int): Moments = {
    val n = k + 1
    val a = DenseMatrix.zeros[Double](n, n)
    val b = DenseVector.zeros[Double](n)
    var idx = at
    for (i <- 0 until n; j <- 0 to i) { a(i, j) = r.getDouble(idx); a(j, i) = a(i, j); idx += 1 }
    for (i <- 0 until n) { b(i) = r.getDouble(idx); idx += 1 }
    Moments(a, b, r.getDouble(idx))
  }

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
    (readMoments(r, 0, feats.size), r)
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
}
