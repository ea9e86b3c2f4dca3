package graft.models

import graft.core.SeriesFrame._
import graft.functions.FeatureOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `prophet_like` — the NAMED estimator for the reference's `prophet`
  * (/root/reference/src/scalecast/models.py:1275-1401), as the documented
  * Spark-native substitution (SURVEY §2.5): prophet's additive model
  * y = g(t) + s(t) + h(t) + ε with
  *
  *  - g(t): piecewise-linear growth with `nChangepoints` trend changepoints
  *    — prophet's own trend representation, here as a hinge basis
  *    max(0, t − c_j) with knots c_j placed deterministically over the
  *    first 80% of training history (prophet's `changepoint_range`
  *    default; prophet draws its knots from the same span, then shrinks
  *    with an L1 prior — the exact-OLS hinge fit is the unregularized,
  *    fully-reproducible counterpart). `nChangepoints = 0` is a single
  *    linear trend,
  *  - s(t): seasonality as a Fourier series of order `fourierOrder` over the
  *    row index at period `m` (prophet's own seasonality representation),
  *  - h(t): holidays → caller-supplied 0/1 regressor columns (`extra`,
  *    built with [[graft.functions.FeatureOps.addIntervalDummy]]).
  *
  * The curve is fit by the exact OLS used everywhere (`prophet_like` in the
  * MLlib registry = LinearRegression, normal solver), so prediction is fully
  * VECTORIZED over observed and horizon rows — no AR recursion, matching
  * prophet's curve-extrapolation character. The fit is pooled (one curve per
  * frame, like every [[Ols]] entry); the changepoint count adds hinge
  * columns, not jobs: still one moments aggregation + pure expressions.
  * Horizon rows extrapolate the LAST linear piece — prophet's own forecast
  * behavior for its default (non-MCMC) trend uncertainty mode.
  */
object ProphetLike {

  /** Fourier angular coefficient for order k at period m — computed once on
    * the driver so the oracle can splice the IDENTICAL double literal. */
  def omega(k: Int, m: Double): Double = 2.0 * math.Pi * k / m

  /** Deterministic changepoint knots: `nCp` positions uniformly spaced over
    * the first 80% of the `n` training rows (prophet's `changepoint_range`),
    * via PURE INTEGER arithmetic so a SQL oracle replays bit-identical
    * values: c_j = ⌊8·n·j / (10·(nCp+1))⌋, j = 1..nCp, clipped to [1, n) and
    * deduplicated (short series collapse knots rather than erroring). */
  def changepoints(n: Long, nCp: Int): Seq[Long] =
    (1 to nCp).map(j => (8L * n * j) / (10L * (nCp + 1)))
      .filter(c => c >= 1 && c < n).distinct

  /** Add trend + changepoint-hinge + Fourier feature columns; returns
    * (frame, feature names). `nTrain` is required when `nChangepoints > 0`
    * (knot placement needs the training length). */
  def features(df: DataFrame, m: Double = 12.0, fourierOrder: Int = 2,
               extra: Seq[String] = Nil, nChangepoints: Int = 0,
               nTrain: Long = 0L): (DataFrame, Seq[String]) = {
    val withT = FeatureOps.addTimeTrend(df)
    val knots = if (nChangepoints > 0) changepoints(nTrain, nChangepoints) else Nil
    val withCp = knots.zipWithIndex.foldLeft(withT) { case (f, (c, i)) =>
      f.withColumn(s"cp${i + 1}", greatest(lit(0.0), col("t") - lit(c.toDouble)))
    }
    val withF = (1 to fourierOrder).foldLeft(withCp)((f, k) =>
      f.withColumn(s"p${k}sin", sin(lit(omega(k, m)) * col("t")))
        .withColumn(s"p${k}cos", cos(lit(omega(k, m)) * col("t"))))
    val feats = Seq("t") ++ knots.indices.map(i => s"cp${i + 1}") ++
      (1 to fourierOrder).flatMap(k => Seq(s"p${k}sin", s"p${k}cos")) ++ extra
    (withF, feats)
  }

  /** Training length for knot placement: the same observed, non-test slice
    * [[Ols.fit]] trains on. One cheap count job, only when changepoints are
    * requested. */
  private def trainLength(frame: DataFrame): Long = Ols.trainSlice(frame, Nil).count()

  /** Fit on observed (non-test) rows, score everywhere incl. the horizon.
    * The fit is [[Ols]]'s one-aggregation closed form (identical normal-
    * equation math to the registry's `prophet_like` MLlib entry, minus the
    * per-fit scheduler overhead), and prediction is a pure expression. */
  def forecast(frame: DataFrame, m: Double = 12.0, fourierOrder: Int = 2,
               extra: Seq[String] = Nil, nChangepoints: Int = 0): DataFrame = {
    val nTrain = if (nChangepoints > 0) trainLength(frame) else 0L
    val (df, feats) = features(frame, m, fourierOrder, extra, nChangepoints, nTrain)
    val fit = Ols.fit(df, feats)
    df.withColumn("yhat", fit.predictExpr)
  }
}
