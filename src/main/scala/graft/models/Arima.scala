package graft.models

import graft.core.SeriesFrame._
import graft.functions.FeatureOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ARMA(p, q) estimation via Hannan–Rissanen — the reference's `arima`
  * estimator re-expressed without statsmodels' iterative CSS/MLE
  * (/root/reference/src/scalecast/models.py:1150-1273; SURVEY §2.5 calls for
  * a closed-form-reachable slice): two OLS stages, both distributed.
  *
  *  1. Fit a long AR(L) by OLS, L ≥ p+q, and take its residuals ê_t as
  *     innovation estimates.
  *  2. Regress y_t on y_(t−1..p) and ê_(t−1..q) — linear in all parameters,
  *     so plain OLS yields (φ, θ).
  *
  * Differencing (the "I" part) composes with [[graft.operators.Transforms.diffT]]
  * and its exact revert. Forecasting: future innovations are zero, past ones
  * are the stage-1 residuals, so horizon MA-lag cells can be pre-filled and
  * only the AR recursion needs the step loop ([[Recursive.dynamicForecast]]).
  */
object Arima {

  final case class ArmaFit(model: org.apache.spark.ml.Transformer,
                           p: Int, q: Int, prepared: DataFrame)

  /** Fit ARMA(p, q) on the observed slice; `prepared` carries the y-lag and
    * residual-lag feature columns for scoring/forecasting. */
  def fitArma(frame: DataFrame, p: Int, q: Int, longAr: Int = 0): ArmaFit =
    fitArmaLags(frame, 1 to p, 1 to q, longAr)

  /** Seasonal ARMA (p, q)×(P, Q)_m — the reference's `arima` seasonal orders
    * (models.py:1150-1273 seasonal_order) via the same two-stage estimation:
    * the multiplicative seasonal polynomial is approximated additively with
    * y lags {1..p} ∪ {m..Pm} and innovation lags {1..q} ∪ {m..Qm}. Seasonal
    * d composes with diffT(m) upstream, like d with diffT(1). */
  def fitSarma(frame: DataFrame, p: Int, q: Int, bigP: Int, bigQ: Int, m: Int,
               longAr: Int = 0): ArmaFit =
    fitArmaLags(frame,
      ((1 to p) ++ (1 to bigP).map(_ * m)).distinct.sorted,
      ((1 to q) ++ (1 to bigQ).map(_ * m)).distinct.sorted, longAr)

  /** AIC = n·ln(sse/n) + 2(p+q+1) of the Hannan–Rissanen fit WITHOUT
    * materializing the MLlib stage-2 model — the closed-form scoring path
    * [[graft.eval.AutoSelect.autoArma]]'s grid fans out over: two moments
    * aggregations (stage-1 long AR via [[Ols]] inside [[prepareArma]],
    * stage 2 in [[Ols.aic]]) + one sse aggregation, all identical
    * normal-equation math to the full fit and to the oracle's Cholesky
    * replay. */
  def armaAic(frame: DataFrame, p: Int, q: Int, longAr: Int = 0): Double = {
    val (prepared, feats) = prepareArma(frame, 1 to p, 1 to q, longAr)
    Ols.aic(prepared, feats)
  }

  /** Hannan–Rissanen with explicit lag sets. */
  def fitArmaLags(frame: DataFrame, arLags: Seq[Int], maLags: Seq[Int],
                  longAr: Int = 0): ArmaFit = {
    val (prepared, feats) = prepareArma(frame, arLags, maLags, longAr)
    val stage2 = MllibTsEstimator("mlr", feats).fit(prepared)
    ArmaFit(stage2, arLags.size, maLags.size, prepared)
  }

  /** Stage 1 + feature construction shared by [[fitArmaLags]] and
    * [[armaAic]]: returns the prepared frame and stage-2 feature names. */
  private def prepareArma(frame: DataFrame, arLags: Seq[Int], maLags: Seq[Int],
                          longAr: Int = 0): (DataFrame, Seq[String]) = {
    // default long-AR order: p+q+4 in the plain case (ts_arma's oracle
    // replays exactly AR(6) for (1,1)), stretched to cover seasonal lags
    val maxNeeded = (arLags ++ maLags ++ Seq(0)).max
    val L = if (longAr > 0) longAr
            else math.max(maxNeeded, arLags.size + maLags.size) + 4
    // stage 1: long-AR residuals as innovation estimates. Closed-form OLS
    // (one moments job; same normal-equation math as the MLlib solver and
    // the oracle's Cholesky replay) — only stage 2 needs a real Transformer
    // for the recursive horizon scorer.
    val withLongAr = FeatureOps.addArTerms(frame, L)
    val s1feats = (1 to L).map(i => s"ar_$i")
    val s1 = Ols.fit(withLongAr, s1feats)
    val resid = withLongAr
      .withColumn("yhat", s1.predictExpr)
      .withColumn("_e", when(isnan(col("yhat")) || col("yhat").isNull, lit(null))
        .otherwise(col(Y) - col("yhat")))
      .drop("yhat")
    // stage 2 features: y lags (recursive-fillable ar_*) + innovation lags.
    // Horizon elag_j: the j-step-back innovation while it is an observed one
    // (first j steps), else 0 — future innovations have expectation 0.
    // Observed rows keep null elags at the series head so stage-2 training
    // drops them rather than learning from fake zeros.
    val noAr = resid.drop((1 to L).map(i => s"ar_$i"): _*)
    val withELags = maLags.foldLeft(noAr)((f, j) =>
      f.withColumn(s"elag_$j",
        when(col(IsFuture), coalesce(lag(col("_e"), j).over(w), lit(0.0)))
          .otherwise(lag(col("_e"), j).over(w))))
    val prepared = FeatureOps.addArLags(withELags, arLags)
    val feats = arLags.map(i => s"ar_$i") ++ maLags.map(j => s"elag_$j")
    (prepared, feats)
  }

  /** Fitted values + recursive dynamic horizon forecast. */
  def forecast(fit: ArmaFit): DataFrame =
    Recursive.dynamicForecast(fit.prepared, fit.model)
}
