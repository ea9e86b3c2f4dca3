package graft.models

import org.apache.spark.ml.{PipelineModel, PredictionModel, Transformer}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.{Vector, Vectors}

/** Single-row scoring view of a fitted model.
  *
  * Two unwrappable shapes:
  *  - [[OlsModel]] (the registry's linear-family default): the scorer is the
  *    β-dot product itself — no MLlib object in the loop at all;
  *  - a pipeline that is structurally `[VectorAssembler, PredictionModel]`
  *    (every other `normalizer = "none"` registry estimator): assemble the
  *    feature doubles in the assembler's declared order and call the
  *    predictor's public `predict(Vector)` — the SAME code `transform` runs
  *    per row, so results are identical.
  *
  * This is what lets [[Recursive]] run the dynamic recursion as its walk:
  * ONE `flatMapGroups` pass per series (state bounded at lags + h values)
  * instead of one whole-frame job per dependency level: the sequential
  * dependence lives inside a partition, not across job barriers. Pipelines
  * with scaler stages, non-pipeline models like [[KnnRegressor]] and custom
  * stages return None and take the wavefront, which needs nothing but
  * `transform`.
  */
final class RowScorer private (
    val featureCols: Seq[String],
    scoreFn: Array[Double] => Double) extends Serializable {

  /** Null/absent features must be NaN — matching VectorAssembler's
    * `handleInvalid = "keep"` (and [[OlsModel]]'s coalesce-to-NaN) so
    * incomplete-lag rows score NaN, not error. */
  def score(feats: Array[Double]): Double = scoreFn(feats)
}

object RowScorer {
  def unwrap(model: Transformer): Option[RowScorer] = model match {
    case om: OlsModel => Some(ols(om.fitted))
    case pm: PipelineModel => pm.stages match {
      case Array(va: VectorAssembler, p: PredictionModel[Vector @unchecked, _])
          if p.getFeaturesCol == va.getOutputCol =>
        Some(new RowScorer(va.getInputCols.toSeq, xs => p.predict(Vectors.dense(xs))))
      case _ => None
    }
    case _ => None
  }

  /** intercept + Σ βᵢ·xᵢ in feature order; NaN features propagate. */
  private[models] def ols(f: Ols.Fit): RowScorer = {
    val ic = f.intercept
    val b = f.beta
    new RowScorer(f.feats, xs => {
      var s = ic; var i = 0
      while (i < b.length) { s += b(i) * xs(i); i += 1 }
      s
    })
  }
}
