package graft.models

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param.{DoubleArrayParam, DoubleParam, ParamMap, StringArrayParam}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}

/** A fitted closed-form linear model as a first-class `Transformer` — what
  * the registry's linear family (`mlr`/`prophet_like` and `ridge`,
  * `normalizer = "none"`) returns from `fit` instead of an MLlib pipeline.
  *
  * Why: `LinearRegression(solver = "normal").fit` runs two Spark jobs
  * through WeightedLeastSquares plus its driver-side instrumentation — a
  * fixed per-fit cost that dominates small-series queries and never
  * amortizes. [[Ols.fit]] / [[Ols.fitRidge]] solve the SAME normal
  * equations (a driver solve on one distributed moments aggregation, one
  * job), so wrapping the result in a Transformer keeps every consumer —
  * `transform`, [[Recursive]] via [[RowScorer.unwrap]], persistence — while
  * deleting the overhead.
  *
  * Parity contract with the MLlib pipeline it replaces:
  *  - `transform` adds `yhat` as a pure Column expression (whole-stage
  *    codegen; no `_fraw` scratch column to drop);
  *  - a null feature scores NaN, matching VectorAssembler's
  *    `handleInvalid = "keep"` → NaN-vector → NaN-prediction behavior that
  *    the recursion paths rely on for incomplete-lag rows;
  *  - persistence goes through `DefaultParamsWritable` (the coefficients ARE
  *    the params), so `MllibTsEstimator.save/load` round-trips it like any
  *    MLlib model (transfer_predict,
  *    /root/reference/src/scalecast/_Forecaster_parent.py:1869-1942).
  */
final class OlsModel(override val uid: String)
    extends Transformer with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("olsModel"))

  val intercept = new DoubleParam(this, "intercept", "OLS intercept")
  val beta = new DoubleArrayParam(this, "beta", "OLS coefficients, feature order")
  val feats = new StringArrayParam(this, "feats", "feature column names")

  def setFit(f: Ols.Fit): this.type = {
    set(intercept, f.intercept); set(beta, f.beta); set(feats, f.feats.toArray); this
  }

  def fitted: Ols.Fit = Ols.Fit($(intercept), $(beta), $(feats).toSeq)

  override def transform(ds: Dataset[_]): DataFrame = {
    val f = fitted
    val expr = f.feats.zip(f.beta.toSeq).foldLeft(lit(f.intercept)) {
      // coalesce(_, NaN): null features poison the prediction to NaN, the
      // exact VectorAssembler handleInvalid="keep" semantics
      case (acc, (c, b)) => acc + coalesce(col(c).cast("double"), lit(Double.NaN)) * lit(b)
    }
    ds.withColumn("yhat", expr)
  }

  override def transformSchema(schema: StructType): StructType =
    if (schema.fieldNames.contains("yhat")) schema else schema.add("yhat", DoubleType)

  override def copy(extra: ParamMap): OlsModel = defaultCopy(extra)
}

object OlsModel extends DefaultParamsReadable[OlsModel] {
  def apply(f: Ols.Fit): OlsModel = new OlsModel().setFit(f)
}
