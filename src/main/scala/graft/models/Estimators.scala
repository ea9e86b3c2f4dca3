package graft.models

import graft.core.SeriesFrame._
import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage, Transformer}
import org.apache.spark.ml.feature.{MinMaxScaler, RobustScaler, StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.sql.DataFrame

/** MLlib-backed estimators with the reference's registry semantics
  * (/root/reference/src/scalecast/cfg.py:26-54: mlr/lasso/ridge/elasticnet →
  * LinearRegression params; rf/gbt → tree ensembles) and normalizer registry
  * (cfg.py:67-73: none/minmax/scale/robust → MLlib scaler stages).
  *
  * `fit` trains on observed non-test rows with complete features (the
  * reference drops the first max-lag rows, models.py:78-84); `transform`
  * scores any frame vectorized. Dynamic multi-step prediction with AR
  * features is [[Recursive.dynamicForecast]] — one executor-side walk per
  * series, or one whole-frame transform per dependency level, never a
  * per-series driver loop.
  */
final case class MllibTsEstimator(
    algo: String,
    features: Seq[String],
    params: Map[String, Double] = Map.empty,
    normalizer: String = "none",
    seed: Long = 42L) {

  private def p(name: String, default: Double): Double = params.getOrElse(name, default)

  def pipeline(): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol("_fraw")
      .setHandleInvalid("keep") // incomplete-lag rows score NaN instead of erroring
    val (scalerStage, featCol): (Option[PipelineStage], String) = normalizer match {
      case "none"   => (None, "_fraw")
      case "minmax" => (Some(new MinMaxScaler().setInputCol("_fraw").setOutputCol("_f")), "_f")
      case "scale"  => (Some(new StandardScaler().setWithMean(true).setWithStd(true)
                              .setInputCol("_fraw").setOutputCol("_f")), "_f")
      case "robust" => (Some(new RobustScaler().setWithCentering(true).setWithScaling(true)
                              .setInputCol("_fraw").setOutputCol("_f")), "_f")
      case other    => MllibTsEstimator.customNormalizer(other) match {
        case Some(mk) => (Some(mk("_fraw", "_f")), "_f")
        case None     => throw new IllegalArgumentException(s"unknown normalizer $other")
      }
    }
    val reg = MllibTsEstimator.customEstimator(algo) match {
      case Some(mk) => mk(MllibTsEstimator.Spec(featCol, Y, "yhat", params, seed))
      case None     => builtinReg(featCol)
    }
    new Pipeline().setStages((assembler +: scalerStage.toSeq :+ reg).toArray)
  }

  private def builtinReg(featCol: String): PipelineStage = {
    algo match {
      // prophet_like shares the exact-OLS solver: the prophet substitution is
      // a feature recipe (trend + Fourier + holiday dummies, see
      // [[ProphetLike]]) over a linear fit, named so registry users see it.
      case "mlr" | "prophet_like" => new LinearRegression().setSolver("normal")
        .setRegParam(0.0).setStandardization(false)
        .setFeaturesCol(featCol).setLabelCol(Y).setPredictionCol("yhat")
      case "lasso" => new LinearRegression()
        .setRegParam(p("alpha", 1.0)).setElasticNetParam(1.0).setMaxIter(p("maxiter", 100).toInt)
        .setFeaturesCol(featCol).setLabelCol(Y).setPredictionCol("yhat")
      case "ridge" => new LinearRegression()
        .setRegParam(p("alpha", 1.0)).setElasticNetParam(0.0)
        .setFeaturesCol(featCol).setLabelCol(Y).setPredictionCol("yhat")
      case "elasticnet" => new LinearRegression()
        .setRegParam(p("alpha", 1.0)).setElasticNetParam(p("l1_ratio", 0.5))
        .setFeaturesCol(featCol).setLabelCol(Y).setPredictionCol("yhat")
      // sklearn SGDRegressor semantics (cfg.py:26-48): squared loss +
      // elastic-net penalty, alpha=1e-4 default. The optimizer differs
      // (MLlib uses OWL-QN/L-BFGS, not literal SGD) but the fitted model
      // family and regularization match — documented substitution.
      case "sgd" => new LinearRegression()
        .setRegParam(p("alpha", 0.0001)).setElasticNetParam(p("l1_ratio", 0.15))
        .setMaxIter(p("maxiter", 1000).toInt)
        .setFeaturesCol(featCol).setLabelCol(Y).setPredictionCol("yhat")
      case "rf" => new RandomForestRegressor().setSeed(seed)
        .setNumTrees(p("n_estimators", 100).toInt)
        .setMaxDepth(p("max_depth", 5).toInt)
        .setFeaturesCol(featCol).setLabelCol(Y).setPredictionCol("yhat")
      // xgboost/catboost (cfg.py:26-48) are gradient-boosted decision trees;
      // MLlib's GBTRegressor is the Spark-native GBDT — registered as a
      // DOCUMENTED family substitution (same model class, different library),
      // unlike svr/mlp below where no MLlib family exists at all.
      case "gbt" | "xgboost" | "catboost" => new GBTRegressor().setSeed(seed)
        .setMaxIter(p("n_estimators", 50).toInt)
        .setMaxDepth(p("max_depth", 3).toInt)
        .setFeaturesCol(featCol).setLabelCol(Y).setPredictionCol("yhat")
      // svr/mlp live outside the MLlib pipeline (driver-fit kernel/net
      // models with columnar broadcast prediction — [[Svr]], [[MlpNet]]);
      // they route through `fit`, not the pipeline builder
      case "svr" | "mlp" => throw new UnsupportedOperationException(
        s"estimator '$algo' does not build an MLlib pipeline — call " +
          "MllibTsEstimator.fit (it routes to the native Svr/MlpNet models)")
      // reference names with NAMED substitutions elsewhere in the engine —
      // point at them instead of a bare unknown-algo error
      case "prophet" => throw new UnsupportedOperationException(
        "estimator 'prophet' is served by the named substitution " +
          "'prophet_like' (trend + Fourier + holiday dummies, exact OLS)")
      case "tbats" => throw new UnsupportedOperationException(
        "estimator 'tbats' is served by the named substitution 'tbats_like' " +
          "(Box-Cox MLE + trend + multi-period trigonometric seasonality; " +
          "ARMA error correction omitted - compose with 'arima' if needed)")
      case "rnn" | "lstm" => throw new UnsupportedOperationException(
        s"estimator '$algo' is a direct multi-horizon net, not a row scorer " +
          "— it is served natively by graft.models.RnnNet through the " +
          "Forecaster facade (setEstimator + manualForecast) or " +
          "RnnNet.fitPredictBySeries")
      case other => throw new IllegalArgumentException(s"unknown algo $other")
    }
  }

  /** Train on observed, non-test, feature-complete rows.
    *
    * The closed-form linear family with no scaler (`mlr`/`prophet_like` and
    * `ridge`, `normalizer = "none"`) routes to [[OlsModel]]: the same
    * normal-equation math as MLlib's WeightedLeastSquares (OlsSpec pins the
    * coefficients to 1e-8), at ONE moments job instead of MLlib's two jobs
    * plus driver-side instrumentation. Everything else (lasso, elasticnet,
    * sgd, scaled variants, trees, custom registrations) fits the MLlib
    * pipeline. */
  def fit(frame: DataFrame): Transformer = algo match {
    case "mlr" | "prophet_like" if normalizer == "none" =>
      OlsModel(Ols.fit(frame, features))
    case "ridge" if normalizer == "none" =>
      OlsModel(Ols.fitRidge(frame, features, p("alpha", 1.0)))
    // the reference's svr/mlp (sklearn SVR / MLPRegressor): native
    // driver-fit models with documented optimizer substitutions — see
    // [[Svr]] (ε-SVR dual coordinate descent) and [[MlpNet]] (tanh net,
    // full-batch L-BFGS, deterministic init). The normalizer is baked into
    // the model (kernel/net fits are scale-sensitive).
    case "svr" => Svr.fit(frame, features,
      c = p("C", 1.0), epsilon = p("epsilon", 0.1),
      gammaOpt = params.get("gamma"),
      normalizer = if (normalizer == "none") "scale" else normalizer)
    case "mlp" => MlpNet.fit(frame, features,
      hidden = p("hidden_layer_sizes", 8.0).toInt,
      alpha = p("alpha", 1e-4), maxIter = p("maxiter", 300.0).toInt,
      seed = seed)
    case _ => fitMllib(frame)
  }

  /** The MLlib pipeline fit, unconditionally — for callers that need the
    * pipeline object itself (stage introspection, parity tests). */
  def fitMllib(frame: DataFrame): PipelineModel =
    pipeline().fit(Ols.trainSlice(frame, features))
}

object MllibTsEstimator {
  /** Registry parity with cfg.py:26-48 for the MLlib-expressible estimators
    * (knn lives in [[KnnRegressor]] — join-based, not an MLlib pipeline). */
  val supportedAlgos: Seq[String] = Seq("mlr", "lasso", "ridge", "elasticnet",
    "sgd", "rf", "gbt", "xgboost", "catboost", "prophet_like", "svr", "mlp")

  /** What a user-registered estimator builder receives: the (possibly
    * scaled) assembled feature column, label/prediction columns, the
    * hyperparameter map, and the seed. */
  final case class Spec(featuresCol: String, labelCol: String,
                        predictionCol: String, params: Map[String, Double],
                        seed: Long)

  /** `add_sklearn_estimator`
    * (/root/reference/src/scalecast/_Forecaster_parent.py:786-814): register
    * a new estimator under a name; any MLlib regressor (or custom
    * Estimator stage) that honors the Spec's columns slots into the same
    * assembler/normalizer pipeline, the recursion scorer, tune/CV, and the
    * results store. Builtins cannot be shadowed. */
  private val customEst =
    scala.collection.concurrent.TrieMap.empty[String, Spec => PipelineStage]

  /** `add_normalizer` (_Forecaster_parent.py:1944-1955): register a scaler
    * stage builder (inputCol, outputCol) under a name. */
  private val customNorm =
    scala.collection.concurrent.TrieMap.empty[String, (String, String) => PipelineStage]

  def registerEstimator(name: String)(builder: Spec => PipelineStage): Unit = {
    require(!supportedAlgos.contains(name),
      s"estimator '$name' is builtin")
    customEst.put(name, builder)
  }

  def registerNormalizer(name: String)(builder: (String, String) => PipelineStage): Unit = {
    require(!Seq("none", "minmax", "scale", "robust").contains(name),
      s"normalizer '$name' is builtin")
    customNorm.put(name, builder)
  }

  private[models] def customEstimator(name: String): Option[Spec => PipelineStage] =
    customEst.get(name)
  private[models] def customNormalizer(name: String): Option[(String, String) => PipelineStage] =
    customNorm.get(name)

  /** `transfer_predict` support
    * (/root/reference/src/scalecast/_Forecaster_parent.py:1869-1942): persist
    * a fitted model and re-apply it to a different frame later / elsewhere —
    * MLlib's native persistence for pipelines, `DefaultParamsWritable` for
    * [[OlsModel]] (its coefficients ARE its params). Both write through the
    * Hadoop FS layer, so the same path works on local disk or HDFS/S3. */
  def save(model: org.apache.spark.ml.Transformer, path: String): Unit = model match {
    case w: org.apache.spark.ml.util.MLWritable => w.write.overwrite().save(path)
    case other => throw new IllegalArgumentException(
      s"model ${other.getClass.getName} is not MLWritable")
  }
  def load(path: String): org.apache.spark.ml.Transformer =
    // the two persisted shapes are distinguished by the metadata's class
    // field; PipelineModel.load rejects an OlsModel directory loudly and
    // vice versa, so try-order is safe
    scala.util.Try(PipelineModel.load(path): org.apache.spark.ml.Transformer)
      .getOrElse(OlsModel.load(path))
}
