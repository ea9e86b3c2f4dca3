package graft.models

import graft.core.SeriesFrame._
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** k-nearest-neighbors regressor — the reference's `knn` estimator
  * (/root/reference/src/scalecast/cfg.py:26-48, sklearn KNeighborsRegressor
  * with uniform weights): prediction = mean y of the k closest training rows
  * in feature space (euclidean).
  *
  * Spark shape: a time-series training design matrix is series-length-sized,
  * so it BROADCASTS; scoring is a map-side broadcast join (no shuffled cross
  * join) + a per-row top-k window over at most |train| candidates. Rows with
  * incomplete features score null (the same contract as the MLlib pipelines'
  * NaN). Implements [[Transformer]] so [[Recursive.dynamicForecast]] drives
  * it like any other model.
  */
final class KnnRegressor(override val uid: String, trainRows: DataFrame,
                         features: Seq[String], k: Int) extends Transformer {

  def this(trainRows: DataFrame, features: Seq[String], k: Int) =
    this(Identifiable.randomUID("knn"), trainRows, features, k)

  override def copy(extra: ParamMap): KnnRegressor = this
  override def transformSchema(schema: StructType): StructType =
    schema.add("yhat", org.apache.spark.sql.types.DoubleType)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    // materialize the generated ids before branching: monotonically_increasing_id
    // is non-deterministic, and the final self-join evaluates `withId` twice —
    // without the checkpoint a task retry could re-assign ids on one branch
    // and mispair predictions with rows.
    val withId = df.withColumn("_rid", monotonically_increasing_id())
      .localCheckpoint(true)
    val train = broadcast(trainRows.select(
      (features.map(c => col(c).as(s"_tr_$c")) :+ col(Y).as("_try")): _*))
    val complete = features.foldLeft(withId)((f, c) =>
      f.filter(col(c).isNotNull && !isnan(col(c))))
    val dist2 = features.map { c =>
      val d = col(c) - col(s"_tr_$c"); d * d
    }.reduce(_ + _)
    val ranked = complete.join(train)
      .withColumn("_d2", dist2)
      .withColumn("_rk", row_number().over(
        Window.partitionBy("_rid").orderBy(col("_d2"), col("_try"))))
    val preds = ranked.filter(col("_rk") <= k)
      .groupBy("_rid").agg(avg(col("_try")).as("yhat"))
    withId.join(preds, Seq("_rid"), "left").drop("_rid")
  }
}

object KnnRegressor {
  /** Fit = snapshot the observed, non-test, feature-complete rows (lazy
    * memorization — kNN has no parameters). */
  def fit(frame: DataFrame, features: Seq[String], k: Int = 5): KnnRegressor = {
    val train = Ols.trainSlice(frame, features)
    new KnnRegressor(train.select((features :+ Y).map(col): _*).localCheckpoint(true),
      features, k)
  }
}
