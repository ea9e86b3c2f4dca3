package graft.models

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core.SeriesFrame._
import graft.functions.DotProduct.dotNative
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** ε-insensitive support-vector regression — the reference's `svr` estimator
  * (/root/reference/src/scalecast/cfg.py:26-48, sklearn.svm.SVR: RBF kernel,
  * C=1.0, ε=0.1, gamma='scale').
  *
  * DOCUMENTED SUBSTITUTION in the optimizer, same model family: sklearn
  * solves the dual with libsvm's SMO under an explicit equality constraint
  * for the bias; this implementation folds the bias into the kernel
  * (K̃ = K + 1, the standard "bias in feature space" reduction), which drops
  * the equality constraint and leaves a box-constrained ℓ1-regularized QP
  *
  *   max_β  −½ βᵀK̃β + yᵀβ − ε‖β‖₁   s.t. |β_i| ≤ C,   β = α − α*
  *
  * solved by DETERMINISTIC cyclic coordinate descent (exact per-coordinate
  * soft-threshold + clip update, residual vector maintained incrementally —
  * O(n) per update). Same support-vector structure as SMO: points strictly
  * inside the ε-tube end at β = 0 (SvrMlpSpec pins this KKT property), tube
  * violators saturate at ±C.
  *
  * Two Spark shapes, one solver:
  *  - [[Svr.fit]] (single/few series): driver fit over a series-length-sized
  *    design (the reference's own unit of work — SURVEY §4); prediction is
  *    columnar — support vectors broadcast, per-row kernel terms via the
  *    native codegen dot product, one groupBy sum, no UDFs;
  *  - [[Svr.fitPredictBySeries]] (the 10⁶-series path): each series' fit AND
  *    prediction run inside ONE executor task via `flatMapGroups` — one
  *    shuffle keyed by series_id, zero driver state, a million series
  *    parallelize (the detrendLoessT / GroupedOls pattern).
  */
final class SvrModel(override val uid: String, svRows: DataFrame,
                     features: Seq[String], gamma: Double, intercept: Double,
                     shift: Array[Double], scale: Array[Double])
  extends Transformer {

  def this(svRows: DataFrame, features: Seq[String], gamma: Double,
           intercept: Double, shift: Array[Double], scale: Array[Double]) =
    this(Identifiable.randomUID("svr"), svRows, features, gamma, intercept,
      shift, scale)

  override def copy(extra: ParamMap): SvrModel = this
  override def transformSchema(schema: StructType): StructType =
    schema.add("yhat", DoubleType)

  /** Rows with nonzero dual weight — the KKT sparsity diagnostic. */
  def numSupportVectors: Long = svRows.count()

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val withId = df.withColumn("_rid", monotonically_increasing_id())
      .localCheckpoint(true) // pin ids before the branch+rejoin (Knn pattern)
    val complete = features.foldLeft(withId)((f, c) =>
      f.filter(col(c).isNotNull && !isnan(col(c))))
    val xv = array(features.zipWithIndex.map { case (c, i) =>
      (col(c) - lit(shift(i))) / lit(scale(i)) }: _*)
    // ‖x−s‖² = x·x − 2 x·s + s·s, all through the codegen dot product
    val scored = complete
      .withColumn("_xv", xv)
      .withColumn("_xx", dotNative(col("_xv"), col("_xv")))
      .join(broadcast(svRows))
      .withColumn("_t", col("_beta") * exp(lit(-gamma) *
        (col("_xx") - lit(2.0) * dotNative(col("_xv"), col("_sv")) + col("_ss"))))
      .groupBy("_rid").agg(sum(col("_t")).as("_k"))
    withId.join(scored, Seq("_rid"), "left")
      .withColumn("yhat", col("_k") + lit(intercept))
      .drop("_rid", "_k")
  }
}

object Svr {

  /** Guard: the kernel matrix is n², and a series is the per-task unit. */
  val MaxTrainRows = 20000

  /** Fitted local model — pure JVM state, serializable into executor tasks. */
  private[models] final case class LocalSvr(
      sv: Array[Array[Double]], beta: Array[Double], gamma: Double,
      intercept: Double, shift: Array[Double], scale: Array[Double]) {
    def predict(xRaw: Array[Double]): Double = {
      val d = shift.length
      val x = Array.tabulate(d)(j => (xRaw(j) - shift(j)) / scale(j))
      var s = intercept
      var i = 0
      while (i < sv.length) {
        var dd = 0.0
        var j = 0
        while (j < d) { val t = x(j) - sv(i)(j); dd += t * t; j += 1 }
        s += beta(i) * math.exp(-gamma * dd)
        i += 1
      }
      s
    }
  }

  /** The deterministic dual coordinate-descent solve over raw (X, y). */
  private[models] def solveLocal(xRaw: DenseMatrix[Double], yv: DenseVector[Double],
                                 c: Double, epsilon: Double,
                                 gammaOpt: Option[Double], normalizer: String,
                                 maxSweeps: Int, tol: Double): LocalSvr = {
    val n = xRaw.rows
    val d = xRaw.cols
    require(n > 0, "svr: empty training set")
    require(n <= MaxTrainRows,
      s"svr: $n training rows exceeds the per-series bound $MaxTrainRows")
    val (shift, scale) = normalizer match {
      case "none" => (Array.fill(d)(0.0), Array.fill(d)(1.0))
      case "scale" =>
        val mu = Array.tabulate(d)(j => breeze.stats.mean(xRaw(::, j)))
        val sd = Array.tabulate(d) { j =>
          val s = breeze.stats.stddev(xRaw(::, j)); if (s > 0) s else 1.0
        }
        (mu, sd)
      case "minmax" =>
        val lo = Array.tabulate(d)(j => breeze.linalg.min(xRaw(::, j)))
        val hi = Array.tabulate(d)(j => breeze.linalg.max(xRaw(::, j)))
        (lo, Array.tabulate(d)(j => if (hi(j) > lo(j)) hi(j) - lo(j) else 1.0))
      case other => throw new IllegalArgumentException(
        s"svr normalizer '$other' unsupported (none/scale/minmax)")
    }
    val x = DenseMatrix.tabulate(n, d)((i, j) => (xRaw(i, j) - shift(j)) / scale(j))

    // sklearn gamma='scale' = 1 / (d · Var(X)) over the scaled design
    val gamma = gammaOpt.getOrElse {
      val v = breeze.stats.variance(x.toDenseVector)
      1.0 / (d * (if (v > 0) v else 1.0))
    }

    // K̃ = exp(−γ‖xi−xj‖²) + 1 (bias folded into the kernel)
    val kk = DenseMatrix.tabulate(n, n) { (i, j) =>
      var s = 0.0
      var t = 0
      while (t < d) { val dd = x(i, t) - x(j, t); s += dd * dd; t += 1 }
      math.exp(-gamma * s) + 1.0
    }

    // cyclic coordinate descent on the dual; f = K̃β maintained incrementally
    val beta = DenseVector.zeros[Double](n)
    val f = DenseVector.zeros[Double](n)
    var sweep = 0
    var maxDelta = Double.MaxValue
    while (sweep < maxSweeps && maxDelta > tol) {
      maxDelta = 0.0
      var i = 0
      while (i < n) {
        val kii = kk(i, i)
        val g = yv(i) - (f(i) - kii * beta(i)) // residual excluding i's own term
        val soft = math.signum(g) * math.max(0.0, math.abs(g) - epsilon)
        val bNew = math.max(-c, math.min(c, soft / kii))
        val delta = bNew - beta(i)
        if (delta != 0.0) {
          var r = 0
          while (r < n) { f(r) += kk(r, i) * delta; r += 1 }
          beta(i) = bNew
          val ad = math.abs(delta)
          if (ad > maxDelta) maxDelta = ad
        }
        i += 1
      }
      sweep += 1
    }
    val svIdx = (0 until n).filter(i => math.abs(beta(i)) > 1e-12).toArray
    LocalSvr(
      svIdx.map(i => Array.tabulate(d)(j => x(i, j))),
      svIdx.map(beta(_)),
      gamma, breeze.linalg.sum(beta), shift, scale)
  }

  /** Train on observed, non-test, feature-complete rows of (typically) one
    * series; returns the columnar-prediction Transformer. */
  def fit(frame: DataFrame, features: Seq[String],
          c: Double = 1.0, epsilon: Double = 0.1,
          gammaOpt: Option[Double] = None, normalizer: String = "scale",
          maxSweeps: Int = 500, tol: Double = 1e-9): SvrModel = {
    val rows = trainRows(frame, features)
    val n = rows.length
    val d = features.length
    val xRaw = DenseMatrix.tabulate(n, d)((i, j) => rows(i).getDouble(j))
    val yv = DenseVector.tabulate(n)(i => rows(i).getDouble(d))
    val m = solveLocal(xRaw, yv, c, epsilon, gammaOpt, normalizer, maxSweeps, tol)
    val spark = frame.sparkSession
    import spark.implicits._
    val svs = m.sv.indices.map { i =>
      val sv = m.sv(i)
      var ss = 0.0; var j = 0
      while (j < d) { ss += sv(j) * sv(j); j += 1 }
      (sv, m.beta(i), ss)
    }
    val svDf =
      if (svs.nonEmpty) svs.toDF("_sv", "_beta", "_ss")
      else Seq((Array.fill(d)(0.0), 0.0, 0.0)).toDF("_sv", "_beta", "_ss").limit(0)
    new SvrModel(svDf.localCheckpoint(true), features, m.gamma, m.intercept,
      m.shift, m.scale)
  }

  /** The 10⁶-series path: per-series fit + score in ONE `flatMapGroups`
    * pass — each task trains its series' SVR on observed non-test rows and
    * scores every feature-complete row (observed and horizon). Output:
    * (series_id, ds, yhat). One shuffle keyed by series_id, no driver or
    * broadcast state; ManySeriesSpec-style coverage in SvrMlpSpec. */
  def fitPredictBySeries(frame: DataFrame, features: Seq[String],
                         c: Double = 1.0, epsilon: Double = 0.1,
                         gammaOpt: Option[Double] = None,
                         normalizer: String = "scale",
                         maxSweeps: Int = 500, tol: Double = 1e-9): DataFrame =
    groupedFitPredict(frame, features) { (x, y) =>
      solveLocal(x, y, c, epsilon, gammaOpt, normalizer, maxSweeps, tol).predict _
    }

  // ---------------------------------------------------------------- shared

  private[models] def trainRows(frame: DataFrame, features: Seq[String]): Array[Row] = {
    val train = features.foldLeft(Ols.trainSlice(frame, features))((f, c0) =>
      f.filter(!isnan(col(c0))))
    // deterministic row order: solver sweep order must not depend on
    // partitioning
    train.orderBy(col(SeriesId), col(Ds))
      .select((features :+ Y).map(col): _*)
      .collect()
  }

  /** Generic per-series fit+predict harness shared by svr and mlp: `mk`
    * builds a predictor from the series' raw train design. */
  private[models] def groupedFitPredict(frame: DataFrame, features: Seq[String])(
      mk: (DenseMatrix[Double], DenseVector[Double]) => Array[Double] => Double): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val hasTest = frame.columns.contains("is_test")
    val cols = Seq(col(SeriesId).cast("string"), col(Ds).cast("date"),
      col(Y).cast("double"), col(IsFuture).cast("boolean"),
      (if (hasTest) col("is_test") else lit(false)).cast("boolean").as("is_test")) ++
      features.map(c => col(c).cast("double"))
    val d = features.length
    val outSchema = StructType(Seq(
      StructField(SeriesId, org.apache.spark.sql.types.StringType),
      StructField(Ds, org.apache.spark.sql.types.DateType),
      StructField("yhat", DoubleType)))
    import org.apache.spark.sql.Encoders
    frame.select(cols: _*).groupByKey(_.getString(0))(Encoders.STRING)
      .flatMapGroups { (sid, it) =>
        val rows = it.toIndexedSeq.sortBy(r => r.getDate(1).getTime)
        def feats(r: Row): Option[Array[Double]] = {
          val a = new Array[Double](d)
          var j = 0
          while (j < d) {
            if (r.isNullAt(5 + j) || r.getDouble(5 + j).isNaN) return None
            a(j) = r.getDouble(5 + j); j += 1
          }
          Some(a)
        }
        val train = rows.filter(r => !r.getBoolean(3) && !r.isNullAt(2) &&
          !r.getBoolean(4) && feats(r).isDefined)
        if (train.isEmpty) Iterator.empty
        else {
          val x = DenseMatrix.tabulate(train.length, d)((i, j) =>
            train(i).getDouble(5 + j))
          val y = DenseVector.tabulate(train.length)(i => train(i).getDouble(2))
          val predict = mk(x, y)
          rows.iterator.flatMap { r =>
            feats(r).map(f => Row(sid, r.getDate(1), predict(f)))
          }
        }
      }(Encoders.row(outSchema)).toDF()
  }
}
