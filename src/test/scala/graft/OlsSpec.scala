package graft

import graft.core.SeriesFrame
import graft.models.{MllibTsEstimator, Ols}
import org.apache.spark.sql.functions._

/** Pins the claim behind the closed-form OLS routing: [[Ols.fit]] solves the
  * SAME normal equations as the registry's `mlr` (MLlib LinearRegression,
  * solver "normal"), on the SAME train slice, to ~1e-10 — so swapping one
  * for the other in search scoring cannot move any oracle-checked decision
  * that isn't a genuine near-tie. */
class OlsSpec extends SparkSpec {

  private def fixture = {
    val ys = (0 until 60).map(i =>
      20.0 + 0.3 * i + 3.0 * math.sin(i / 3.0) + math.cos(i * 2.39))
    val base = obsSeries(ys)
    val withT = graft.functions.FeatureOps.addTimeTrend(base)
    val withAr = graft.functions.FeatureOps.addArTerms(withT, 2)
    SeriesFrame.withTestFlag(withAr, 10)
  }

  test("Ols.fit matches the MLlib normal solver's coefficients") {
    val feats = Seq("t", "ar_1", "ar_2")
    val flagged = fixture
    val fit = Ols.fit(flagged, feats)
    val model = MllibTsEstimator("mlr", feats).fitMllib(flagged)
    val lr = model.stages.last
      .asInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel]
    assert(math.abs(fit.intercept - lr.intercept) < 1e-8,
      s"intercept ${fit.intercept} vs ${lr.intercept}")
    fit.beta.zip(lr.coefficients.toArray).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-8, s"beta $a vs $b")
    }
    // predictions agree on every feature-complete row (train AND test)
    val both = model.transform(flagged.withColumn("yhat_cf", fit.predictExpr))
      .filter(feats.map(c => col(c).isNotNull).reduce(_ && _))
      .select(max(abs(col("yhat") - col("yhat_cf"))))
      .first().getDouble(0)
    assert(both < 1e-7, s"max prediction gap $both")
  }

  test("fitWithStd returns train-slice sample stddevs with the same betas") {
    val feats = Seq("t", "ar_1")
    val flagged = fixture
    val (fit, sds) = Ols.fitWithStd(flagged, feats)
    val plain = Ols.fit(flagged, feats)
    fit.beta.zip(plain.beta).foreach { case (a, b) => assert(a === b) }
    val train = flagged.filter(!col("is_test") && !col("is_future"))
      .filter(feats.map(c => col(c).isNotNull).reduce(_ && _))
    val expected = train.select(
      stddev_samp(col("t")), stddev_samp(col("ar_1"))).first()
    assert(math.abs(sds(0) - expected.getDouble(0)) < 1e-12)
    assert(math.abs(sds(1) - expected.getDouble(1)) < 1e-12)
  }

  test("singular design throws (callers NaN-skip it)") {
    val flagged = fixture.withColumn("t_dup", col("t") * 2.0)
    intercept[Throwable](Ols.fit(flagged, Seq("t", "t_dup")))
  }

  test("registry fit routes mlr/none to OlsModel with MLlib-identical transform") {
    val feats = Seq("t", "ar_1", "ar_2")
    val flagged = fixture
    val est = MllibTsEstimator("mlr", feats)
    val routed = est.fit(flagged)
    assert(routed.isInstanceOf[graft.models.OlsModel],
      s"expected OlsModel, got ${routed.getClass.getSimpleName}")
    val mllib = est.fitMllib(flagged)
    val gap = mllib.transform(
        routed.transform(flagged).withColumnRenamed("yhat", "yhat_cf"))
      .filter(feats.map(c => col(c).isNotNull).reduce(_ && _))
      .select(max(abs(col("yhat") - col("yhat_cf"))))
      .first().getDouble(0)
    assert(gap < 1e-7, s"max prediction gap $gap")
    // null-feature rows score NaN (VectorAssembler keep parity), not null
    val headRow = routed.transform(flagged)
      .filter(col("ar_2").isNull).select("yhat").first()
    assert(!headRow.isNullAt(0) && headRow.getDouble(0).isNaN)
    // scaled variants keep the MLlib pipeline path
    assert(MllibTsEstimator("mlr", feats, normalizer = "scale").fit(flagged)
      .isInstanceOf[org.apache.spark.ml.PipelineModel])
  }

  test("registry fit routes ridge/none to OlsModel with MLlib's ridge coefficients") {
    // a constant column: zero σ, so MLlib pins its coefficient to 0
    val feats = Seq("t", "ar_1", "const")
    val flagged = fixture.withColumn("const", lit(2.0))
    for (alpha <- Seq(0.01, 0.5, 1.0, 10.0)) {
      val est = MllibTsEstimator("ridge", feats, Map("alpha" -> alpha))
      val routed = est.fit(flagged)
      assert(routed.isInstanceOf[graft.models.OlsModel],
        s"expected OlsModel, got ${routed.getClass.getSimpleName}")
      val fit = routed.asInstanceOf[graft.models.OlsModel].fitted
      val lr = est.fitMllib(flagged).stages.last
        .asInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel]
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-8 * math.max(1.0, math.abs(b))
      assert(close(fit.intercept, lr.intercept), s"alpha $alpha: intercept ${fit.intercept} vs ${lr.intercept}")
      fit.beta.zip(lr.coefficients.toArray).foreach { case (a, b) =>
        assert(close(a, b), s"alpha $alpha: beta $a vs $b")
      }
      assert(fit.beta(2) == 0.0)
    }
  }

  test("graft_ols_fit's serialized buffer layout is pinned") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val agg = graft.functions.OlsFit(BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, ArrayType(DoubleType), nullable = true))
    val rows = Seq((5.0, Array(1.0, 2.0)), (7.0, Array(2.0, 1.0)), (4.0, Array(3.0, 5.0)))
    val buf = rows.foldLeft(agg.createAggregationBuffer()) { case (b, (y, xs)) =>
      agg.update(b, InternalRow(y, new GenericArrayData(xs.map(x => x: Any))))
    }
    // streaming state: int k, then X'X over (1, x1, x2) as a row-major
    // lower triangle, then X'y — no y'y
    val bb = java.nio.ByteBuffer.allocate(4 + 9 * 8)
    bb.putInt(2)
    Seq(3.0, 6.0, 14.0, 8.0, 19.0, 30.0, 16.0, 31.0, 37.0).foreach(bb.putDouble)
    val bytes = agg.serialize(buf)
    assert(bytes.toSeq === bb.array().toSeq)
    // the round trip solves the same system
    assert(agg.eval(agg.deserialize(bytes)).asInstanceOf[GenericArrayData].toDoubleArray().toSeq ===
      agg.eval(buf).asInstanceOf[GenericArrayData].toDoubleArray().toSeq)
  }
}
