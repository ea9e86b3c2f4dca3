package graft

import graft.functions.{GraftExtensions, GraftFunctions}
import org.apache.spark.sql.SparkSessionExtensions

/** SQL registration of the native expressions ([[GraftFunctions]]): the
  * builders evaluate correctly from plain `spark.sql`, aggregates analyze
  * (the raw AggregateFunction wraps like a built-in), and the
  * SparkSessionExtensions hook applies without error. */
class SqlSurfaceSpec extends SparkSpec {

  test("graft functions run from SQL after live registration") {
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0) === 11.0)

    import spark.implicits._
    Seq((1, 10L, 100L), (1, 20L, 101L), (1, 5L, 102L), (2, 7L, 200L))
      .toDF("g", "w", "id").createOrReplaceTempView("sql_scores")
    val top = spark.sql(
      "SELECT g, inline(topk_pairs(w, id, 2)) FROM sql_scores GROUP BY g")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(top === Set((1, 1L, 101L, 20L), (1, 2L, 100L, 10L), (2, 1L, 200L, 7L)))

    spark.range(200).selectExpr("id",
      "CAST(conv(substr(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h")
      .createOrReplaceTempView("sql_hashed")
    val est = spark.sql("SELECT kmv_distinct(h, 16) FROM sql_hashed").head().getDouble(0)
    assert(est > 100.0 && est < 400.0)
    assert(spark.sql(
      "SELECT size(hash_sample(h, CAST(id AS DOUBLE), 8)) FROM sql_hashed")
      .head().getInt(0) === 8)
    // below k distinct → exact
    assert(spark.sql("SELECT kmv_distinct(h, 16) FROM sql_hashed WHERE id < 5")
      .head().getDouble(0) === 5.0)
  }

  test("bloom_build / bloom_probe run the semi-join prefilter from plain SQL") {
    GraftFunctions.register(spark)
    spark.range(1000).selectExpr("id", "xxhash64(CAST(id AS STRING)) AS h")
      .createOrReplaceTempView("sql_bloom_all")
    // bench side = multiples of 100; the probe must pass all 10 of them and
    // (with 8M bits over 10 items) essentially nothing else
    val kept = spark.sql(
      """SELECT count(*) FROM sql_bloom_all
        |WHERE bloom_probe(
        |  (SELECT bloom_build(h, 1000000L, 8388608L) FROM sql_bloom_all
        |   WHERE id % 100 = 0),
        |  h)""".stripMargin).head().getLong(0)
    assert(kept >= 10 && kept <= 15,
      s"expected the 10 planted members plus at most a few FPs, got $kept")
    // 1-arg build form analyzes and runs too (conf-default sizing)
    assert(spark.sql(
      "SELECT bloom_build(h) IS NOT NULL FROM sql_bloom_all").head().getBoolean(0))
  }

  test("forecasting primitives run from plain SQL and match the Scala API") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // y = 3 + 2t exactly → the SQL fit must recover (3, 2) and predict
    // exactly; snaive(12) is the 12-back actual
    val rows = (1 to 36).map(t => (java.sql.Date.valueOf(
      java.time.LocalDate.of(2020, 1, 1).plusMonths(t - 1)), t.toDouble, 3.0 + 2 * t))
    rows.toDF("ds", "t", "y").createOrReplaceTempView("sql_series")
    val beta = spark.sql(
      "SELECT graft_ols_fit(y, array(t)) FROM sql_series")
      .head().getSeq[Double](0)
    assert(math.abs(beta(0) - 3.0) < 1e-9 && math.abs(beta(1) - 2.0) < 1e-9)
    val pred = spark.sql(
      """WITH f AS (SELECT graft_ols_fit(y, array(t)) AS beta FROM sql_series)
        |SELECT max(abs(graft_ols_predict(beta, array(t)) - y))
        |FROM sql_series, f""".stripMargin).head().getDouble(0)
    assert(pred < 1e-9)
    val sn = spark.sql(
      """SELECT y, graft_snaive(y, 12) OVER (ORDER BY ds) AS f
        |FROM sql_series ORDER BY ds""".stripMargin)
      .collect()
    assert(sn.take(12).forall(_.isNullAt(1)))
    assert(sn.drop(12).forall(r => r.getDouble(1) === r.getDouble(0) - 24.0))
    // metric aggregates: SQL result equals the Metrics Column combinator
    val dfm = Seq((1.0, 2.0), (2.0, 2.5), (4.0, 3.0)).toDF("y", "f")
    dfm.createOrReplaceTempView("sql_metrics")
    for (m <- Seq("rmse", "mae", "smape", "r2", "mse", "bias", "abias", "mape")) {
      val viaSql = spark.sql(s"SELECT graft_$m(y, f) FROM sql_metrics").head().getDouble(0)
      val fn = m match {
        case "rmse" => graft.functions.Metrics.rmse _
        case "mae" => graft.functions.Metrics.mae _
        case "smape" => graft.functions.Metrics.smape _
        case "r2" => graft.functions.Metrics.r2 _
        case "mse" => graft.functions.Metrics.mse _
        case "bias" => graft.functions.Metrics.bias _
        case "abias" => graft.functions.Metrics.abias _
        case "mape" => graft.functions.Metrics.mape _
      }
      val viaApi = dfm.agg(fn(org.apache.spark.sql.functions.col("y"),
        org.apache.spark.sql.functions.col("f"))).head().getDouble(0)
      assert(math.abs(viaSql - viaApi) < 1e-12, s"$m: $viaSql vs $viaApi")
    }
    // grouped fit: one beta per series in one aggregation (the
    // GroupedOls.fitBySeries plan from SQL)
    val many = (0 until 5).flatMap(s => (1 to 20).map(t =>
      (s"s$s", t.toDouble, 1.0 * s + 0.5 * s * t)))
      .toDF("series_id", "t", "y")
    many.createOrReplaceTempView("sql_many")
    val fits = spark.sql(
      """SELECT series_id, graft_ols_fit(y, array(t)) AS beta
        |FROM sql_many GROUP BY series_id""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(fits.size === 5)
    for (s <- 0 until 5)
      assert(math.abs(fits(s"s$s")(1) - 0.5 * s) < 1e-9, s"slope of s$s")
  }

  test("graft_forecast drives the recursive walk from SQL == the Scala twin") {
    GraftFunctions.register(spark)
    val sfDir = "/root/testdata/sf0.001"
    // the declared SQL query vs the Scala-API recursion it twins
    // (ts_ar3_dynamic = AR(3) OLS + Recursive.dynamicForecast, future slice);
    // both round to 6dp — solver noise between the MLlib normal path and
    // graft_ols_fit's elimination is ~1e-12 on betas, far inside rounding
    val viaSql = SparkEntry("ts_sql_forecast").build(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val viaApi = SparkEntry("ts_ar3_dynamic").build(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(viaSql.length === 12)
    assert(viaSql.toSeq === viaApi.toSeq)
    // the generator itself: exact walk on a hand-checkable AR(1)
    // y_{t+1} = 1 + 0.5*y_t from y=8 → 5, 3.5, 2.75
    val walk = spark.sql(
      """SELECT f.step, f.yhat
        |FROM (SELECT array(2.0d, 8.0d) AS h, array(1.0d, 0.5d) AS b)
        |LATERAL VIEW graft_forecast(h, b, 1, 3) f AS step, yhat""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(walk.toSeq === Seq((1, 5.0), (2, 3.5), (3, 2.75)))
    // skip policy: short history / null element → zero rows, loudly nothing
    assert(spark.sql(
      """SELECT f.step FROM (SELECT array(1.0d) AS h, array(0.0d, 1.0d, 1.0d) AS b)
        |LATERAL VIEW graft_forecast(h, b, 2, 3) f AS step, yhat""".stripMargin)
      .count() === 0)
  }

  test("non-literal k is rejected loudly") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT kmv_distinct(id, CAST(id AS INT)) FROM range(3)").collect()
    }
    assert(e.getMessage.contains("INT literal"))
  }

  test("the SparkSessionExtensions hook injects all functions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; same builders as above
  }
}
