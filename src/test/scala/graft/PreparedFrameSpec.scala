package graft

import graft.obs.RunRecorder
import graft.results.ResultsStore
import org.apache.spark.sql.{DataFrame, GraftCheckpoint}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** The prepared series frame is derived once: [[GraftCheckpoint.materialize]]
  * (the leaf the univariate and multivariate facades read), the
  * benchmark-shaped forecast loop over it, the recorder's compile count,
  * and the combo interval's quantile. */
class PreparedFrameSpec extends SparkSpec {

  /** Every physical node, through AQE wrappers and materialized stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** `n` series × 120 monthly rows on one partition (the bench's shape). */
  private def panel(n: Int): DataFrame =
    spark.range(0L, n * 120L, 1L, 1)
      .select(concat(lit("s"), (col("id") / 120).cast("long").cast("string")).as("series_id"),
        add_months(lit("2010-01-01").cast("date"), pmod(col("id"), lit(120L)).cast("int")).as("ds"),
        (lit(100.0) + pmod(col("id"), lit(120L)) * 0.5 +
          sin(pmod(col("id"), lit(12L)).cast("double") * (2 * math.Pi / 12)) * 20.0 +
          pmod(col("id") * 7, lit(5L))).as("y"),
        lit(false).as("is_future"))

  test("materialize advertises SinglePartition only for a one-partition RDD") {
    def leaf(df: DataFrame): LogicalRDD = df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr
      case other => fail(s"not a leaf: ${other.nodeName}")
    }
    val one = GraftCheckpoint.materialize(panel(3))
    assert(leaf(one).rdd.getNumPartitions == 1 && leaf(one).outputPartitioning == SinglePartition)
    val four = GraftCheckpoint.materialize(panel(3).repartition(4))
    assert(leaf(four).rdd.getNumPartitions == 4)
    assert(leaf(four).outputPartitioning != SinglePartition)
    // the origin's statistics ride along (a bare RDD leaf would report the
    // session's default size and never broadcast)
    assert(leaf(one).stats.sizeInBytes < spark.sessionState.conf.defaultSizeInBytes)
  }

  test("a per-series groupBy over a one-partition leaf plans no exchange") {
    val agg = GraftCheckpoint.materialize(panel(3)).groupBy("series_id").agg(max("y"))
    assert(agg.collect().length == 3)
    val ex = nodes(agg.queryExecution.executedPlan).collect { case e: Exchange => e }
    assert(ex.isEmpty, agg.queryExecution.executedPlan.toString)
  }

  test("materialized rows are recomputed from lineage after their blocks are dropped") {
    val m = GraftCheckpoint.materialize(panel(2).filter(col("y") > 110.0))
    val before = m.orderBy("series_id", "ds").collect().toSeq
    val rdd = m.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(persisted.contains(rdd.id), "the leaf's rows are a persisted RDD")
    persisted(rdd.id).unpersist(blocking = true)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(m.orderBy("series_id", "ds").collect().toSeq == before)
  }

  test("the benchmark-shaped forecast loop runs pinned jobs and compiles, and its export shuffles nothing") {
    val input = panel(4)
    def loop(): DataFrame = {
      val prepared = Forecaster(input).generateFutureDates(12).setTestLength(24)
      val ridge = prepared.addTimeTrend().addSeasonalRegressors("month").setEstimator("ridge")
      val tuned = ridge.tune(ridge.defaultGrid.take(1), k = 3, h = 12)
      val fc = tuned.manualForecast("ridge")
        .setEstimator("hwes", Map("alpha" -> 0.3, "beta" -> 0.1, "gamma" -> 0.2, "m" -> 12.0))
        .manualForecast("hwes")
        .setComboModels("ridge", "hwes").setEstimator("combo").manualForecast("combo")
        .exportForecasts()
      fc.write.format("noop").mode("overwrite").save()
      fc
    }
    val rec = RunRecorder.install(spark)
    val (first, second) = try (rec.measure(loop())._2, rec.measure(loop())) finally rec.close()
    val (fc, again) = second
    info(s"first run ${first.jobs} jobs / ${first.compiles} compiles, " +
      s"second ${again.jobs} jobs / ${again.compiles} compiles")
    // 8 jobs: frequency inference, the prepared frame's materialization,
    // the tune's two passes, the ridge moments, and the export's two
    // broadcasts and its write (the parent, re-deriving the frame per query,
    // ran 7). Second-run compiles measured 51–79 here and 123–124 before the
    // frame became a leaf; the count is JVM-global and Spark's cache evicts
    // approximately, so the pin keeps headroom above the measured spread.
    assert(again.jobs <= 8, s"the loop ran ${again.jobs} jobs")
    assert(again.compiles <= 90, s"the second run compiled ${again.compiles} classes")
    assert(fc.collect().length == 4 * 12)
    val shuffles = nodes(fc.queryExecution.executedPlan).collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.isEmpty, fc.queryExecution.executedPlan.toString)
  }

  test("the recorder counts compiles: a new query compiles, its identical re-run does not") {
    val nonce = System.nanoTime() % 1000000007L
    def q(): Array[org.apache.spark.sql.Row] =
      spark.range(0L, 100L, 1L, 1).selectExpr(s"id * ${nonce}L + 7 AS x")
        .agg(sum("x")).collect()
    val rec = RunRecorder.install(spark)
    try {
      val (_, fresh) = rec.measure(q())
      val (_, rerun) = rec.measure(q())
      assert(fresh.compiles > 0, "a never-seen query compiled nothing")
      assert(rerun.compiles == 0, s"an identical re-run compiled ${rerun.compiles} classes")
      assert(rerun.json().contains("\"compiles\":0"))
    } finally rec.close()
  }

  test("combo intervals use the normal quantile of any cilevel, and reject levels outside (0, 1)") {
    assert(math.abs(ResultsStore.zOf(0.8) - 1.2816) < 5e-5)
    assert(ResultsStore.zOf(0.95) == 1.959963984540054)
    assert(ResultsStore.zOf(0.99) == 2.5758293035489004)
    Seq(0.0, 1.0, -0.5, 95.0).foreach(l => intercept[IllegalArgumentException](ResultsStore.zOf(l)))
    // through the facade, below the conformal gate (testLength 4 <
    // minTestLength(0.8) = 5): the 80% band is z(0.8)·σ/√n, not the 95% one
    val res = Forecaster(panel(1)).generateFutureDates(6).setTestLength(4)
      .setEstimator("naive").manualForecast("naive")
      .setEstimator("hwes", Map("alpha" -> 0.3, "beta" -> 0.1, "gamma" -> 0.2, "m" -> 12.0))
      .manualForecast("hwes")
      .setCilevel(0.8).setComboModels("naive", "hwes").setEstimator("combo").manualForecast("combo")
      .results.get.filter(col("is_future"))
    val sd = res.filter(col("model") =!= "combo").groupBy("ds")
      .agg(stddev_samp("yhat").as("sd"))
    val half = res.filter(col("model") === "combo").join(sd, "ds")
      .select(col("upper") - col("yhat"), col("sd")).collect()
    assert(half.length == 6 && half.exists(_.getDouble(1) > 0))
    half.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.2815515655446008 * r.getDouble(1) / math.sqrt(2)) < 1e-9,
        s"half-width ${r.getDouble(0)} for sd ${r.getDouble(1)}")
    }
  }
}
