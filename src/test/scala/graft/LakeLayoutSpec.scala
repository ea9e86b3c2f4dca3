package graft

import graft.core.SessionMemo
import graft.sources.LakeLayout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucketed lake layout ([[graft.sources.LakeLayout]]): the plan proof that
  * bucketing by the series key deletes the exchanges every series op
  * otherwise pays, and that results are identical to the unbucketed path. */
class LakeLayoutSpec extends SparkSpec {

  /** Shuffle exchanges in the FINAL (post-AQE) plan: execute first — the
    * adaptive plan only materializes its stages (and thus its exchanges)
    * at runtime, so inspecting before execution undercounts to zero. */
  private def exchanges(df: DataFrame): Int = {
    df.collect()
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
  }

  private def freshTable(name: String): Unit = LakeLayout.freshTable(spark, name)

  private def frame(): DataFrame = {
    import spark.implicits._
    (for { s <- 1 to 20; t <- 1 to 30 } yield
      (s"s$s", java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(t)),
        (s * 31 + t * 7) % 100 / 10.0))
      .toDF("series_id", "ds", "y")
  }

  test("groupBy on the bucket key plans no exchange; unbucketed pays one") {
    val df = frame()
    freshTable("ll_series")
    LakeLayout.writeBucketed(df, "ll_series", buckets = 4)
    val bucketed = LakeLayout.readBucketed(spark, "ll_series")
      .groupBy("series_id").agg(sum("y").as("sy"))
    val plain = df.groupBy("series_id").agg(sum("y").as("sy"))
    assert(exchanges(bucketed) === 0, "bucketed scan must feed the agg directly")
    assert(exchanges(plain) >= 1,
      "the unbucketed agg must pay the hash exchange the layout deletes")
    // identical results either way
    val a = bucketed.collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100))).toSet
    val b = plain.collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100))).toSet
    assert(a === b)
  }

  test("bucketed memo mode: query-tier memos become bucketed scans, same results") {
    val sfDir = "/root/testdata/sf0.001"
    // reference: the same differences straight off the un-memoized series
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("series_id").orderBy("ds")
    val ref = graft.core.SeriesFrame.ordersMonthly(spark, sfDir)
      .select(col("series_id"), col("ds"), col("y"),
        round(col("y") - lag("y", 1).over(w), 2).as("d1"),
        round(col("y") - lag("y", 12).over(w), 2).as("d12"))
      .collect().map(_.toString).sorted
    // the memo table materializes via LakeLayout and the per-series window
    // consumes the bucketed scan
    try {
      SessionMemo.clear()
      val df = SparkEntry("ts_diff").build(spark, sfDir)
      val out = df.collect().map(_.toString).sorted
      assert(out.toSeq === ref.toSeq, "results must be layout-invariant")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"memo scan must report a bucketed read:\n$plan")
      // the frame built directly on the memo pays no exchange for a
      // series-keyed window
      val memoFrame = LakeLayout.readBucketed(spark,
        SessionMemo.tableName(spark, sfDir, "orders"))
      val win = memoFrame.withColumn("d",
        col("y") - org.apache.spark.sql.functions.lag("y", 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("series_id").orderBy("ds")))
      assert(exchanges(win) === 0,
        "series-keyed window over the bucketed memo must plan no exchange")
    } finally SessionMemo.clear()
  }

  test("self-join on the bucket key plans no exchange on either side") {
    freshTable("ll_series_j")
    LakeLayout.writeBucketed(frame(), "ll_series_j", buckets = 4)
    val t = LakeLayout.readBucketed(spark, "ll_series_j")
    val agg = t.groupBy("series_id").agg(avg("y").as("mu"))
    val joined = t.join(agg.hint("merge"), "series_id")
      .withColumn("dev", col("y") - col("mu"))
    assert(exchanges(joined) === 0,
      "both sides derive the bucket distribution — no shuffle anywhere")
    assert(joined.count() === 600)
  }

  test("partitioned write prunes directories at planning time") {
    val dir = "/tmp/graft_ll_part"
    val df = frame().withColumn("month",
      date_format(col("ds"), "yyyy-MM"))
    LakeLayout.writePartitioned(df, dir, Seq("month"))
    val pruned = LakeLayout.readPartitioned(spark, dir)
      .filter(col("month") === "2020-01")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("month"),
      s"partition predicate must prune at the scan: $plan")
    // the pruned read returns exactly January's rows (ds 2020-01-02..31)
    assert(pruned.count() === frame()
      .filter(date_format(col("ds"), "yyyy-MM") === "2020-01").count())
    // files actually touched: only the 2020-01 directory
    val files = pruned.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("month=2020-01")),
      s"scan must touch only the pruned partition: ${files.toSeq}")
  }

  test("window over (series_id, ds) on the bucketed table needs no exchange") {
    import org.apache.spark.sql.expressions.Window
    freshTable("ll_series_w")
    LakeLayout.writeBucketed(frame(), "ll_series_w", buckets = 4)
    val w = Window.partitionBy("series_id").orderBy("ds")
    val lagged = LakeLayout.readBucketed(spark, "ll_series_w")
      .withColumn("y1", lag("y", 1).over(w))
    assert(exchanges(lagged) === 0,
      "the bucket distribution satisfies the window's partitioning requirement")
    assert(lagged.filter(col("y1").isNotNull).count() === 580)
  }

  test("dead-session memo dirs are collected; live-pid and foreign dirs survive") {
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a pid beyond pid_max can never be alive; the current pid always is
    val dead = new org.apache.hadoop.fs.Path(root, "graft_memo_k_ab12_p999999999")
    val live = new org.apache.hadoop.fs.Path(root,
      s"graft_memo_k_ab12_p${ProcessHandle.current().pid()}")
    val foreign = new org.apache.hadoop.fs.Path(root, "ll_not_a_memo_p999999999")
    Seq(dead, live, foreign).foreach(fs.mkdirs)
    val removed = LakeLayout.gcDeadSessionMemoDirs(spark)
    assert(removed >= 1, "the dead-pid memo dir must be collected")
    assert(!fs.exists(dead), "dead-pid memo dir should be gone")
    assert(fs.exists(live), "current-pid memo dir must survive")
    assert(fs.exists(foreign), "non-memo dirs are never touched")
    fs.delete(live, true); fs.delete(foreign, true)
  }
}
