package graft

/** Plan inspection: prints the formatted physical plan for selected queries
  * so shuffle counts, broadcast joins, pushed filters, and whole-stage
  * codegen spans can be reviewed (usage: runMain graft.Explain [query...]). */
object Explain {
  def main(args: Array[String]): Unit = {
    val queries = if (args.nonEmpty) args.toSeq.map(SparkEntry(_)) else SparkEntry.all.sortBy(_.name)
    val spark = GraftSession.local(4, logLevel = "ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    queries.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      try q.build(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
