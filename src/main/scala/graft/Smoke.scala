package graft

/** t1 smoke parity: run SparkEntry.entry on sf0.001 and assert rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCpus(4))
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = $n")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
