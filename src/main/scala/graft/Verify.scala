package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result ([[SparkEntry.all]]) →
  * parquet, plus oracle_sql.json, for the DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (local iteration only): comma-separated name prefixes
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(','); n => ps.exists(n.startsWith) }
      else _ => true
    val spark = GraftSession.local(GraftSession.envCpus(4))
    new java.io.File(outDir).mkdirs()
    // Every DECLARED query must produce an output directory — a query that
    // fails to plan/execute emits a sentinel frame that can never match its
    // oracle (schema `__failed_query`/`__error`), so breakage surfaces as a
    // RED row in the correctness artifact instead of a silent omission
    // (round 6 lost 8 queries that way).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val declared = SparkEntry.all.map(_.name).filter(only)
    declared.foreach { name =>
      try SparkEntry(name).build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = (e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("")).take(500)
        failures(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        import spark.implicits._
        Seq((name, msg)).toDF("__failed_query", "__error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    val emitted = declared.count(n => new java.io.File(s"$outDir/$n").exists())
    System.err.println(s"[verify] emitted $emitted/${declared.size} query outputs" +
      (if (failures.nonEmpty) s"; FAILED ${failures.size}: ${failures.keys.mkString(", ")}"
       else ""))
    require(emitted == declared.size,
      s"verify coverage hole: ${declared.filterNot(n => new java.io.File(s"$outDir/$n").exists())}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.all
      .map(d => s"${q(d.name)}: ${q(d.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
