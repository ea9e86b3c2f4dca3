package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lake layout for the series/corpus tables at 100 TB: bucketed (and
  * bucket-sorted) parquet tables keyed by the frame's partition key.
  *
  * Every series operator in the engine is a `groupBy(series_id)` aggregate
  * or a window `PARTITION BY series_id ORDER BY ds` (SURVEY §8), and every
  * dedup/ANN candidate generator is an equi-join on a bounded key — so the
  * dominant cluster cost at scale is the repeated hash-exchange of the same
  * fact data on the same key. Writing the lake bucketed by that key removes
  * it: a scan of a bucketed table reports its hash distribution to Catalyst,
  * and joins/aggregations keyed on the bucket column plan with NO Exchange
  * on the bucketed side (LakeLayoutSpec pins exactly that). `sortBy(ds)`
  * additionally lays each bucket out in window order, so the per-partition
  * sorts the window operators still plan run over already-ordered runs.
  *
  * Bucket count is a layout-time decision like streaming state width: size
  * it to cluster width (tasks per scan), not data volume — at 1000
  * executors, thousands of buckets; the fixture specs use a handful.
  * Bucketed writes go through the session catalog (`saveAsTable`) because
  * the bucketing metadata lives in the table definition, not the files —
  * path-based `parquet(path)` reads cannot recover it.
  */
object LakeLayout {

  /** Write `df` as a bucketed, bucket-sorted parquet table. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCol: String = "series_id",
                    sortCols: Seq[String] = Seq("series_id", "ds")): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(table)

  /** Read a bucketed table back (the catalog carries the bucket spec). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Drop `table` from the catalog AND delete its warehouse directory: the
    * default in-memory catalog forgets tables between sessions, leaving
    * orphan directories that block a fresh `saveAsTable`. The directory is
    * resolved and deleted through the Hadoop FileSystem API so a non-local
    * warehouse (hdfs:/s3a:) cleans up the same way a file: one does —
    * java.nio on a stripped URI would silently no-op there and leave the
    * orphan this method exists to remove. */
  def freshTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Delete warehouse directories left by DEAD graft sessions. Memo table
    * names carry their creator's pid (`..._p<pid>`, [[graft.core.SessionMemo
    * .tableName]]) precisely so concurrent sessions sharing one
    * warehouse never touch each other's live tables — which means a dir
    * whose pid is no longer running is garbage by construction (its
    * session can never read it again; a recycled OS pid at worst defers
    * collection to the next sweep). Called once per session from the
    * memo tier; goes through the Hadoop FileSystem API so remote
    * warehouses collect the same way local ones do. Returns the number
    * of directories removed. */
  def gcDeadSessionMemoDirs(spark: SparkSession): Int = {
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val pat = "^graft_memo_.*_p(\\d+)$".r
    fs.listStatus(root).iterator.filter(_.isDirectory).count { st =>
      st.getPath.getName match {
        case pat(pid) =>
          val alive = scala.util.Try(
            ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive)
              .orElse(false)).getOrElse(true)
          val dead = !alive && pid.toLong != ProcessHandle.current().pid()
          if (dead) scala.util.Try(fs.delete(st.getPath, true)).getOrElse(false)
          else false
        case _ => false
      }
    }
  }

  /** Hive-style partitioned parquet write — the time axis of the lake
    * layout. Where bucketing kills the recurring shuffle, directory
    * partitioning kills the recurring SCAN: a predicate on the partition
    * column prunes whole directories at PLANNING time (`PartitionFilters`
    * in the scan node), so an incremental job over yesterday's events
    * reads yesterday's files and nothing else, at any total table size.
    * Partition by a LOW-cardinality derived column (day/month, source) —
    * one directory per value; partitioning by a high-cardinality key
    * creates the small-files problem bucketing exists to avoid. Unlike
    * bucket metadata, partition layout lives in the paths, so plain
    * path-based reads recover it. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").format("parquet")
      .partitionBy(partitionCols: _*).save(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
