package graft.core

import graft.sources.LakeLayout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Session-scoped memo of the derived inputs queries share: the tiny built
  * series frames (≤ a few hundred rows after the fact-table aggregation),
  * the corpus-tier payloads and vectors, and the fits two queries reuse.
  * Each would otherwise re-run its scans for every action in every
  * consumer's lineage — the materialize-the-derived-input-once pattern a
  * user of the library would apply (at 100 TB: write the aggregated series
  * table once, model off it).
  *
  * One map keyed (session, dataset dir, key) holds every entry, and each
  * entry has its own lock: the build runs once even when several threads
  * ask for the key at the same time (the bucketed path DROPs and rewrites
  * a catalog table, so two racing builds could fail each other), while
  * distinct keys build fully concurrently (what `SparkEntry.prewarm` fans
  * out). A build that throws leaves the entry empty for the next caller. */
object SessionMemo {

  private final class Slot {
    private[this] var v: Option[Any] = None
    def getOrBuild(build: => Any): Any = synchronized { if (v.isEmpty) v = Some(build); v.get }
    def built: Option[Any] = synchronized(v)
  }

  /** A memoized frame, with its catalog table when it is bucketed (kept so
    * [[clear]] can release it). */
  private final case class Memo(frame: DataFrame, table: Option[String])

  private val slots = TrieMap.empty[(SparkSession, String, String), Slot]
  private val nextToken = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `build`'s value, computed once per (session, dir, key). */
  def value[T](s: SparkSession, d: String, key: String)(build: => T): T =
    slots.getOrElseUpdate((s, d, key), new Slot).getOrBuild(build).asInstanceOf[T]

  /** Memo layout: a derived frame that carries `series_id` materializes as
    * a BUCKETED, bucket-sorted catalog table ([[LakeLayout.writeBucketed]]
    * keyed by series_id), so every downstream groupBy/window on series_id
    * plans with no exchange on the memo side (LakeLayoutSpec pins the
    * plan); any other frame (corpus-tier doc vectors, pair frames) is a
    * `localCheckpoint`. */
  def frame(s: SparkSession, d: String, key: String)(build: => DataFrame): DataFrame =
    value(s, d, key) {
      token(s)
      val built = build
      if (built.columns.contains(SeriesFrame.SeriesId)) {
        val table = tableName(s, d, key)
        LakeLayout.freshTable(s, table)
        LakeLayout.writeBucketed(built, table, buckets = 4)
        // cache the (few-hundred-row) table frame: InMemoryRelation
        // reports the child scan's bucketed outputPartitioning, so
        // downstream plans keep their zero-exchange shape (LakeLayoutSpec
        // pins it) while consumers skip the per-query parquet read —
        // the catalog table remains the durable lake artifact
        Memo(s.table(table).persist(StorageLevel.MEMORY_AND_DISK), Some(table))
      } else Memo(built.localCheckpoint(true), None)
    }.frame

  /** The session's number in this JVM, assigned on first use; the first
    * use also sweeps the warehouse once for memo-table dirs left by dead
    * graft processes ([[LakeLayout.gcDeadSessionMemoDirs]]), so a shared
    * warehouse doesn't accrete one orphan dir per ended session. */
  private def token(s: SparkSession): Int = value(s, "", "session") {
    LakeLayout.gcDeadSessionMemoDirs(s)
    nextToken.incrementAndGet()
  }

  /** Catalog name of a bucketed memo table — distinct per DATASET DIR (a
    * second dir in the same session must not DROP+rewrite the first dir's
    * table underneath its still-cached lazy `s.table(...)` frame), per
    * SESSION (a resident service doing `spark.newSession` per tenant over a
    * shared warehouse would otherwise compute identical names, and the
    * second session's freshTable would delete the parquet under the
    * first's still-live frame) AND per JVM: two graft processes sharing one
    * warehouse (verify + bench side by side) would otherwise freshTable-
    * delete the parquet files under each other's live frames mid-query.
    * The dir suffix is a 128-bit MD5 digest, not String.hashCode (the
    * suffix only prevents aliasing if it cannot collide). Memo tables are
    * a few hundred rows, so orphaned dirs from ended sessions cost
    * ~nothing and the pid sweep collects them once the process dies. */
  def tableName(s: SparkSession, d: String, key: String): String =
    s"graft_memo_${key}_${md5Hex(d)}_s${token(s)}_p${ProcessHandle.current().pid()}"

  /** Lower-case hex MD5 of `text`'s UTF-8 bytes. */
  def md5Hex(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Release every memo for a long-lived driver. Checkpointed frames
    * release via the map drop (ContextCleaner reclaims unreferenced blocks
    * at the next GC), but the bucketed memos need the explicit path:
    * Spark's CacheManager pins cached relations regardless of JVM
    * references, and the catalog table + warehouse dir are durable state —
    * so each memo table is unpersisted and then DROPped (freshTable deletes
    * the dir too; the pid sweep never would, because the pid is alive). */
  def clear(): Unit = {
    for (((s, _, _), slot) <- slots; Memo(t, Some(name)) <- slot.built) {
      scala.util.Try(t.unpersist())
      scala.util.Try(LakeLayout.freshTable(s, name))
    }
    slots.clear()
  }

  /** Every session the memo still holds (the leak check). */
  def sessions: Set[SparkSession] = slots.keys.map(_._1).toSet
}
