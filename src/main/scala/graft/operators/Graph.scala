package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Distributed connected components over an edge list — the shared kernel
  * behind [[graft.models.BlockedVar]]'s coupling-graph decomposition and the
  * corpus facade's keep-one-per-cluster near-dup dedup (a 100 TB curation
  * pipeline drops all-but-one of each near-duplicate CLUSTER, not of each
  * pair).
  *
  * Algorithm: min-label propagation with pointer jumping. Every vertex
  * starts labeled with itself; each round a vertex takes the least label
  * among itself and its neighbors, then shortcuts through its label's own
  * label (comp ← comp(comp)). Propagation alone needs O(diameter) rounds
  * (GraphX's built-in CC is exactly that — fatal on chain-shaped near-dup
  * clusters); the jump halves remaining label-chain depth each round, so
  * this converges in O(log diameter) rounds. Labels only ever decrease, so
  * the fixed point labels every vertex with the LEAST id in its component —
  * deterministic, no post-normalization.
  *
  * The loop is the one place in the engine that runs on RDDs by design: an
  * iterative fixed-point over slim id pairs re-plans, re-codegens, and
  * re-broadcasts under the DataFrame optimizer EVERY round (~1 s/round
  * measured, regardless of data size), while co-partitioned RDD joins make
  * each round a narrow pass over a handful of sized partitions — the same
  * reason GraphX's Pregel is RDD-based. Ids keep their native type
  * end-to-end (RDD joins key on any hashable type), so there is no
  * vertex-reindexing pass.
  */
object Graph {

  /** Edge volume below which the labeling solves on the driver (one collect
    * of the slim two-column pair frame + array union-find) instead of the
    * iterative RDD loop — the same size-gated two-tier shape as
    * [[Similarity]]'s broadcast tiers. The loop pays fixed per-round
    * scheduling (~0.5 s × O(log diameter) rounds) that dwarfs a toy graph;
    * the local tier is bounded at ~8 MB of edges (≈ a few hundred thousand
    * pairs), far under driver memory, and both tiers produce identical
    * labels (pinned by GraphSpec). Local-tier labels come back as a
    * `LocalRelation`, which carries exact size statistics: a join against
    * them plans its broadcast up front, where an RDD-backed frame (no
    * statistics) first plans and runs a shuffle and only then converts —
    * two jobs per read. */
  val LocalMaxBytes: Long = 8L << 20

  /** (id, comp) for every vertex appearing in `edges`; comp = least vertex
    * id in the component under the id type's natural ordering. Self-loops
    * are ignored: vertices touching no real edge are absent, so callers
    * default them to their own singleton. Supported id types: string, long,
    * int (both columns must match). `localMaxBytes` gates the driver-local
    * small-graph tier (see [[LocalMaxBytes]]); pass 0 to force the
    * distributed loop. The local tier — taken from the plan estimate or
    * from the loop's measured edge bytes — returns its labels as a
    * `LocalRelation`; the loop tier returns an RDD-backed frame. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 64,
                          localMaxBytes: Long = LocalMaxBytes): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
    val idType = e.schema("a").dataType
    require(e.schema("b").dataType == idType,
      s"edge endpoint types differ: $idType vs ${e.schema("b").dataType}")
    // The local-tier gate rides the optimizer's size estimate (free, no
    // action); the LOOP's partitioner must not — the estimate multiplies
    // through upstream join trees and explodes (a 4th-decade LSH candidate
    // plan estimated ~1000× its ~100 MB of real edges, putting diameter-1
    // components on 4096 partitions where per-round scheduling dominated
    // the wall). The loop instead materializes the symmetrized edges at
    // the plan's physical width and re-keys to the ACTUAL persisted bytes
    // (~32 MB/partition) — one extra narrow pass over true edge volume,
    // measured per-round task launches at honest width.
    val estBytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
    // labels stay an RDD in the loop tier — the result is vertex-sized and
    // must never transit the driver; only the local tier's (already
    // driver-resident, size-gated) labels go back out, as a LocalRelation.
    // When the estimate EXCEEDS the gate it may still be join-tree noise
    // (mv_blocked_dynamic's ~12-edge coupling graph estimated 4.5 GB through
    // the screen's join tree and paid ~5 loop jobs per call); the loop's own
    // first step materializes the symmetrized edges and measures their true
    // persisted bytes, so the local-tier decision is re-taken there from the
    // MEASURED size — free for genuinely big graphs, and a toy graph escapes
    // to the driver after one cheap count instead of riding the full loop.
    val schema = StructType(Seq(StructField("id", idType), StructField("comp", idType)))
    def solve[T: Ordering : ClassTag](get: Row => (T, T)): DataFrame =
      (if (estBytes <= localMaxBytes) Left(localCC(e.collect().map(get)))
       else ccLoop[T](e.rdd.map(get), e.rdd.getNumPartitions, maxIter, localMaxBytes))
        .fold(local => spark.createDataFrame(local.map(p => Row(p._1, p._2)).toSeq.asJava, schema),
          rdd => spark.createDataFrame(rdd.map(p => Row(p._1, p._2)), schema))
    idType match {
      case StringType => solve[String](r => (r.getString(0), r.getString(1)))
      case LongType => solve[Long](r => (r.getLong(0), r.getLong(1)))
      case IntegerType => solve[Int](r => (r.getInt(0), r.getInt(1)))
      case t: DataType => throw new IllegalArgumentException(
        s"connectedComponents supports string/long/int vertex ids, got $t")
    }
  }

  /** Driver-local tier: path-compressing union-by-min over an in-memory edge
    * array. Only ever sees ≤ [[LocalMaxBytes]] of pairs. */
  private def localCC[T: Ordering](edges: Array[(T, T)]): Iterable[(T, T)] = {
    val ord = implicitly[Ordering[T]]
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.map(v => (v, find(v)))
  }

  /** The distributed tier: Right(labels RDD), or Left(driver-local labels)
    * when the materialized edges measure under the local gate. */
  private def ccLoop[T: Ordering : ClassTag](rawEdges: RDD[(T, T)],
                                             physicalWidth: Int,
                                             maxIter: Int,
                                             localGateBytes: Long = 0L)
      : Either[Iterable[(T, T)], RDD[(T, T)]] = {
    val ord = implicitly[Ordering[T]]
    def lo(x: T, y: T): T = if (ord.lteq(x, y)) x else y
    val sc = rawEdges.sparkContext
    // symmetrized, keyed by dst, co-partitioned with labels. Duplicates are
    // thinned per-partition (min-combining downstream is idempotent, so a
    // global distinct's extra shuffle buys nothing). Materialized FIRST at
    // the upstream plan's physical width (the edge computation already ran
    // at that width), then re-keyed to the ACTUAL persisted bytes so every
    // round's task count follows true edge volume, not a plan estimate.
    val wide = new HashPartitioner(math.max(1, physicalWidth))
    // SERIALIZED level on the MEASUREMENT copy only: the sizing below
    // reads the block manager's memSize, which under plain
    // MEMORY_AND_DISK is the DESERIALIZED object estimate of the tuple
    // RDD — several × the serialized edge bytes the ~32 MB/partition
    // heuristic was calibrated against, so the re-key over-partitioned
    // relative to intent (ADVICE r10). The re-keyed copy the loop
    // actually iterates goes back to a deserialized level: paying
    // per-round deserialization on every join measured +21% on the 2×10⁶
    // cc anchor when this copy was SER too.
    val eLwide = rawEdges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .partitionBy(wide)
      .mapPartitions(it => {
        val seen = scala.collection.mutable.HashSet.empty[(T, T)]
        it.filter(seen.add)
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    eLwide.count() // materialize so the block manager knows the true size
    val actualBytes = sc.getRDDStorageInfo.find(_.id == eLwide.id)
      .map(i => i.memSize + i.diskSize).getOrElse(0L)
    // Re-take the local-tier decision from the MEASURED bytes: a plan whose
    // estimate multiplied through upstream joins can still be a toy graph
    // (see connectedComponents). The 2× allows for symmetrization — the gate
    // bound is on raw pairs. actualBytes == 0 (storage info missed) stays
    // distributed; localGateBytes == 0 keeps the documented force-loop knob.
    if (localGateBytes > 0 && actualBytes > 0 &&
        actualBytes <= 2 * localGateBytes) {
      val pairs = eLwide.collect()
      eLwide.unpersist(blocking = false)
      return Left(localCC(pairs))
    }
    val nPart = math.max(1, math.min(
      if (actualBytes > 0) (actualBytes / (32L << 20) + 1).toInt
      else physicalWidth,
      physicalWidth))
    // re-key only when it matters (≥2× fewer tasks per round); leftover
    // cross-partition duplicate pairs are harmless under min-combining.
    // `part` is ALWAYS eL's own partitioner, so the loop's reduce/join
    // rounds stay narrow whichever tier won.
    val (eL, part) =
      if (nPart * 2 <= physicalWidth) {
        val narrowPart = new HashPartitioner(nPart)
        val narrow = eLwide.partitionBy(narrowPart)
          .persist(StorageLevel.MEMORY_AND_DISK)
        narrow.count()
        eLwide.unpersist(blocking = false)
        (narrow, narrowPart)
      } else (eLwide, wide)
    // vertex set = eL's keys (symmetric, so every endpoint appears); the
    // reduceByKey reuses eL's partitioner — narrow, no shuffle
    var labels: RDD[(T, T)] = eL.mapValues(_ => ())
      .reduceByKey(part, (a, _) => a)
      .mapPartitions(_.map { case (v, _) => (v, v) }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // least label among neighbors: edge (dst→src) joins labels on dst
      // (narrow: both sides hash-partitioned), min-combines per src
      val nbrMin = eL.join(labels)
        .map { case (_, (src, lbl)) => (src, lbl) }
        .reduceByKey(part, lo(_, _))
      // candidate label, carrying the old one so the convergence test rides
      // the SAME action that materializes the round (no dedicated count job)
      val cand = labels.leftOuterJoin(nbrMin, part)
        .mapValues { case (own, nbr) => (own, lo(own, nbr.getOrElse(own))) }
      // pointer jump: comp ← comp(comp); a label is always a vertex id
      val acc = sc.longAccumulator(s"cc_changed_$iter")
      val jumped = cand.map { case (v, (old, c)) => (c, (v, old)) }
        .partitionBy(part)
        .leftOuterJoin(cand.mapValues(_._2), part)
        .map { case (c, ((v, old), cc)) =>
          val nw = lo(c, cc.getOrElse(c))
          if (old != nw) acc.add(1L)
          (v, nw)
        }
        .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
      jumped.count() // the round's one action; fills the accumulator
      changed = acc.value
      labels.unpersist(blocking = false)
      labels = jumped
      iter += 1
    }
    eL.unpersist(blocking = false)
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds (a " +
        s"2^$maxIter-diameter chain); raise maxIter")
    Right(labels)
  }
}
