package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.ExpressionSet
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Key-preserving local checkpoint — the missing piece of the
  * materialize-once pattern under adaptive execution.
  *
  * `Dataset.localCheckpoint` captures `physicalPlan.outputPartitioning`
  * into the replacement [[LogicalRDD]]. With AQE enabled the physical plan
  * is an unresolved `AdaptiveSparkPlanExec`, whose pre-execution
  * outputPartitioning is unknown — so EVERY checkpoint created under AQE
  * (the default) advertises nothing, and every downstream aggregate or
  * shuffled join over it re-exchanges rows that are already correctly
  * partitioned. Measured on the span ops: an h-only aggregate re-exchange
  * at every scale (~20% of the op's bytes) plus, past the broadcast gate,
  * a full-width probe re-exchange (8.1 GB at 2×10⁷ docs); the
  * byte-identical self-join sides only dodge it because their two
  * identical exchanges collapse into one ReusedExchange — still one full
  * materialized exchange of data that was already partitioned on the key.
  *
  * This helper repartitions on the keys with an EXPLICIT width (a
  * user-specified `REPARTITION_BY_NUM`, which AQE never coalesces and
  * never skew-splits, so the produced RDD's distribution is exactly
  * `HashPartitioning(keys, n)`), checkpoints, and then re-advertises that
  * partitioning on the checkpoint's own LogicalRDD output attributes.
  * Downstream plans then consume the materialized blocks with ZERO
  * exchanges wherever the keys line up. Origin stats/constraints are
  * preserved (`otherCopyArgs`), so size-gated broadcast decisions are
  * unchanged.
  *
  * [[materialize]] is the replayable sibling for a frame reused across
  * many queries: persisted rows that keep their lineage, not a checkpoint.
  */
object GraftCheckpoint {

  /** `df.repartition(n, keys).localCheckpoint(eager = false, level)` with
    * the hash(keys, n) distribution re-advertised (see object doc).
    * `n` defaults to the session shuffle width. */
  def localCheckpointHashed(df: DataFrame, keyNames: Seq[String],
                            level: StorageLevel,
                            numPartitions: Int = -1): DataFrame = {
    if (provablyEmpty(df)) return df.localCheckpoint(false, level)
    val nPart =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    advertise(df.repartition(nPart, keyNames.map(df.col): _*)
      .localCheckpoint(false, level), df, keyNames, nPart)
  }

  /** The optimizer's PropagateEmptyRelation collapses a provably-empty
    * subtree to an empty LocalRelation, erasing the explicit repartition
    * both entry points key on (and leaving a 1-partition RDD no width
    * claim can hold for). Zero rows satisfy every distribution vacuously
    * and gain nothing from advertising — checkpoint plainly. */
  private def provablyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }

  /** Checkpoint a frame that is ALREADY hash(keys, n)-partitioned —
    * an explicit `repartition(n, keys)` followed only by narrow,
    * partitioning-preserving operators (project / filter / riding
    * aggregate / window over the same keys) — WITHOUT paying a second
    * exchange, and re-advertise that partitioning on the checkpoint.
    *
    * CALLER-GUARANTEED: nothing here can verify the claim cheaply (the
    * pre-execution AQE plan advertises no partitioning, which is the
    * whole reason this object exists). Advertising a distribution the
    * rows don't actually have makes downstream joins/aggregates silently
    * WRONG, not slow — use only where the lineage between the
    * `repartition(n, keys)` and this call is visibly narrow, and keep a
    * value oracle on every consumer (the standing CORRECTNESS gate).
    * [[graft.operators.Dedup.fingerprintPairsFrom]] is the model caller:
    * its capped index rides one explicit h-exchange through
    * distinct + df-window + filter, and checkpointing it through
    * [[localCheckpointHashed]] would re-exchange the survivors for no
    * reason (measured: +240 MB and one extra stage per run at 6×10⁶
    * docs). */
  def localCheckpointAdvertised(df: DataFrame, keyNames: Seq[String],
                                level: StorageLevel,
                                numPartitions: Int): DataFrame = {
    if (provablyEmpty(df)) return df.localCheckpoint(false, level)
    assertKeyedLineage(df, keyNames, numPartitions)
    advertise(df.localCheckpoint(false, level), df, keyNames, numPartitions)
  }

  /** Fail-fast verification of the caller-guaranteed claim behind
    * [[localCheckpointAdvertised]]: walk the frame's OPTIMIZED plan down
    * through partitioning-preserving unary nodes and require that the
    * nearest exchange below is a `repartition(numPartitions, keys)` on
    * exactly the claimed keys in the claimed order. The partition-COUNT
    * require in [[advertise]] can't catch a same-width re-exchange on a
    * DIFFERENT key slipping into the lineage — that would advertise a
    * wrong hash layout and make downstream joins silently drop pairs.
    * Preserving nodes: Project (keys must pass through as attributes),
    * Filter, Window partitioned by a superset of the keys, Aggregate
    * grouped by a superset of the keys (`HashPartitioning(keys)` satisfies
    * its `ClusteredDistribution`). Anything else fails the claim. */
  private def assertKeyedLineage(df: DataFrame, keyNames: Seq[String],
                                 nPart: Int): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical._
    val top = df.queryExecution.optimizedPlan
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"localCheckpointAdvertised(hash(${keyNames.mkString(",")}, $nPart)): " +
        s"$why — the lineage between the explicit repartition and the " +
        "checkpoint is not partitioning-preserving")
    var keys: Seq[Long] = keyNames.map(k =>
      top.output.find(_.name == k).getOrElse(
        fail(s"key '$k' not in output ${top.output.map(_.name)}")).exprId.id)
    def isKeyAttr(e: org.apache.spark.sql.catalyst.expressions.Expression,
                  id: Long): Boolean = e match {
      case a: Attribute => a.exprId.id == id
      case _ => false
    }
    var cur: LogicalPlan = top
    var done = false
    while (!done) cur match {
      case p: Project =>
        keys = keys.map { id =>
          p.projectList.collectFirst {
            case a: Attribute if a.exprId.id == id => a.exprId.id
            case al @ Alias(child: Attribute, _) if al.exprId.id == id =>
              child.exprId.id
          }.getOrElse(fail(s"a Project rewrites or drops key exprId $id"))
        }
        cur = p.child
      case f: Filter => cur = f.child
      case w: Window =>
        keys.foreach { id =>
          if (!w.partitionSpec.exists(isKeyAttr(_, id)))
            fail(s"a Window is partitioned without key exprId $id")
        }
        cur = w.child
      case a: Aggregate =>
        keys.foreach { id =>
          if (!a.groupingExpressions.exists(isKeyAttr(_, id)))
            fail(s"an Aggregate groups without key exprId $id")
        }
        keys = keys.map { id =>
          a.aggregateExpressions.collectFirst {
            case at: Attribute if at.exprId.id == id => at.exprId.id
            case al @ Alias(child: Attribute, _) if al.exprId.id == id =>
              child.exprId.id
          }.getOrElse(fail(s"an Aggregate rewrites or drops key exprId $id"))
        }
        cur = a.child
      case r: RepartitionByExpression =>
        if (!r.optNumPartitions.contains(nPart))
          fail(s"nearest repartition width is ${r.optNumPartitions} " +
            s"(claimed $nPart)")
        val repKeys = r.partitionExpressions.map {
          case a: Attribute => a.exprId.id
          case other => fail(s"repartition expression $other is not a " +
            "plain column")
        }
        if (repKeys != keys)
          fail(s"nearest repartition hashes exprIds $repKeys, " +
            s"claim resolves to $keys")
        done = true
      case lr: LogicalRDD =>
        // an already-advertised checkpoint below: accept iff it advertises
        // exactly the claimed layout
        lr.outputPartitioning match {
          case hp: HashPartitioning if hp.numPartitions == nPart &&
              hp.expressions.map {
                case a: Attribute => a.exprId.id; case _ => -1L
              } == keys => done = true
          case other => fail(s"leaf checkpoint advertises $other")
        }
      case other => fail(s"unexpected ${other.nodeName} node in the lineage")
    }
  }

  /** Eagerly drop a checkpoint-backed Dataset's persisted blocks.
    * `Dataset.unpersist` only clears CacheManager entries from
    * persist()/cache(); a localCheckpoint's blocks are RDD-persisted and
    * never registered there, so without this they linger until GC + the
    * ContextCleaner get around to them — measured as stacked vocab-sized
    * tables in iterative callers (Bpe's merge rounds). Returns false when
    * the frame is not checkpoint-backed (nothing to drop). Callers must
    * ensure every downstream consumer has materialized: a localCheckpoint
    * RDD is NON-REPLAYABLE, so dropping blocks a pending computation
    * still needs fails that computation instead of slowing it. */
  def unpersistCheckpoint(df: DataFrame, blocking: Boolean = false): Boolean =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking); true
      case _ => false
    }

  /** Run `df` once (one job on an exchange-free lineage) and return a leaf
    * over its persisted rows — for a frame that many later queries read.
    *
    * Each query that derives such a frame from its lineage plans, and
    * compiles, its own copy; Spark's codegen cache (100 entries, keyed by
    * class loader and source, with the stage id in every whole-stage class
    * name) does not carry those copies across queries. A leaf compiles
    * nothing of the lineage.
    *
    * The rows are an `RDD.persist`, not a checkpoint: the ContextCleaner
    * drops the blocks once the leaf is unreachable, and a lost block is
    * recomputed from the kept lineage. The leaf advertises
    * `SinglePartition` exactly when the RDD has one partition (a per-series
    * aggregate or window over it then plans no exchange), otherwise no
    * partitioning, and carries the origin's optimized-plan statistics, so
    * size-gated broadcast decisions see what they saw before. */
  def materialize(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition,
      UnknownPartitioning}
    import org.apache.spark.sql.execution.SQLExecution
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val r = qe.executedPlan.execute().map(_.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    val n = rows.getNumPartitions
    val origin = qe.optimizedPlan
    classic.Dataset.ofRows(session, new LogicalRDD(origin.output, rows,
      if (n == 1) SinglePartition else UnknownPartitioning(n))(
      session, Some(origin.stats): Option[Statistics],
      Some(origin.constraints): Option[ExpressionSet]))
  }

  private def advertise(ckpt: DataFrame, df: DataFrame,
                        keyNames: Seq[String], nPart: Int): DataFrame = {
    ckpt.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        require(lr.rdd.getNumPartitions == nPart,
          s"checkpoint has ${lr.rdd.getNumPartitions} partitions, caller " +
            s"claimed hash(${keyNames.mkString(",")}, $nPart) — the lineage " +
            "between the explicit repartition and the checkpoint is not " +
            "partitioning-preserving")
        val attrs = keyNames.map(k => lr.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"checkpoint key '$k' not in output ${lr.output.map(_.name)}")))
        // the rebuilt node keeps the SAME output attribute ids, so the
        // checkpoint's (already origin-rewritten) stats and constraints can
        // be passed straight through — optimizer size estimates and
        // constraint propagation stay exactly what a plain checkpoint gives
        val keyed = new LogicalRDD(lr.output, lr.rdd,
          HashPartitioning(attrs, nPart), lr.outputOrdering, lr.isStreaming,
          lr.stream)(
          df.sparkSession.asInstanceOf[classic.SparkSession],
          Some(lr.stats): Option[Statistics],
          Some(lr.constraints): Option[ExpressionSet])
        classic.Dataset.ofRows(
          df.sparkSession.asInstanceOf[classic.SparkSession], keyed)
      case _ => ckpt // not a LogicalRDD (unexpected) — keep the plain form
    }
  }
}
