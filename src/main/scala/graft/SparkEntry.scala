package graft

import graft.core.SeriesFrame._
import graft.models.Baselines
import graft.operators.Conformal
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query registry: every declared query is one [[QueryDef]] in its
  * family's file under `graft/queries/` (the name prefix says which), and
  * its DuckDB oracle sits beside its builder. Floating-point discipline (so
  * hashes match across engines): the base series rounds its SUM to cents
  * (bit-identical inputs both sides), per-row ops are IEEE-exact, and any
  * cross-row aggregate output is rounded on BOTH sides at a precision where
  * engine summation-order noise can't straddle a rounding boundary.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: monthly revenue series → test split →
    * trend+seasonal OLS → 12-step horizon forecast → conformal 95% CIs. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val base = withTestFlag(withMonthlyHorizon(ordersMonthly(spark, dir), 12), 12)
    Conformal.withIntervals(Baselines.trendSeasonal(base))
  }

  /** Every declared query, family by family. */
  val all: Seq[QueryDef] = TsQueries.defs ++ MvQueries.defs ++ DocQueries.defs ++
    EmbQueries.defs ++ EventsQueries.defs ++ SalesQueries.defs

  private val byName = all.map(q => q.name -> q).toMap
  require(byName.size == all.size, "duplicate query names: " +
    all.map(_.name).diff(byName.keys.toSeq).distinct.mkString(", "))

  /** The query called `name`; throws, naming it, if none is declared. */
  def apply(name: String): QueryDef =
    byName.getOrElse(name, throw new NoSuchElementException(s"unknown query: $name"))

  /** Build the session memos up front — bench hygiene: the one-time builds
    * become their own measured line item (`memo_build` in the bench JSON)
    * instead of landing on whichever query runs first, which made per-query
    * times order-sensitive across rounds. Independent memo chains build as
    * CONCURRENT Spark jobs (the doc-tier scans and the series rollups touch
    * different tables; within a chain the dependency order is kept): a
    * local session has far more slots than any single memo's task count, so
    * overlapping the builds hides each job's scheduling and single-stage
    * tail latency. */
  def prewarm(s: SparkSession, d: String): Unit = {
    import DocQueries._
    val chains: Seq[() => Unit] = Seq(
      () => { Shared.zOrdersMonthly(s, d); TsQueries.tbatsCurveM(s, d); () },
      () => { TsQueries.zSegBuilding(s, d)
              // the blocked fit is itself a memo shared by both
              // mv_blocked_* queries (and zSegmentsMonthly by six series
              // queries); building them here hides the fit's ~25 driver
              // round-trips under the longer doc-tier chains instead of
              // serializing them into the first consumer's wall
              MvQueries.blockedFitM(s, d); () },
      () => { docVecsM(s, d); () },
      () => { docFpsM(s, d); () },
      () => { jaccardM(s, d); () },
      () => { docPplM(s, d); () },
      () => { imgPayloadsM(s, d); () },
      () => { wavPayloadsM(s, d); () },
      () => { vidPayloadsM(s, d); () })
    graft.eval.Evaluation.fanOut(chains, parallelism = chains.size)(_.apply())
  }
}
