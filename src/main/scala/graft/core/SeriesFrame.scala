package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Canonical long-format time-series frame (SURVEY.md §1.5, FIXTURES.md §1):
  *
  * {{{
  *   series_id : STRING   -- partition key; one value for univariate
  *   ds        : DATE     -- strictly increasing per series_id
  *   y         : DOUBLE   -- observed value; NULL on horizon rows
  *   is_future : BOOLEAN  -- true for forecast-horizon rows
  * }}}
  *
  * Mirrors the reference's `(y, current_dates, future_dates)` triplet
  * (/root/reference/src/scalecast/Forecaster.py:44-94) but set-based over
  * (series_id, ds) so a single job handles millions of series: every
  * operation below is either a `groupBy(series_id)` aggregate or a window
  * partitioned by series_id — no per-series driver loops, no global
  * (unpartitioned) windows. At 100 TB the frame is expected to be
  * partitioned/bucketed by series_id so the window sorts are local.
  */
object SeriesFrame {
  val SeriesId = "series_id"
  val Ds       = "ds"
  val Y        = "y"
  val IsFuture = "is_future"

  /** Per-series ordered window — the backbone of every lag/trend/diff op. */
  def w: WindowSpec = Window.partitionBy(SeriesId).orderBy(Ds)

  def wRows(lo: Long, hi: Long): WindowSpec = w.rowsBetween(lo, hi)

  /** Monthly revenue series from `orders` — the flagship univariate fixture
    * (FIXTURES.md §7). `y` is rounded to cents so the series is bit-identical
    * to the DuckDB oracle regardless of float summation order.
    */
  def ordersMonthly(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(trunc(col("o_orderdate"), "month").as(Ds))
      .agg(round(sum("o_totalprice"), 2).as(Y))
      .withColumn(SeriesId, lit("orders"))
      .withColumn(IsFuture, lit(false))
      .select(SeriesId, Ds, Y, IsFuture)

  /** Multi-series fixture: monthly revenue per customer market segment.
    * customer is a small dim → broadcast hash join, no shuffle on the fact
    * side beyond the final aggregate.
    */
  def segmentMonthly(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as(SeriesId), trunc(col("o_orderdate"), "month").as(Ds))
      .agg(round(sum("o_totalprice"), 2).as(Y))
      .withColumn(IsFuture, lit(false))
      .select(SeriesId, Ds, Y, IsFuture)

  /** Star-schema multi-series ingest: monthly net revenue per customer
    * nation — the "build series frames straight off the lake" path. Join
    * strategy is the 100 TB shape: lineitem→orders is the one genuine
    * fact-fact shuffle (keyed by orderkey); customer rides a SIZE-GATED
    * broadcast ([[Joins.maybeBroadcast]] — hinted only while the
    * plan-estimated size clears the session threshold, AQE decides above
    * it); nation (25 rows at any SF) is an unconditional broadcast. Both
    * dims are pruned to key+attribute before the join and the revenue
    * expression projects down to three fact columns, so only
    * (orderkey, rev) survive the fact shuffle.
    */
  def nationMonthly(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        // net revenue quantized to integer cents per line item: the group
        // total becomes exact integer arithmetic — invariant to summation
        // order across engines AND across cluster partitionings (a raw
        // double sum of products can straddle a cents rounding boundary)
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("rev_c"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Joins.maybeBroadcast(
          Tables.customer(spark, dir).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as(SeriesId), trunc(col("o_orderdate"), "month").as(Ds))
      .agg(round(sum("rev_c") / 100.0, 2).as(Y))
      .withColumn(IsFuture, lit(false))
      .select(SeriesId, Ds, Y, IsFuture)

  /** Daily shipped-quantity series from `lineitem` (larger, daily freq). */
  def lineitemDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as(Ds))
      .agg(round(sum("l_quantity"), 2).as(Y))
      .withColumn(SeriesId, lit("lineitem"))
      .withColumn(IsFuture, lit(false))
      .select(SeriesId, Ds, Y, IsFuture)

  /** Infer the series' calendar frequency from observed date gaps — the
    * `pd.infer_freq` contract (/root/reference/src/scalecast/Forecaster.py:324-335).
    * Modal gap across all series, mapped to a pandas-style code
    * (D/W/MS/QS/YS). One global aggregate; only the single modal-gap row
    * reaches the driver, so this scales to any number of series/rows.
    */
  def inferFreq(df: DataFrame): String = {
    val top = df.filter(!col(IsFuture))
      .withColumn("_gap", datediff(col(Ds), lag(col(Ds), 1).over(w)))
      .filter(col("_gap").isNotNull)
      .groupBy("_gap").agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("_gap")).limit(1)
      .collect()
    if (top.isEmpty) "D" else freqOfGap(top(0).getInt(0))
  }

  private def freqOfGap(g: Int): String = g match {
    case 1                        => "D"
    case 7                        => "W"
    case x if x >= 28 && x <= 31  => "MS"
    case x if x >= 89 && x <= 92  => "QS"
    case x if x >= 365 && x <= 366 => "YS"
    case _                        => "D" // irregular → densest supported spine
  }

  /** Weekly shipped-quantity series from `lineitem` (exercises frequency
    * inference on a non-monthly cadence; weeks truncate to ISO Monday). */
  def lineitemWeekly(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(trunc(col("l_shipdate"), "week").as(Ds))
      .agg(round(sum("l_quantity"), 2).as(Y))
      .withColumn(SeriesId, lit("lineitem"))
      .withColumn(IsFuture, lit(false))
      .select(SeriesId, Ds, Y, IsFuture)

  /** Append `h` horizon rows per series at calendar frequency `freq`
    * (y = NULL, is_future = true). Maps `generate_future_dates`
    * (/root/reference/src/scalecast/_Forecaster_parent.py:1317-1356) for any
    * inferred/declared frequency, not just monthly.
    * Set-based: one groupBy for last dates + an explode — no driver loop.
    */
  def withHorizon(df: DataFrame, h: Int, freq: String): DataFrame = {
    val step = freq match {
      case "D"               => "i -> date_add(last_ds, i)"
      case "W"               => "i -> date_add(last_ds, 7 * i)"
      case "MS" | "M"        => "i -> add_months(last_ds, i)"
      case "QS" | "Q"        => "i -> add_months(last_ds, 3 * i)"
      case "YS" | "Y" | "A"  => "i -> add_months(last_ds, 12 * i)"
      case other => throw new IllegalArgumentException(s"unsupported freq $other")
    }
    val lastDs = df.filter(!col(IsFuture)).groupBy(SeriesId).agg(max(Ds).as("last_ds"))
    val future = lastDs.select(
      col(SeriesId),
      explode(expr(s"transform(sequence(1, $h), $step)")).as(Ds)
    ).withColumn(Y, lit(null).cast("double")).withColumn(IsFuture, lit(true))
    val extras = df.columns.filterNot(Set(SeriesId, Ds, Y, IsFuture))
    unionLoose(df, extras.foldLeft(future)((f, c) => f.withColumn(c, lit(null))))
  }

  /** Horizon at the series' own inferred frequency. */
  def withInferredHorizon(df: DataFrame, h: Int): DataFrame =
    withHorizon(df, h, inferFreq(df))

  /** Monthly horizon — `withHorizon` at MS (kept as the common fixture path). */
  def withMonthlyHorizon(df: DataFrame, h: Int): DataFrame =
    withHorizon(df, h, "MS")

  /** Union two frames aligning by column name, adding missing columns as null. */
  def unionLoose(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = a.columns
    val b2 = cols.foldLeft(b)((f, c) => if (b.columns.contains(c)) f else f.withColumn(c, lit(null)))
    a.unionByName(b2.select(cols.map(col).toSeq: _*))
  }

  /** `round(decimals)` (/root/reference/src/scalecast/Forecaster.py:2341-2352). */
  def roundY(df: DataFrame, decimals: Int): DataFrame =
    df.withColumn(Y, round(col(Y), decimals))

  /** `line_up_dates`: trim every series to the range covered by ALL series
    * (/root/reference/src/scalecast/multiseries.py:39-53) so a multivariate
    * frame shares one calendar. */
  def lineUpDates(df: DataFrame): DataFrame = {
    val bounds = df.filter(!col(IsFuture))
      .groupBy(SeriesId).agg(min(Ds).as("_lo"), max(Ds).as("_hi"))
      .agg(max("_lo").as("_lo"), min("_hi").as("_hi"))
    df.join(broadcast(bounds)).filter(col(Ds).between(col("_lo"), col("_hi")))
      .drop("_lo", "_hi")
  }

  /** `ingest_Xvars_df`: left-join an external regressor frame on ds, turning
    * non-numeric columns into 0/1 dummies (pd.get_dummies,
    * /root/reference/src/scalecast/_Forecaster_parent.py:1471-1543); optional
    * zero-padding for dates the regressor frame misses. */
  def ingestXvars(frame: DataFrame, xvars: DataFrame, dateCol: String = "ds",
                  pad: Boolean = true, dropFirst: Boolean = false): DataFrame = {
    val renamed = xvars.withColumnRenamed(dateCol, Ds)
    val (numeric, categorical) = renamed.schema.fields
      .filterNot(_.name == Ds)
      .partition(f => f.dataType.typeName match {
        case "string" | "boolean" => false
        case _ => true
      })
    val dummied = categorical.foldLeft(renamed) { (f, field) =>
      val levels = renamed.select(field.name).distinct()
        .collect().map(_.get(0)).filter(_ != null).map(_.toString).sorted
      val keep = if (dropFirst) levels.drop(1) else levels
      keep.foldLeft(f)((g, v) =>
        g.withColumn(s"${field.name}_$v",
          when(col(field.name).cast("string") === v, 1.0).otherwise(0.0)))
        .drop(field.name)
    }
    val casted = numeric.foldLeft(dummied)((f, field) =>
      f.withColumn(field.name, col(field.name).cast("double")))
    val joined = frame.join(casted, Seq(Ds), "left")
    if (!pad) joined
    else casted.columns.filterNot(_ == Ds).foldLeft(joined)((f, c) =>
      f.withColumn(c, coalesce(col(c), lit(0.0))))
  }

  /** `add_series` (/root/reference/src/scalecast/_Forecaster_parent.py:
    * 1436-1469): attach a driver-supplied value list as a regressor column.
    * Dates are generated from `firstDate` (default: the frame's first
    * observed date) at the frame's inferred frequency; dates the list does
    * not cover are 0-padded when `pad` (the reference's default). The list
    * is driver data by contract (the reference takes a Python list), so
    * building the tiny (ds, value) frame on the driver is the honest shape —
    * the join back is the same ingest path as any regressor frame. */
  def addSeries(frame: DataFrame, values: Seq[Double], called: String,
                firstDate: Option[String] = None, pad: Boolean = true): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val freq = inferFreq(frame)
    val start = java.time.LocalDate.parse(firstDate.getOrElse(
      frame.filter(!col(IsFuture)).agg(min(Ds)).first().getDate(0).toString))
    val dates = values.indices.map { i =>
      val d = freq match {
        case "D"  => start.plusDays(i.toLong)
        case "W"  => start.plusWeeks(i.toLong)
        case "MS" => start.plusMonths(i.toLong)
        case "QS" => start.plusMonths(3L * i)
        case "YS" => start.plusYears(i.toLong)
      }
      java.sql.Date.valueOf(d)
    }
    val xdf = dates.zip(values).toDF(Ds, called)
    ingestXvars(frame, xdf, dateCol = Ds, pad = pad)
  }

  /** `export_Xvars_df` (/root/reference/src/scalecast/_Forecaster_parent.py:
    * 1430-1469): the date spine plus every regressor column (everything that
    * isn't the target or frame metadata). */
  def exportXvars(df: DataFrame, dropBeforeIntersection: Boolean = false): DataFrame = {
    val meta = Set(Y, IsFuture, "is_test")
    val xcols = df.columns.filterNot(c => meta.contains(c) || c == SeriesId || c == Ds)
    val out = df.select((Seq(SeriesId, Ds) ++ xcols).map(col): _*)
    if (!dropBeforeIntersection) out
    else xcols.foldLeft(out)((f, c) => f.filter(col(c).isNotNull))
  }

  // ---- Row-range ops (SURVEY §2.2) ------------------------------------

  /** Drop the last `n` observed rows of every series
    * (`chop_from_front`, /root/reference/src/scalecast/Forecaster.py:1675-1702). */
  def chopFromFront(df: DataFrame, n: Int): DataFrame = {
    val rn = row_number().over(Window.partitionBy(SeriesId).orderBy(col(Ds).desc))
    df.filter(!col(IsFuture))
      .withColumn("_rn_back", rn).filter(col("_rn_back") > n).drop("_rn_back")
  }

  /** Keep only the last `n` observed rows of every series
    * (`keep_smaller_history`, /root/reference/src/scalecast/Forecaster.py:1725-1749). */
  def keepSmallerHistory(df: DataFrame, n: Int): DataFrame = {
    val rn = row_number().over(Window.partitionBy(SeriesId).orderBy(col(Ds).desc))
    df.filter(!col(IsFuture))
      .withColumn("_rn_back", rn).filter(col("_rn_back") <= n).drop("_rn_back")
  }

  /** Mark the last `testLength` observed rows per series as the test slice.
    * Adds `is_test: BOOLEAN`. The temporal split that backs `test()`
    * (/root/reference/src/scalecast/_Forecaster_parent.py:1569-1649). */
  def withTestFlag(df: DataFrame, testLength: Int): DataFrame = {
    // observed rows strictly after this one (the series' observed count
    // minus the running count — one Window operator, linear per series,
    // where a (1, unboundedFollowing) frame re-counts the tail per row);
    // horizon rows are never test rows
    val observed = count(when(!col(IsFuture), lit(1)))
    val after = observed.over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)) -
      observed.over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df.withColumn("is_test", !col(IsFuture) && after < testLength)
  }
}
