package graft
package queries

import graft.OracleGen._
import graft.core.{SeriesFrame, SessionMemo}
import graft.core.SeriesFrame._
import graft.functions.{FeatureOps, TextOps}
import graft.operators.Transforms
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `mv_*` queries: multivariate forecasting (VAR, VECM, blocked VAR,
  * star-schema fits) over several series at once, each with its DuckDB
  * oracle. */
object MvQueries {

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Cross-series lag matrix over the segment series (the SKLearnMV feature
    * build, models.py:213-337). */
  private def qMvXlags(s: SparkSession, d: String): DataFrame =
    graft.models.MvForecast.addCrossSeriesLags(segmentMonthlyM(s, d), Segments, 1)
      .select((Seq(col(SeriesId), col(Ds), col(Y)) ++
        Segments.map(sid => col(s"xlag_${sid}_1"))): _*)

  /** `find_optimal_lag_order` for the VAR family (util.py:298-341,
    * statsmodels VAR.select_order): candidate order p minimizing the summed
    * per-equation AIC of the cross-series lag OLS fits. Every candidate's
    * score is emitted; the winner carries the reference's first-min tie
    * order. The oracle replays each (p, equation) fit through an unrolled
    * Cholesky over the shared date-spine lag design. */
  private def qMvVarOrder(s: SparkSession, d: String): DataFrame = {
    val sids = Seq("BUILDING", "MACHINERY")
    val frame = segmentMonthlyM(s, d).filter(col(SeriesId).isin(sids: _*))
    val scores = graft.eval.AutoSelect.varOrderScores(frame, sids, 3)
    val best = scores.minBy(t => if (t._2.isNaN) Double.MaxValue else t._2)._1
    import s.implicits._
    scores.map { case (p, aic) => (p.toLong, aic, p == best) }
      .toDF("p", "aic", "is_best")
      .select(col("p"), round(col("aic"), 6).as("aic"), col("is_best"))
  }

  /** mv_blocked_var and mv_blocked_dynamic share the SAME screened fit on
    * the same segments frame; memoize (fits, block) checkpointed. */
  private[graft] def blockedFitM(s: SparkSession, d: String): (DataFrame, DataFrame) =
    SessionMemo.value(s, d, "blocked_fit") {
      // both blocked queries fit on the SAME date-aligned window (the
      // recursion's contract; the screen sees identical rows)
      val (fits, block) = graft.models.BlockedVar.fit(
        SeriesFrame.lineUpDates(zSegmentsMonthly(s, d)), maxLag = 1, maxSources = 3)
      (fits.localCheckpoint(true), block.localCheckpoint(true))
    }

  /** Johansen trace test on two segment series (k = 2 — the oracle solves
    * the 2×2 generalized eigenproblem in closed form). */
  private def qMvCointRank(s: SparkSession, d: String): DataFrame = {
    val sids = Seq("AUTOMOBILE", "BUILDING")
    val seg = segmentMonthlyM(s, d).filter(col(SeriesId).isin(sids: _*))
    val (lambda, trace, rank) =
      graft.models.Vecm.johansenTrace(seg, sids, diffLags = 1, detOrder = -1)
    import s.implicits._
    Seq((lambda(0), lambda(1), trace(0), trace(1), rank.toLong))
      .toDF("lambda1", "lambda2", "trace0", "trace1", "rank")
      .select(round(col("lambda1"), 6).as("lambda1"),
        round(col("lambda2"), 6).as("lambda2"),
        round(col("trace0"), 6).as("trace0"),
        round(col("trace1"), 6).as("trace1"), col("rank"))
  }

  /** Unrestricted VECM one-step level predictions on two z-scored segment
    * series; the oracle replays both per-equation OLS fits via Cholesky. */
  private def qMvVecm(s: SparkSession, d: String): DataFrame = {
    val sids = Seq("AUTOMOBILE", "BUILDING")
    val seg = segmentMonthlyM(s, d).filter(col(SeriesId).isin(sids: _*))
    val z = Transforms.scaleT(seg).transform(seg)
    graft.models.Vecm.fitPredict(z, sids, diffLags = 1)
      .select(col(SeriesId), col(Ds), round(col(Y), 6).as("y"),
        round(col("yhat"), 6).as("yhat"))
  }

  /** MV recursive multi-step forecast (models.py:368-407): one mlr per
    * target on cross-series lag-1 features, 6 horizon steps where EVERY
    * series' step-i prediction feeds every series' step-i+1 lags. Oracle:
    * per-equation Cholesky OLS + one recursive CTE carrying both series'
    * predictions. */
  private def qMvDynamic(s: SparkSession, d: String): DataFrame = {
    import graft.models.MvForecast
    val sids = Seq("AUTOMOBILE", "BUILDING")
    val seg = segmentMonthlyM(s, d).filter(col(SeriesId).isin(sids: _*))
    val z = Transforms.scaleT(seg).transform(seg)
    // one materialization of the (tiny) lagged frame: the OLS moments pass,
    // the recursion seed, and the fitted pass all read it instead of
    // re-running the fact scan + aggregation per action
    val withLags = MvForecast.addCrossSeriesLags(withMonthlyHorizon(z, 6), sids, 1)
      .localCheckpoint(true)
    val fits = MvForecast.fitPerSeriesOls(withLags, sids, 1)
    MvForecast.dynamicForecastOls(withLags, fits, sids, 1)
      .filter(col(IsFuture))
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"))
  }

  /** MV facade backtest on the 2-series coupled frame: two origins 6 rows
    * apart, each refitting both cross-lag equations on its own train slice
    * and scoring the 12-row holdout statically (the banked-results
    * convention — test rows predict from actual lags). Oracle: per-(iter,
    * series) keyed moments + Cholesky solves over the shared lag table. */
  private def qMvBacktest(s: SparkSession, d: String): DataFrame = {
    val sids = Seq("AUTOMOBILE", "BUILDING")
    val seg = segmentMonthlyM(s, d).filter(col(SeriesId).isin(sids: _*))
    val z = Transforms.scaleT(seg).transform(seg)
    MvForecaster(z, sids)
      .backtest(nIter = 2, h = 12, jumpBack = 6, parallelism = 2)
      .select(col("iter").cast("long").as("iter"), col(SeriesId),
        round(col("rmse"), 6).as("rmse"), round(col("mae"), 6).as("mae"))
  }

  /** `corr_lags` (MVForecaster.py:1012-1074): Pearson corr of AUTOMOBILE with
    * the k-lagged BUILDING series, lags 0..3 from ONE window pass. */
  private def qMvCorrLags(s: SparkSession, d: String): DataFrame =
    graft.functions.Diagnostics.corrLags(segmentMonthlyM(s, d),
        "AUTOMOBILE", "BUILDING", 3)
      .select(col("sid_a"), col("sid_b"), col("lag").cast("long").as("lag"),
        round(col("corr"), 6).as("corr"))

  private def qMvCorr(s: SparkSession, d: String): DataFrame =
    graft.functions.Diagnostics.corrMatrix(segmentMonthlyM(s, d))
      .select(col("sid_a"), col("sid_b"), round(col("corr"), 6).as("corr"), col("n"))

  /** Blocked cross-lag VAR (the scale path past MvForecast.CoupledSetMax):
    * per-target source blocks from the lag-1 correlation screen (self +
    * top-2 foreign sources), then every equation's bounded OLS fit from ONE
    * grouped moments aggregation with executor-side solves. Output: every
    * equation's β labeled by the screened source it multiplies — both the
    * screen DECISION and the fit are hash-checked. */
  private def qBlockedVar(s: SparkSession, d: String): DataFrame = {
    val (fits, block) = blockedFitM(s, d)
    fits.select(col("target"), posexplode(col("beta")).as(Seq("fi", "beta")))
      .join(block.withColumnRenamed("src_rank", "fi"), Seq("target", "fi"), "left")
      .select(col("target").as(SeriesId), col("fi").cast("long").as("fi"),
        coalesce(col("src"), lit("intercept")).as("src"),
        round(col("beta"), 6).as("beta"))
  }

  /** ANN-screened blocked-VAR source selection, declared end-to-end: an
    * 8-series frame derived from the z-scored orders series with PLANTED
    * strong lag couplings — four followers tracking ±(the driver's lag)
    * with tiny md5-hash wiggle, three pure-hash noise series. Planted
    * |corr| ≈ 0.99 vs background ≈ |lag-1 autocorr| ≈ 0.1, so the 0.6 gate
    * separates cleanly and [[graft.models.BlockedVar.screenApprox]]'s
    * candidate tier (profile cosine == Pearson on the full window) must
    * reproduce EXACTLY the quadratic screen the oracle replays in SQL —
    * including the negative couplings, which only the both-signs probing
    * can see. */
  private def qScreenApprox(s: SparkSession, d: String): DataFrame = {
    val base = zOrdersMonthly(s, d)
      .select(col(Ds), col(Y), lag(col(Y), 1).over(w).as("ylag"))
      .filter(col("ylag").isNotNull)
    def noiseCol(tag: String): Column =
      (pmod(TextOps.hash32(concat(col(Ds).cast("string"), lit("_" + tag))),
        lit(1000)).cast("double") / 1000.0) - 0.5
    val driver = base.select(lit("a").as(SeriesId), col(Ds), col(Y))
    val followers = Seq("f1" -> 1.0, "f2" -> -1.0, "f3" -> 0.9, "f4" -> -0.9)
      .map { case (n, c) => base.select(lit(n).as(SeriesId), col(Ds),
        (lit(c) * col("ylag") + lit(0.1) * noiseCol(n)).as(Y)) }
    val noisers = Seq("n1", "n2", "n3").map(n =>
      base.select(lit(n).as(SeriesId), col(Ds), noiseCol(n).as(Y)))
    val frame = (driver +: (followers ++ noisers)).reduce(_ unionByName _)
      .withColumn(IsFuture, lit(false))
    graft.models.BlockedVar.screenApprox(frame, maxSources = 2,
        minAbsCorr = 0.6, profileWindow = 256)
      .select(col("target"), col("src"), col("src_rank").cast("long").as("src_rank"))
  }

  /** Blocked-VAR recursive 6-step horizon over the 5 z-scored segments:
    * every step fills each target's screened-source lags from the shared
    * ledger (actuals ∪ predictions) — the coupled walk at blocked scale.
    * Oracle collapses the blocked equations into a 5×5 update matrix W
    * (w[t][s] = Σ β_rank over block rows routing source s into target t)
    * and walks a recursive CTE. */
  private def qBlockedDynamic(s: SparkSession, d: String): DataFrame = {
    // lineUpDates enforces BlockedVar's date-aligned contract (segments can
    // end on different months at small SF); the fit is shared with
    // mv_blocked_var via the memo
    val base = withMonthlyHorizon(
      SeriesFrame.lineUpDates(zSegmentsMonthly(s, d)), 6)
    val (fits, block) = blockedFitM(s, d)
    graft.models.BlockedVar.dynamicForecastWith(base, fits, block,
        maxLag = 1, maxSources = 3)
      .select(col(SeriesId), col(Ds), round(col("yhat"), 6).as("yhat"))
  }

  /** Star-schema ingest feeding the per-series model tier end to end:
    * z-score each of the 25 nation series from [[SeriesFrame.nationMonthly]],
    * add (t, ar_1), and fit every per-series OLS equation through ONE
    * grouped moments aggregation + executor-side Cholesky solves
    * ([[graft.models.GroupedOls]]) — the 10⁶-series fit shape applied
    * directly to the lake-join series build. The oracle replays the star
    * join, the per-series z-score, and 25 grouped Cholesky chains. */
  private def qMvStarFit(s: SparkSession, d: String): DataFrame = {
    val base = SeriesFrame.nationMonthly(s, d)
    val z = Transforms.scaleT(base).transform(base)
    val withF = FeatureOps.addArTerms(FeatureOps.addTimeTrend(z), 1)
    graft.models.GroupedOls.fitBySeries(withF, Seq("t", "ar_1"))
      .select(col(SeriesId),
        round(element_at(col("beta"), 1), 6).as("b0"),
        round(element_at(col("beta"), 2), 6).as("b_t"),
        round(element_at(col("beta"), 3), 6).as("b_ar1"))
  }

  /** Oracle for mv_var_order: one Cholesky chain per (order p, equation) —
    * the cross-series lag design is built on the shared date spine exactly
    * like MvForecast.addCrossSeriesLags, each equation's AIC is
    * n·ln(sse/n) + 2(k+1) over its feature-complete rows, and candidate
    * orders rank by summed AIC with first-min tie order. */
  private def mvVarOrderOracleSql: String = {
    val ps = 1 to 3
    val eqs = Seq("b" -> "yb", "m" -> "ym")
    val lagCols = ps.flatMap(k => Seq(
      s"lag(yb, $k) OVER (ORDER BY ds) AS b$k",
      s"lag(ym, $k) OVER (ORDER BY ds) AS m$k"))
    val chains = (for (p <- ps; (eq, yx) <- eqs) yield {
      val tag = s"v$p$eq"
      val xs = (1 to p).map(i => s"b$i") ++ (1 to p).map(i => s"m$i")
      val cond = (s"$yx IS NOT NULL" +: xs.map(x => s"$x IS NOT NULL")).mkString(" AND ")
      s"""${OracleGen.momentsCte(tag, xs, s"wide WHERE $cond", yx)},
         |${OracleGen.solveCtes(tag, xs.size)},
         |${tag}_a AS (SELECT count(*) * ln(sum(pow($yx - (${linPred(xs)}), 2)) / count(*))
         |  + 2.0 * ${xs.size + 1} AS aic FROM wide, ${tag}_fit WHERE $cond)""".stripMargin
    }).mkString(",\n")
    val aicsUnion = ps.map(p =>
      s"SELECT $p AS p, (SELECT aic FROM v${p}b_a) + (SELECT aic FROM v${p}m_a) AS aic")
      .mkString("\n  UNION ALL ")
    s"""$SEG,
       |s2 AS (SELECT * FROM series WHERE series_id IN ('BUILDING', 'MACHINERY')),
       |spine AS (SELECT DISTINCT ds FROM s2),
       |pv AS (SELECT spine.ds, b.y AS yb, m.y AS ym
       |  FROM spine
       |  LEFT JOIN (SELECT ds, y FROM s2 WHERE series_id = 'BUILDING') b ON b.ds = spine.ds
       |  LEFT JOIN (SELECT ds, y FROM s2 WHERE series_id = 'MACHINERY') m ON m.ds = spine.ds),
       |wide AS (SELECT pv.*, ${lagCols.mkString(", ")} FROM pv),
       |$chains,
       |aics AS (${aicsUnion})
       |SELECT CAST(p AS BIGINT) AS p, ROUND(aic, 6) AS aic,
       |       row_number() OVER (ORDER BY aic, p) = 1 AS is_best
       |FROM aics""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("mv_build_segments", (s, d) => SeriesFrame.segmentMonthly(s, d).orderBy(SeriesId, Ds),
      s"$SEG SELECT series_id, ds, y, FALSE AS is_future FROM series ORDER BY 1, 2"),

    // star join → per-nation z-score → 25 grouped Cholesky OLS solves
    QueryDef("mv_star_fit", qMvStarFit,
      s"""WITH base AS ($NationMonthly),
         |${zScoreBySeriesCtes("base", "series")},
         |${trendIndexCte(", lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS ar_1",
              grouped = true, name = "feats")},
         |rws AS (SELECT * FROM feats WHERE ar_1 IS NOT NULL),
         |${OracleGen.momentsCte("sf", Seq("t", "ar_1"), "rws", keys = Seq("series_id"))},
         |${OracleGen.solveCtes("sf", 2)}
         |SELECT series_id, ROUND(beta_0, 6) AS b0, ROUND(beta_1, 6) AS b_t,
         |  ROUND(beta_2, 6) AS b_ar1
         |FROM sf_fit""".stripMargin),

    QueryDef("mv_corr", qMvCorr,
      s"""$SEG SELECT a.series_id AS sid_a, b.series_id AS sid_b,
         |  ROUND(corr(a.y, b.y), 6) AS corr, count(*) AS n
         |FROM series a JOIN series b ON a.ds = b.ds AND a.series_id < b.series_id
         |GROUP BY 1, 2""".stripMargin),

    QueryDef("mv_var_order", qMvVarOrder,
      mvVarOrderOracleSql),

    // blocked cross-lag VAR: lag-1 corr screen (rank by |c| desc, src asc) →
    // per-target design (self + top-2 sources + intercept, k=4) → moments
    // pivoted per target → one grouped Cholesky chain solves every equation
    // ANN-screened source selection == the exact quadratic screen, replayed
    // in SQL over the same planted-coupling fixture (followers = ±driver
    // lag + md5 wiggle; hash noise series must keep self-only blocks)
    QueryDef("mv_screen_approx", qScreenApprox,
      {
      def nz(tag: String) =
        s"((CAST(concat('0x', substr(md5(concat(CAST(ds AS VARCHAR), '_$tag')), 1, 8)) AS BIGINT) % 1000) / 1000.0 - 0.5)"
      val fdefs = Seq("f1" -> "1.0", "f2" -> "-1.0", "f3" -> "0.9", "f4" -> "-0.9")
        .map { case (n, c) =>
          s"SELECT '$n' AS series_id, ds, $c * ylag + 0.1 * ${nz(n)} AS y FROM b2" }
      val ndefs = Seq("n1", "n2", "n3")
        .map(n => s"SELECT '$n' AS series_id, ds, ${nz(n)} AS y FROM b2")
      s"""$ZS,
         |sp AS (SELECT ds, y, lag(y) OVER (ORDER BY ds) AS ylag FROM series),
         |b2 AS (SELECT ds, y, ylag FROM sp WHERE ylag IS NOT NULL),
         |uni AS (
         |  SELECT 'a' AS series_id, ds, y FROM b2
         |  UNION ALL ${(fdefs ++ ndefs).mkString("\n  UNION ALL ")}),
         |${corrScreenCtes("uni", 1, " AND abs(c) >= 0.6")}
         |SELECT target, src, CAST(r AS BIGINT) AS src_rank FROM blk""".stripMargin
    }),

    QueryDef("mv_blocked_var", qBlockedVar,
      s"""$ZSEG,
         |$CommonSpanCtes,
         |${blockedVarCtes("series2")}
         |SELECT f.target AS series_id, CAST(g.fi AS BIGINT) AS fi,
         |  coalesce(b2.src, 'intercept') AS src,
         |  ROUND(CASE g.fi WHEN 0 THEN beta_0 WHEN 1 THEN beta_1
         |        WHEN 2 THEN beta_2 ELSE beta_3 END, 6) AS beta
         |FROM bv_fit f CROSS JOIN (VALUES (0), (1), (2), (3)) g(fi)
         |LEFT JOIN blk b2 ON b2.target = f.target AND b2.r = g.fi""".stripMargin),

    // blocked-VAR coupled recursion: the per-target blocked equations
    // collapse to one 5x5 update matrix W + intercepts; a recursive CTE
    // walks the 6 steps from the last observed state
    QueryDef("mv_blocked_dynamic", qBlockedDynamic,
      {
      val sids = Segments
      def sn(s: String) = s.take(2).toLowerCase
      val wcols = (for (t <- sids; s <- sids) yield
        s"sum(CASE WHEN b.target = '$t' AND b.src = '$s' THEN " +
          s"(CASE b.r WHEN 0 THEN f.beta_0 WHEN 1 THEN f.beta_1 ELSE f.beta_2 END) " +
          s"ELSE 0 END) AS w_${sn(t)}_${sn(s)}").mkString(", ")
      val ccols = sids.map(t =>
        s"max(CASE WHEN b.target = '$t' AND b.r = 0 THEN f.beta_3 END) AS c_${sn(t)}")
        .mkString(", ")
      val seed = sids.map(s =>
        s"(SELECT y FROM series2, nn WHERE series_id = '$s' AND ds = ld) AS p_${sn(s)}")
        .mkString(", ")
      val step = sids.map(t =>
        s"w.c_${sn(t)} + " +
          sids.map(s => s"w.w_${sn(t)}_${sn(s)} * rec.p_${sn(s)}").mkString(" + "))
        .mkString(", ")
      val fin = sids.map(s =>
        s"SELECT '$s' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds, " +
          s"ROUND(p_${sn(s)}, 6) AS yhat FROM rec, nn WHERE i >= 1")
        .mkString("\n UNION ALL ")
      s"""${ZSEG.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$CommonSpanCtes,
         |${blockedVarCtes("series2")},
         |wm AS (SELECT $wcols, $ccols FROM blk b JOIN bv_fit f ON f.target = b.target),
         |${nnCte("series2")},
         |rec AS (
         |  SELECT 0 AS i, $seed FROM nn
         |  UNION ALL
         |  SELECT rec.i + 1, $step FROM rec, wm w WHERE rec.i < 6)
         |$fin""".stripMargin
    }),

    // corr_lags: Pearson corr of A with the row-lagged B series, lags 0..3.
    QueryDef("mv_corr_lags", qMvCorrLags,
      s"""$SEG,
         |a AS (SELECT ds, y AS ya FROM series WHERE series_id = 'AUTOMOBILE'),
         |bb AS (SELECT ds, y, row_number() OVER (ORDER BY ds) AS rn
         |       FROM series WHERE series_id = 'BUILDING'),
         |bl AS (SELECT cur.ds, g.k AS lag, prev.y AS yb
         |       FROM generate_series(0, 3) g(k)
         |       JOIN bb cur ON TRUE
         |       JOIN bb prev ON prev.rn = cur.rn - g.k),
         |j AS (SELECT a.ya, bl.yb, bl.lag FROM a JOIN bl ON bl.ds = a.ds)
         |SELECT 'AUTOMOBILE' AS sid_a, 'BUILDING' AS sid_b,
         |  CAST(lag AS BIGINT) AS lag, ROUND(corr(ya, yb), 6) AS corr
         |FROM j GROUP BY 3""".stripMargin),

    QueryDef("mv_xlags", qMvXlags,
      s"""$SEG, wide AS (SELECT ds,
         |  ${Segments.map(x => s"max(CASE WHEN series_id = '$x' THEN y END) AS c_$x").mkString(",\n  ")}
         |  FROM series GROUP BY 1),
         |lagged AS (SELECT ds,
         |  ${Segments.map(x => s"""lag(c_$x) OVER (ORDER BY ds) AS "xlag_${x}_1"""").mkString(",\n  ")}
         |  FROM wide)
         |SELECT s.series_id, s.ds, s.y,
         |  ${Segments.map(x => s""""xlag_${x}_1"""").mkString(", ")}
         |FROM series s JOIN lagged ON lagged.ds = s.ds""".stripMargin),

    // VECM per-equation OLS (k=2, one Δ-lag): per-series z-scoring, Δy
    // target with own-row lag, level/Δ-lag features over the union calendar
    // (date spine densify), one Cholesky fit per equation, ŷ = y(t−1) + Δŷ.
    QueryDef("mv_vecm", qMvVecm,
      {
      val feats = Seq("lvl_a", "lvl_b", "dl_a", "dl_b")
      def eq(tag: String, sid: String) = {
        val filter = s"eqrows WHERE series_id = '$sid' AND dy IS NOT NULL AND " +
          feats.map(f => s"$f IS NOT NULL").mkString(" AND ")
        s"""${OracleGen.momentsCte(tag, feats, filter, yExpr = "dy")},
           |${OracleGen.solveCtes(tag, 4)}""".stripMargin
      }
      def out(tag: String, sid: String) =
        s"""SELECT e.series_id, e.ds, ROUND(e.y, 6) AS y,
           |  ROUND(CASE WHEN e.dy IS NOT NULL AND e.lvl_a IS NOT NULL
           |         AND e.lvl_b IS NOT NULL AND e.dl_a IS NOT NULL AND e.dl_b IS NOT NULL
           |        THEN e.y - e.dy + (beta_0 + beta_1*e.lvl_a + beta_2*e.lvl_b
           |                           + beta_3*e.dl_a + beta_4*e.dl_b) END, 6) AS yhat
           |FROM eqrows e, ${tag}_fit WHERE e.series_id = '$sid'""".stripMargin
      s"""$SEG,
         |two AS (SELECT * FROM series WHERE series_id IN ('AUTOMOBILE', 'BUILDING')),
         |${zScoreBySeriesCtes("two", "tz")},
         |longd AS (SELECT series_id, ds, y,
         |          y - lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS dy FROM tz),
         |spine AS (SELECT DISTINCT ds FROM tz),
         |dense AS (SELECT sp.ds, sid.series_id, l.y, l.dy
         |  FROM spine sp CROSS JOIN (VALUES ('AUTOMOBILE'), ('BUILDING')) sid(series_id)
         |  LEFT JOIN longd l ON l.series_id = sid.series_id AND l.ds = sp.ds),
         |lagged AS (SELECT *, lag(y) OVER wv AS lvl, lag(dy) OVER wv AS dl
         |  FROM dense WINDOW wv AS (PARTITION BY series_id ORDER BY ds)),
         |fw AS (SELECT ds,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN lvl END) AS lvl_a,
         |  max(CASE WHEN series_id = 'BUILDING' THEN lvl END) AS lvl_b,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN dl END) AS dl_a,
         |  max(CASE WHEN series_id = 'BUILDING' THEN dl END) AS dl_b
         |  FROM lagged GROUP BY ds),
         |eqrows AS (SELECT l.series_id, l.ds, l.y, l.dy, f.lvl_a, f.lvl_b, f.dl_a, f.dl_b
         |  FROM longd l JOIN fw f ON f.ds = l.ds),
         |${eq("va", "AUTOMOBILE")},
         |${eq("vb", "BUILDING")}
         |${out("va", "AUTOMOBILE")}
         |UNION ALL
         |${out("vb", "BUILDING")}""".stripMargin
    }),

    // MV recursion (k=2, lag 1): per-series z-score, per-equation OLS of y
    // on BOTH series' lag-1 values (union-calendar spine), then a recursive
    // CTE where step i+1's lags are step i's predictions for both series.
    QueryDef("mv_dynamic", qMvDynamic,
      {
      def eq(tag: String, sid: String) =
        s"""${OracleGen.momentsCte(tag, Seq("xa", "xb"),
             s"eqrows WHERE series_id = '$sid' AND xa IS NOT NULL AND xb IS NOT NULL")},
           |${OracleGen.solveCtes(tag, 2)}""".stripMargin
      s"""${SEG.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |two AS (SELECT * FROM series WHERE series_id IN ('AUTOMOBILE', 'BUILDING')),
         |${zScoreBySeriesCtes("two", "tz")},
         |spine AS (SELECT DISTINCT ds FROM tz),
         |dense AS (SELECT sp.ds, sid.series_id, l.y
         |  FROM spine sp CROSS JOIN (VALUES ('AUTOMOBILE'), ('BUILDING')) sid(series_id)
         |  LEFT JOIN tz l ON l.series_id = sid.series_id AND l.ds = sp.ds),
         |lagged AS (SELECT *, lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS lv
         |  FROM dense),
         |fw AS (SELECT ds,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN lv END) AS xa,
         |  max(CASE WHEN series_id = 'BUILDING' THEN lv END) AS xb
         |  FROM lagged GROUP BY ds),
         |eqrows AS (SELECT l.series_id, l.ds, l.y, f.xa, f.xb
         |  FROM tz l JOIN fw f ON f.ds = l.ds),
         |${eq("ma", "AUTOMOBILE")},
         |${eq("mb", "BUILDING")},
         |${nnCte("tz")},
         |seed AS (SELECT
         |  (SELECT y FROM tz, nn WHERE series_id = 'AUTOMOBILE' AND ds = ld) AS pa,
         |  (SELECT y FROM tz, nn WHERE series_id = 'BUILDING' AND ds = ld) AS pb),
         |rec AS (
         |  SELECT 0 AS i, pa, pb FROM seed
         |  UNION ALL
         |  SELECT rec.i + 1,
         |         ma_fit.beta_0 + ma_fit.beta_1 * rec.pa + ma_fit.beta_2 * rec.pb,
         |         mb_fit.beta_0 + mb_fit.beta_1 * rec.pa + mb_fit.beta_2 * rec.pb
         |  FROM rec, ma_fit, mb_fit WHERE rec.i < 6)
         |SELECT 'AUTOMOBILE' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
         |       ROUND(pa, 6) AS yhat FROM rec, nn WHERE i >= 1
         |UNION ALL
         |SELECT 'BUILDING', CAST(ld + to_months(i::INT) AS DATE), ROUND(pb, 6)
         |FROM rec, nn WHERE i >= 1""".stripMargin
    }),

    // MV backtest: per-(iter, target) keyed moments over the shared
    // cross-lag table, one Cholesky chain solving every (iter, target)
    // equation at once, static holdout predictions, per-cell rmse/mae.
    // Chop/flag replication: rb = per-series row index from the back on the
    // date-aligned frame; iteration `it` trains on rb > it*6+12 and tests
    // on the 12 rows after the origin.
    QueryDef("mv_backtest", qMvBacktest,
      s"""$SEG,
         |two AS (SELECT * FROM series WHERE series_id IN ('AUTOMOBILE', 'BUILDING')),
         |${zScoreBySeriesCtes("two", "tz")},
         |bdp AS (SELECT series_id, min(ds) AS lo, max(ds) AS hi FROM tz GROUP BY 1),
         |bd AS (SELECT max(lo) AS lo, min(hi) AS hi FROM bdp),
         |al AS (SELECT tz.* FROM tz, bd WHERE ds BETWEEN lo AND hi),
         |wide AS (SELECT ds,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN y END) AS ca,
         |  max(CASE WHEN series_id = 'BUILDING' THEN y END) AS cb
         |  FROM al GROUP BY 1),
         |lagged AS (SELECT ds, lag(ca) OVER (ORDER BY ds) AS xa,
         |           lag(cb) OVER (ORDER BY ds) AS xb FROM wide),
         |eqr AS (SELECT a.series_id, a.ds, a.y, l.xa, l.xb,
         |        row_number() OVER (PARTITION BY a.series_id ORDER BY a.ds DESC) AS rb
         |        FROM al a JOIN lagged l USING (ds)),
         |its AS (SELECT i AS it FROM generate_series(0, 1) g(i)),
         |tr AS (SELECT e.*, i.it FROM eqr e, its i
         |       WHERE e.rb > i.it * 6 + 12 AND e.xa IS NOT NULL
         |         AND e.xb IS NOT NULL AND e.y IS NOT NULL),
         |${OracleGen.momentsCte("bt", Seq("xa", "xb"), "tr",
             keys = Seq("it", "series_id"))},
         |${OracleGen.solveCtes("bt", 2)},
         |te AS (SELECT e.series_id, e.y, e.xa, e.xb, i.it FROM eqr e, its i
         |       WHERE e.rb > i.it * 6 AND e.rb <= i.it * 6 + 12),
         |pred AS (SELECT te.it, te.series_id, te.y,
         |         f.beta_0 + f.beta_1 * te.xa + f.beta_2 * te.xb AS yhat
         |         FROM te JOIN bt_fit f
         |           ON f.it = te.it AND f.series_id = te.series_id)
         |SELECT CAST(it AS BIGINT) AS iter, series_id,
         |  ROUND(sqrt(avg(pow(yhat - y, 2))), 6) AS rmse,
         |  ROUND(avg(abs(yhat - y)), 6) AS mae
         |FROM pred GROUP BY 1, 2""".stripMargin),

    // Johansen trace (k=2, p=1, no deterministic term): per-series Δ/level/
    // Δ-lag columns → date-wide complete cases → 6×6 moments → partial
    // regression on Z → closed-form 2×2 generalized eigenvalues → trace
    // stats vs the MHM 5% case-0 table. Mirrors Vecm.johansenTrace exactly.
    QueryDef("mv_coint_rank", qMvCointRank,
      {
      def adj(a: Int, b: Int) = { // S entries: m_ab − m_aZ · MZZ⁻¹ · m_Zb
        def sa(i: Int, j: Int) = s"sa_${math.max(i, j)}_${math.min(i, j)}"
        s"${sa(a, b)} - ((${sa(a, 4)})*(izz00*(${sa(b, 4)}) + izz01*(${sa(b, 5)}))" +
          s" + (${sa(a, 5)})*(izz01*(${sa(b, 4)}) + izz11*(${sa(b, 5)})))"
      }
      val vars = Seq("d_0", "d_1", "l_0", "l_1", "z_0", "z_1")
      val moms = (for (i <- 0 until 6; j <- 0 to i)
        yield s"sum((${vars(i)})*(${vars(j)})) AS sa_${i}_$j").mkString(", ")
      s"""$SEG,
         |two AS (SELECT * FROM series WHERE series_id IN ('AUTOMOBILE', 'BUILDING')),
         |lng AS (SELECT series_id, ds, y,
         |        y - lag(y) OVER win AS dy, lag(y) OVER win AS lvl
         |        FROM two WINDOW win AS (PARTITION BY series_id ORDER BY ds)),
         |lng2 AS (SELECT *, lag(dy) OVER (PARTITION BY series_id ORDER BY ds) AS dl
         |         FROM lng),
         |wide AS (SELECT ds,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN dy END) AS d_0,
         |  max(CASE WHEN series_id = 'BUILDING' THEN dy END) AS d_1,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN lvl END) AS l_0,
         |  max(CASE WHEN series_id = 'BUILDING' THEN lvl END) AS l_1,
         |  max(CASE WHEN series_id = 'AUTOMOBILE' THEN dl END) AS z_0,
         |  max(CASE WHEN series_id = 'BUILDING' THEN dl END) AS z_1
         |  FROM lng2 GROUP BY ds),
         |cc AS (SELECT * FROM wide WHERE d_0 IS NOT NULL AND d_1 IS NOT NULL
         |       AND l_0 IS NOT NULL AND l_1 IS NOT NULL
         |       AND z_0 IS NOT NULL AND z_1 IS NOT NULL),
         |mom AS (SELECT $moms, count(*) AS n FROM cc),
         |j0 AS (SELECT *, sa_4_4*sa_5_5 - sa_5_4*sa_5_4 AS detz FROM mom),
         |j1 AS (SELECT *, sa_5_5/detz AS izz00, -sa_5_4/detz AS izz01,
         |       sa_4_4/detz AS izz11 FROM j0),
         |j2 AS (SELECT *,
         |  ${adj(0, 0)} AS s00_00, ${adj(0, 1)} AS s00_01, ${adj(1, 1)} AS s00_11,
         |  ${adj(2, 2)} AS s11_00, ${adj(2, 3)} AS s11_01, ${adj(3, 3)} AS s11_11,
         |  ${adj(0, 2)} AS s01_00, ${adj(0, 3)} AS s01_01,
         |  ${adj(1, 2)} AS s01_10, ${adj(1, 3)} AS s01_11
         |  FROM j1),
         |j3 AS (SELECT *, s00_00*s00_11 - s00_01*s00_01 AS det00,
         |       s11_00*s11_11 - s11_01*s11_01 AS det11 FROM j2),
         |j4 AS (SELECT *, s00_11/det00 AS i00_00, -s00_01/det00 AS i00_01,
         |       s00_00/det00 AS i00_11, s11_11/det11 AS i11_00,
         |       -s11_01/det11 AS i11_01, s11_00/det11 AS i11_11 FROM j3),
         |j5 AS (SELECT *, i00_00*s01_00 + i00_01*s01_10 AS c00,
         |       i00_00*s01_01 + i00_01*s01_11 AS c01,
         |       i00_01*s01_00 + i00_11*s01_10 AS c10,
         |       i00_01*s01_01 + i00_11*s01_11 AS c11 FROM j4),
         |j6 AS (SELECT *, s01_00*c00 + s01_10*c10 AS b00,
         |       s01_00*c01 + s01_10*c11 AS b01,
         |       s01_01*c00 + s01_11*c10 AS b10,
         |       s01_01*c01 + s01_11*c11 AS b11 FROM j5),
         |j7 AS (SELECT *, i11_00*b00 + i11_01*b10 AS a00,
         |       i11_00*b01 + i11_01*b11 AS a01,
         |       i11_01*b00 + i11_11*b10 AS a10,
         |       i11_01*b01 + i11_11*b11 AS a11 FROM j6),
         |j8 AS (SELECT *, a00 + a11 AS tr, a00*a11 - a01*a10 AS dd FROM j7),
         |j9 AS (SELECT *, sqrt(greatest(tr*tr - 4*dd, 0.0)) AS disc FROM j8),
         |jA AS (SELECT *,
         |  least(greatest((tr + disc) / 2, 0.0), 1.0 - 1e-12) AS lam1,
         |  least(greatest((tr - disc) / 2, 0.0), 1.0 - 1e-12) AS lam2 FROM j9),
         |jB AS (SELECT *, -n * (ln(1.0 - lam1) + ln(1.0 - lam2)) AS trace0,
         |       -n * ln(1.0 - lam2) AS trace1 FROM jA)
         |SELECT ROUND(lam1, 6) AS lambda1, ROUND(lam2, 6) AS lambda2,
         |  ROUND(trace0, 6) AS trace0, ROUND(trace1, 6) AS trace1,
         |  CAST(CASE WHEN trace0 < 12.321 THEN 0
         |            WHEN trace1 < 4.130 THEN 1 ELSE 2 END AS BIGINT) AS rank
         |FROM jB""".stripMargin
    })
  )
}
