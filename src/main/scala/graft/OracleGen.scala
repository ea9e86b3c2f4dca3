package graft

/** Generates DuckDB SQL text that solves ordinary least squares with an
  * intercept by unrolled Cholesky factorization of the normal equations.
  *
  * This exists so multi-regressor MLlib OLS fits (`mlr`) can be oracled in
  * portable SQL: DuckDB's `regr_slope` handles one regressor only, but the
  * normal-equation moments (X'X, X'y) are plain SQL aggregates and a k×k
  * Cholesky solve unrolls into a short chain of CTEs. Agreement with MLlib's
  * "normal" solver is ~1e-12 relative, far inside the 6-decimal rounding
  * every oracle output uses.
  *
  * The solve is deliberately emitted as ONE CTE PER STAGE rather than lateral
  * column aliases in a single SELECT: DuckDB binds lateral aliases by textual
  * substitution, so a k=6 triangular solve written with intra-SELECT
  * references expands exponentially and never finishes planning. Chained
  * CTEs bind each intermediate once as a real column.
  *
  * Usage: splice `momentsCte` + `solveCtes` into a WITH chain; the final CTE
  * (`<tag>_fit`, single row) exposes `beta_0` (intercept) and `beta_i` (the
  * coefficient of the i-th regressor, 1-based).
  *
  * It also holds the oracle CTEs the query families share (the monthly
  * orders and segment series, their z-scored forms, the trend+seasonal,
  * blocked-VAR and AR(4) scoring chains).
  */
private[graft] object OracleGen {

  /** CTE computing the normal-equation moments for regressors `xs` (SQL
    * expressions) against target `yExpr` over `fromClause` (may include a
    * WHERE filter): `sa_i_j = Σ x_i·x_j` (lower triangle, x_0 ≡ 1) and
    * `sb_i = Σ x_i·y`. */
  def momentsCte(tag: String, xs: Seq[String], fromClause: String,
                 yExpr: String = "y", keys: Seq[String] = Nil): String = {
    val c = "1.0" +: xs
    val sa = for (i <- c.indices; j <- 0 to i)
      yield s"sum((${c(i)})*(${c(j)})) AS sa_${i}_${j}"
    val sb = c.indices.map(i => s"sum((${c(i)})*($yExpr)) AS sb_$i")
    val grp = if (keys.isEmpty) "" else s" GROUP BY ${keys.mkString(", ")}"
    s"${tag}_m AS (SELECT ${(keys ++ sa ++ sb).mkString(", ")} FROM $fromClause$grp)"
  }

  /** CTE chain solving A·β = b from `<tag>_m` via Cholesky (A = L·L',
    * forward solve L·z = b, backward solve L'·β = z). One CTE per
    * elimination column / solve step; final CTE is `<tag>_fit`. Every step
    * is a row-wise `SELECT *, ...`, so when `momentsCte` grouped by keys
    * (one moments row per key), the chain solves every key's system in the
    * same pass and `<tag>_fit` carries one fit per key. */
  def solveCtes(tag: String, k: Int): String = {
    def a(i: Int, j: Int) = if (i >= j) s"sa_${i}_${j}" else s"sa_${j}_${i}"
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    var prev = s"${tag}_m"
    for (j <- 0 to k) {
      val diag = (0 until j).map(t => s" - l_${j}_${t}*l_${j}_${t}").mkString
      val cols = scala.collection.mutable.ArrayBuffer(s"sqrt(${a(j, j)}$diag) AS l_${j}_${j}")
      for (i <- j + 1 to k) {
        val off = (0 until j).map(t => s" - l_${i}_${t}*l_${j}_${t}").mkString
        cols += s"(${a(i, j)}$off) / sqrt(${a(j, j)}$diag) AS l_${i}_${j}"
      }
      val name = s"${tag}_c$j"
      ctes += s"$name AS (SELECT *, ${cols.mkString(", ")} FROM $prev)"
      prev = name
    }
    for (i <- 0 to k) {
      val fwd = (0 until i).map(t => s" - l_${i}_${t}*z_$t").mkString
      val name = s"${tag}_f$i"
      ctes += s"$name AS (SELECT *, (sb_$i$fwd) / l_${i}_${i} AS z_$i FROM $prev)"
      prev = name
    }
    for (i <- k to 0 by -1) {
      val bwd = (i + 1 to k).map(t => s" - l_${t}_${i}*beta_$t").mkString
      val name = if (i == 0) s"${tag}_fit" else s"${tag}_b$i"
      ctes += s"$name AS (SELECT *, (z_$i$bwd) / l_${i}_${i} AS beta_$i FROM $prev)"
      prev = name
    }
    ctes.mkString(",\n")
  }

  // ---- DuckDB CTEs shared by more than one query family

  /** Shared DuckDB CTE for the monthly orders series (matches ordersMonthly). */
  val S =
    """WITH series AS (
      |  SELECT 'orders' AS series_id,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
      |         ROUND(SUM(o_totalprice), 2) AS y
      |  FROM orders GROUP BY 1, 2
      |)""".stripMargin

  val SEG =
    """WITH series AS (
      |  SELECT c_mktsegment AS series_id,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
      |         ROUND(SUM(o_totalprice), 2) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** The shared blocked-VAR CTE chain over a multi-series `series` CTE:
    * lag table → lag-1 corr screen (rank by |c| desc, src asc; self is
    * rank 0) → long design (k = 4) → per-target pivoted moments → grouped
    * Cholesky solve (`bv_fit`: one β row per target). Spliced by
    * mv_blocked_var (fit check) and mv_blocked_dynamic (recursion). */
  def blockedVarCtes(srcCte: String = "series"): String =
    s"""lg AS (SELECT series_id AS src, ds,
       |       lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS xval FROM $srcCte),
       |pr AS (SELECT t.series_id AS target, l.src, corr(t.y, l.xval) AS c
       |       FROM $srcCte t JOIN lg l USING (ds)
       |       WHERE t.series_id <> l.src AND l.xval IS NOT NULL GROUP BY 1, 2),
       |rk AS (SELECT target, src,
       |       row_number() OVER (PARTITION BY target ORDER BY abs(c) DESC, src ASC) AS r
       |       FROM pr WHERE c IS NOT NULL),
       |blk AS (SELECT series_id AS target, series_id AS src, 0 AS r
       |        FROM (SELECT DISTINCT series_id FROM $srcCte)
       |        UNION ALL SELECT target, src, r FROM rk WHERE r <= 2),
       |dz AS (SELECT b.target, l.ds, b.r AS fi, l.xval AS x
       |       FROM blk b JOIN lg l ON b.src = l.src WHERE l.xval IS NOT NULL
       |       UNION ALL SELECT series_id, ds, 3, 1.0 FROM $srcCte),
       |cm AS (SELECT target, ds FROM dz GROUP BY 1, 2 HAVING count(*) = 4),
       |rws AS (SELECT d.target, d.ds, d.fi, d.x, s.y AS yt
       |        FROM dz d JOIN cm USING (target, ds)
       |        JOIN $srcCte s ON s.series_id = d.target AND s.ds = d.ds),
       |bv_m AS (SELECT a.target,
       |  ${(for (i <- 0 to 3; j <- 0 to i) yield
            s"sum(CASE WHEN a.fi = $i AND b.fi = $j THEN a.x * b.x END) AS sa_${i}_$j")
            .mkString(", ")},
       |  ${(0 to 3).map(i =>
            s"sum(CASE WHEN a.fi = $i AND b.fi = $i THEN a.x * a.yt END) AS sb_$i")
            .mkString(", ")}
       |  FROM rws a JOIN rws b ON a.target = b.target AND a.ds = b.ds
       |  GROUP BY a.target),
       |${OracleGen.solveCtes("bv", 3)}""".stripMargin

  /** Grouped AR(4)-OLS holdout scoring CTEs over a multi-series source CTE
    * `src` (series_id, ds, y — null y rows allowed, they just can't train):
    * per-series t/n indices, last-12 holdout, grouped Cholesky fit, and the
    * per-series test RMSE in `<tag>_sc(series_id, r)`. The grouped twin of
    * [[ar4ScoreCtes]]. */
  def ar4ScoreBySeriesCtes(tag: String, src: String): String = {
    val lags = (1 to 4).map(i => s"a$i")
    val pred = "beta_0" + lags.zipWithIndex.map { case (x, i) => s" + beta_${i + 1}*$x" }.mkString
    s"""${tag}_b AS MATERIALIZED (SELECT series_id, ds, y,
       |  CAST(row_number() OVER (PARTITION BY series_id ORDER BY ds) AS DOUBLE) AS t,
       |  ${(1 to 4).map(i =>
            s"lag(y, $i) OVER (PARTITION BY series_id ORDER BY ds) AS a$i").mkString(", ")}
       |  FROM $src),
       |${tag}_n AS (SELECT series_id, count(*) AS n FROM ${tag}_b GROUP BY 1),
       |${tag}_tr AS (SELECT b.* FROM ${tag}_b b JOIN ${tag}_n USING (series_id)
       |  WHERE t <= n - 12 AND y IS NOT NULL
       |    AND ${lags.map(l => s"$l IS NOT NULL").mkString(" AND ")}),
       |${tag}_te AS (SELECT b.* FROM ${tag}_b b JOIN ${tag}_n USING (series_id)
       |  WHERE t > n - 12 AND ${lags.map(l => s"$l IS NOT NULL").mkString(" AND ")}),
       |${OracleGen.momentsCte(tag, lags, s"${tag}_tr", keys = Seq("series_id"))},
       |${OracleGen.solveCtes(tag, 4)},
       |${tag}_sc AS MATERIALIZED (SELECT te.series_id,
       |  sqrt(avg(pow(y - ($pred), 2))) AS r
       |  FROM ${tag}_te te JOIN ${tag}_fit USING (series_id)
       |  GROUP BY te.series_id)""".stripMargin
  }

  /** [[SEG]] with per-series z-scoring (the grouped twin of [[ZS]]) plus the
    * raw per-series minimum (`mn`) for log-gate decisions. */
  val ZSEG =
    """WITH base AS (
      |  SELECT c_mktsegment AS series_id,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
      |         ROUND(SUM(o_totalprice), 2) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |zp AS (SELECT series_id, avg(y) AS mu, stddev_samp(y) AS sd, min(y) AS miny
      |       FROM base GROUP BY 1),
      |series AS (SELECT base.series_id, ds, (y - mu) / sd AS y
      |           FROM base JOIN zp USING (series_id))""".stripMargin

  /** Shared DuckDB CTE: z-scored monthly orders series. */
  val ZS =
    """WITH base AS (
      |  SELECT 'orders' AS series_id,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
      |         ROUND(SUM(o_totalprice), 2) AS y
      |  FROM orders GROUP BY 1, 2),
      |zp AS (SELECT avg(y) AS mu, stddev_samp(y) AS sd FROM base),
      |series AS (SELECT series_id, ds, (y - mu) / sd AS y FROM base, zp)""".stripMargin

  /** [[ZS]] with RECURSIVE enabled (DuckDB scopes the keyword to the whole
    * WITH clause) for oracles that carry sequential state in a recursive CTE. */
  val ZSR = ZS.replaceFirst("WITH ", "WITH RECURSIVE ")

  /** Emits the CTE chain scoring one state CTE (`src`, columns ds/y) with
    * the AR(4)-OLS holdout RMSE of [[AutoSelect.scoreFeatures]]: train =
    * all-but-last-12 rows with complete lags, predict the last 12 with
    * actual lags. Final CTE `<tag>_sc` has one row, column `r`. */
  def ar4ScoreCtes(tag: String, src: String): String = {
    val lags = (1 to 4).map(i => s"a$i")
    val pred = "beta_0" + lags.zipWithIndex.map { case (x, i) => s" + beta_${i + 1}*$x" }.mkString
    s"""${tag}_b AS MATERIALIZED (SELECT ds, y,
       |  CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t,
       |  ${(1 to 4).map(i => s"lag(y, $i) OVER (ORDER BY ds) AS a$i").mkString(", ")}
       |  FROM $src),
       |${tag}_n AS (SELECT count(*) AS n FROM ${tag}_b),
       |${tag}_tr AS (SELECT b.* FROM ${tag}_b b, ${tag}_n
       |  WHERE t <= n - 12 AND ${lags.map(l => s"$l IS NOT NULL").mkString(" AND ")}),
       |${tag}_te AS (SELECT b.* FROM ${tag}_b b, ${tag}_n WHERE t > n - 12),
       |${OracleGen.momentsCte(tag, lags, s"${tag}_tr")},
       |${OracleGen.solveCtes(tag, 4)},
       |${tag}_sc AS MATERIALIZED (SELECT sqrt(avg(pow(y - ($pred), 2))) AS r FROM ${tag}_te, ${tag}_fit)""".stripMargin
  }

  /** Shared trend+seasonal-OLS scoring SQL: train = all but last 12 observed,
    * horizon = 12 future months; `tail` appends the final SELECT. */
  def trendSeasonalSql(tail: String): String =
    s"""$S, s2 AS (SELECT series_id, ds, y,
       |    CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t FROM series),
       |nn AS (SELECT count(*) AS n, max(ds) AS last_ds FROM s2),
       |train AS (SELECT s2.* FROM s2, nn WHERE t <= n - 12),
       |fit AS (SELECT regr_slope(y, t) AS b, regr_intercept(y, t) AS a FROM train),
       |eff AS (SELECT month(ds) AS m, avg(y - (a + b * t)) AS e
       |        FROM train, fit GROUP BY 1),
       |allrows AS (
       |  SELECT series_id, ds, y, t, t > (SELECT n FROM nn) - 12 AS is_test,
       |         FALSE AS is_future FROM s2
       |  UNION ALL
       |  SELECT 'orders', CAST(last_ds + to_months(CAST(i AS INT)) AS DATE),
       |         CAST(NULL AS DOUBLE), n + i, FALSE, TRUE
       |  FROM nn, generate_series(1, 12) t(i)),
       |scored AS (
       |  SELECT r.series_id, r.ds, r.y, r.is_test, r.is_future,
       |         a + b * r.t + coalesce(eff.e, 0.0) AS yhat
       |  FROM allrows r CROSS JOIN fit LEFT JOIN eff ON eff.m = month(r.ds))
       |$tail""".stripMargin
}
