package graft

/** The DuckDB oracle CTE library: every CTE chain that more than one query
  * oracle uses is written once here and spliced into the oracle text, never
  * pasted. Generators take only SQL fragments and constants — an oracle is
  * the reference a query is hash-checked against, so it is never derived
  * from the Spark builder it checks. "Upstream" names the CTE a generator
  * reads; "→" names the final CTE (or the SQL) it emits.
  *
  * Least squares
  *  - [[momentsCte]]: normal-equation moments of `xs` against `y` over a
  *    FROM clause (optionally grouped by keys) → `<tag>_m`.
  *  - [[solveCtes]]: unrolled Cholesky solve of `<tag>_m` → `<tag>_fit`
  *    (`beta_0` intercept, `beta_i` per regressor; one row per key).
  *  - [[linPred]]: the prediction `beta_0 + beta_1*x1 + …` over a fit's betas.
  *
  * Series bases (each starts a WITH clause)
  *  - [[S]] / [[SEG]]: monthly orders / market-segment revenue → `series`.
  *  - [[ZS]] / [[ZSR]] (RECURSIVE) / [[ZSEG]]: z-scored bases → `series`
  *    (ZSEG keeps `zp(series_id, mu, sd, miny)`).
  *  - [[monthlyOrders]]: the monthly `o_totalprice` SELECT those wrap.
  *  - [[NationMonthly]]: monthly net revenue per customer nation (SELECT).
  *  - [[zScoreCtes]] / [[zScoreBySeriesCtes]]: upstream `(series_id, ds, y)`
  *    → z-scored `<out>` over one / per series.
  *  - [[CommonSpanCtes]]: upstream multi-series `series` → `series2`, the
  *    dates every series covers.
  *
  * Trend index, holdout, horizon
  *  - [[trendIndexCte]]: upstream `series` → `s2(series_id, ds, y, t, …)`,
  *    t = 1-based row index (per series when grouped).
  *  - [[nnCte]]: upstream `s2` (or any ds-keyed CTE) → `nn(n, ld)`, row
  *    count and last date (per series when grouped).
  *  - [[holdoutCtes]]: upstream `s2` → `nn`, `tr` (t ≤ n − h), `te` (t > n − h).
  *  - [[horizonSql]]: upstream `obs` + `nn(ld)` → `fut` and the final
  *    `SELECT * FROM obs UNION ALL SELECT * FROM fut`.
  *  - [[HorizonT]]: the 12 future steps with their trend index `t = n + i`.
  *  - [[trendSeasonalSql]]: trend + month-effect OLS over [[S]] (or another
  *    base), holdout flag and 12-month horizon → `scored`, then `tail`.
  *
  * Forecasting chains
  *  - [[ar4ScoreCtes]] / [[ar4ScoreBySeriesCtes]]: upstream state CTE
  *    `(ds, y)` → AR(4)-OLS holdout RMSE `<tag>_sc`.
  *  - [[arma11Ctes]]: upstream `(series_id, ds, <y>)` → two-stage
  *    Hannan–Rissanen ARMA(1,1): `lagd`, `er` (innovations), `e2`, `<t2>_fit`.
  *  - [[Ar3DynamicSql]]: AR(3) OLS over [[ZSR]] + 12-step recursion (SQL).
  *  - [[SnaiveBacktestCtes]]: upstream `series` → 3-iteration seasonal-naive
  *    backtest `te(series_id, it, y, yhat)`.
  *  - [[adfCtes]]: upstream `(series_id, ds, y)` → ADF(p=1) statistic
  *    `adf(series_id, t)` (per series when grouped).
  *  - [[AcfCtes]] + [[acfPairs]]: upstream `series` → centered `c(series_id,
  *    rn, c)`, `d(d)`, and the lag self-join for Σ c_t·c_(t−k).
  *  - [[HoltWintersInitCtes]]: upstream `series` → `agg(ys, n, ld)` and
  *    the first-cycle Holt-Winters seed `init`.
  *  - [[boxCox]] / [[invBoxCox]] / [[yeoJohnson]]: the transforms at a λ.
  *  - [[lambdaMleCtes]]: upstream `series` → λ grid −2…2 profile MLE `best(l)`.
  *  - [[tbatsCurveCtes]]: [[S]] → Box-Cox λ, `s2(…, yb, t)`, `nn`, trend +
  *    Fourier OLS `tb_fit`.
  *  - [[blockedVarCtes]]: upstream multi-series CTE → blocked-VAR `bv_fit`.
  *  - [[corrScreenCtes]]: upstream multi-series CTE → lag-1 corr screen
  *    `blk(target, src, r)`.
  *
  * Text, embeddings, events
  *  - [[winnowCtes]]: upstream `dd(doc_id, text)` → char-8-gram winnowing
  *    fingerprints `sel(doc_id, h)`.
  *  - [[jaccardInterCtes]]: upstream shingles `ds` → df-capped `dsc`, `sz`,
  *    pair intersections `inter(doc_a, doc_b, n_common)`.
  *  - [[spanIslandCtes]]: upstream window starts `sh` → duplicated-span
  *    islands `isl(doc_id, pos, grp)`.
  *  - [[temperatureMixCtes]]: upstream documents CTE → stratified sample
  *    thresholds `f<sfx>` and md5 buckets `h<sfx>`.
  *  - [[TokenBudgetCtes]]: upstream `t(source, nt)` → per-source token
  *    budgets `p`.
  *  - [[hammingPairsSql]]: a 64-bit fingerprint SQL → banded Hamming ≤ 3
  *    pairs (SQL).
  *  - [[TrigramVecCtes]]: `documents` → char-trigram vectors `vec`, `nrm`.
  *  - [[BigramPplCtes]]: `documents` → MLE bigram perplexity `sc`.
  *  - [[shingleOverlapSql]]: upstream shingles `ds` → benchmark overlap
  *    pairs (SQL tail).
  *  - [[DhashBitsCtes]] + [[bitWords]]: upstream pixels `px` → dHash `bits`
  *    and their hi/lo words.
  *  - [[EmbDims]]: `embeddings` → `ed(vec_id, i, v)`, one row per dimension.
  *  - [[lshBucketCtes]]: upstream `ed` → random-hyperplane `bk(vec_id, bucket)`.
  *  - [[embCosineTopK]]: `embeddings` → cosine top-k neighbours (SQL); the
  *    candidate `dots(qa, qb, d)` default to all pairs of the first 50 ids.
  *  - [[sessionFlagCtes]]: `events` → `flag(…, ms, prev_ms, new_s)`, the
  *    30-minute gap split; [[sessionizeCtes]] adds `sess(…, session_num)`;
  *    [[SessionsSql]] aggregates `sess` to one row per session.
  *  - [[kmvUsersSql]]: `events` → KMV distinct-user estimate per hour (SQL).
  *  - [[HourlyEventsSql]] / [[ViewClickPairsSql]]: the hourly aggregation and
  *    the 24 h view → click pairs, each the oracle of a batch query and its
  *    streaming twin (SQL).
  */
private[graft] object OracleGen {

  // ---- least squares

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
    * same pass and `<tag>_fit` carries one fit per key.
    *
    * The solve is deliberately ONE CTE PER STAGE rather than lateral column
    * aliases in a single SELECT: DuckDB binds lateral aliases by textual
    * substitution, so a k=6 triangular solve written with intra-SELECT
    * references expands exponentially and never finishes planning. Agreement
    * with MLlib's "normal" solver is ~1e-12 relative. */
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

  /** `beta_0 + beta_1*x1 + … + beta_k*xk`, left to right. */
  def linPred(xs: Seq[String]): String =
    ("beta_0" +: xs.zipWithIndex.map { case (x, i) => s"beta_${i + 1}*$x" }).mkString(" + ")

  // ---- series bases

  /** Monthly revenue `(series_id, ds, y)` of `o_totalprice` keyed by `id`
    * over `from` (matches SeriesFrame.ordersMonthly / segmentMonthly). */
  def monthlyOrders(id: String, from: String = "orders", where: String = ""): String =
    s"""SELECT $id AS series_id,
       |         CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
       |         ROUND(SUM(o_totalprice), 2) AS y
       |  FROM $from$where GROUP BY 1, 2""".stripMargin

  val SegmentJoin = "orders JOIN customer ON o_custkey = c_custkey"

  /** Monthly net revenue per customer nation in integer cents per row
    * (matches SeriesFrame.nationMonthly). */
  val NationMonthly =
    """SELECT n_name AS series_id,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
      |    ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0, 2) AS y
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2""".stripMargin

  /** `p(mu, sd)` over `src`, then `out`: src z-scored as one series. */
  def zScoreCtes(src: String, out: String, p: String = "zp"): String =
    s"""$p AS (SELECT avg(y) AS mu, stddev_samp(y) AS sd FROM $src),
       |$out AS (SELECT series_id, ds, (y - mu) / sd AS y FROM $src, $p)""".stripMargin

  /** `zp(series_id, mu, sd, miny)` over `src`, then `out`: src z-scored per
    * series (miny feeds log-gate decisions). */
  def zScoreBySeriesCtes(src: String, out: String): String =
    s"""zp AS (SELECT series_id, avg(y) AS mu, stddev_samp(y) AS sd, min(y) AS miny
       |       FROM $src GROUP BY 1),
       |$out AS (SELECT s.series_id, s.ds, (s.y - zp.mu) / zp.sd AS y
       |       FROM $src s JOIN zp USING (series_id))""".stripMargin

  /** Monthly orders series. */
  val S = s"WITH series AS (${monthlyOrders("'orders'")})"

  /** Monthly revenue per market segment. */
  val SEG = s"WITH series AS (${monthlyOrders("c_mktsegment", SegmentJoin)})"

  /** Z-scored monthly orders series. */
  val ZS = s"WITH base AS (${monthlyOrders("'orders'")}),\n${zScoreCtes("base", "series")}"

  /** [[ZS]] with RECURSIVE enabled (DuckDB scopes the keyword to the whole
    * WITH clause) for oracles that carry sequential state in a recursive CTE. */
  val ZSR = ZS.replaceFirst("WITH ", "WITH RECURSIVE ")

  /** [[SEG]] z-scored per series (the grouped twin of [[ZS]]); `zp` keeps
    * each series' raw minimum `miny`. */
  val ZSEG =
    s"WITH base AS (${monthlyOrders("c_mktsegment", SegmentJoin)}),\n${zScoreBySeriesCtes("base", "series")}"

  /** `series2`: the rows of multi-series `series` inside the date span every
    * series covers. */
  val CommonSpanCtes =
    """bounds AS (SELECT max(mn) AS lo, min(mx) AS hi FROM
      |  (SELECT series_id, min(ds) AS mn, max(ds) AS mx FROM series GROUP BY 1)),
      |series2 AS (SELECT s.* FROM series s, bounds WHERE s.ds BETWEEN lo AND hi)""".stripMargin

  // ---- trend index, holdout, horizon

  /** `name(series_id, ds, y, t<cols>)` over `src`: t = row_number by ds (per
    * series when `grouped`) cast to `tType`; `cols` starts with ", ". */
  def trendIndexCte(cols: String = "", tType: String = "DOUBLE", src: String = "series",
                    grouped: Boolean = false, name: String = "s2"): String = {
    val part = if (grouped) "PARTITION BY series_id " else ""
    s"""$name AS (SELECT series_id, ds, y,
       |    CAST(row_number() OVER (${part}ORDER BY ds) AS $tType) AS t$cols FROM $src)""".stripMargin
  }

  /** `nn(n, ld)`: row count and last date of `src` (per series when grouped). */
  def nnCte(src: String = "s2", grouped: Boolean = false): String =
    if (grouped) s"nn AS (SELECT series_id, count(*) AS n, max(ds) AS ld FROM $src GROUP BY 1)"
    else s"nn AS (SELECT count(*) AS n, max(ds) AS ld FROM $src)"

  /** [[nnCte]] over `s2`, then the holdout split of `s2`: `tr` = t ≤ n − h
    * (narrowed by `trWhere`, which starts with " AND "), `te` = t > n − h. */
  def holdoutCtes(h: Int = 12, trWhere: String = ""): String =
    s"""${nnCte()},
       |tr AS (SELECT s2.* FROM s2, nn WHERE t <= n - $h$trWhere),
       |te AS (SELECT s2.* FROM s2, nn WHERE t > n - $h)""".stripMargin

  /** The future rows `fut(series_id, ds, y = NULL, yhat, is_future)` at
    * `ld + step(i)` over `from` (which binds `ld` and `i`), then the final
    * `obs UNION ALL fut`; `obs` must carry the same five columns. */
  def horizonSql(yhat: String, from: String, id: String = "'orders'",
                 step: String = "to_months(i::INT)"): String =
    s"""fut AS (SELECT $id AS series_id, CAST(ld + $step AS DATE) AS ds,
       |        CAST(NULL AS DOUBLE) AS y, $yhat AS yhat, TRUE AS is_future
       |        FROM $from)
       |SELECT * FROM obs UNION ALL SELECT * FROM fut""".stripMargin

  /** The 12 future steps `i` with trend index `t = n + i` (binds `n`). */
  val HorizonT = "LATERAL (SELECT i, CAST(n + i AS DOUBLE) AS t FROM generate_series(1, 12) g(i))"

  /** Trend+seasonal-OLS scoring over `base` (a WITH clause ending in
    * `series`): train = all but last 12 observed, horizon = 12 future
    * months → `scored(series_id, ds, y, is_test, is_future, yhat)`; `tail`
    * appends the final SELECT. */
  def trendSeasonalSql(tail: String, base: String = S): String =
    s"""$base, ${trendIndexCte()},
       |${holdoutCtes()},
       |fit AS (SELECT regr_slope(y, t) AS b, regr_intercept(y, t) AS a FROM tr),
       |eff AS (SELECT month(ds) AS m, avg(y - (a + b * t)) AS e
       |        FROM tr, fit GROUP BY 1),
       |allrows AS (
       |  SELECT series_id, ds, y, t, t > (SELECT n FROM nn) - 12 AS is_test,
       |         FALSE AS is_future FROM s2
       |  UNION ALL
       |  SELECT 'orders', CAST(ld + to_months(CAST(i AS INT)) AS DATE),
       |         CAST(NULL AS DOUBLE), n + i, FALSE, TRUE
       |  FROM nn, generate_series(1, 12) t(i)),
       |scored AS (
       |  SELECT r.series_id, r.ds, r.y, r.is_test, r.is_future,
       |         a + b * r.t + coalesce(eff.e, 0.0) AS yhat
       |  FROM allrows r CROSS JOIN fit LEFT JOIN eff ON eff.m = month(r.ds))
       |$tail""".stripMargin

  // ---- forecasting chains

  /** Emits the CTE chain scoring one state CTE (`src`, columns ds/y) with
    * the AR(4)-OLS holdout RMSE of [[AutoSelect.scoreFeatures]]: train =
    * all-but-last-12 rows with complete lags, predict the last 12 with
    * actual lags. Final CTE `<tag>_sc` has one row, column `r`. */
  def ar4ScoreCtes(tag: String, src: String): String = {
    val lags = (1 to 4).map(i => s"a$i")
    s"""${tag}_b AS MATERIALIZED (SELECT ds, y,
       |  CAST(row_number() OVER (ORDER BY ds) AS DOUBLE) AS t,
       |  ${(1 to 4).map(i => s"lag(y, $i) OVER (ORDER BY ds) AS a$i").mkString(", ")}
       |  FROM $src),
       |${tag}_n AS (SELECT count(*) AS n FROM ${tag}_b),
       |${tag}_tr AS (SELECT b.* FROM ${tag}_b b, ${tag}_n
       |  WHERE t <= n - 12 AND ${lags.map(l => s"$l IS NOT NULL").mkString(" AND ")}),
       |${tag}_te AS (SELECT b.* FROM ${tag}_b b, ${tag}_n WHERE t > n - 12),
       |${momentsCte(tag, lags, s"${tag}_tr")},
       |${solveCtes(tag, 4)},
       |${tag}_sc AS MATERIALIZED (SELECT sqrt(avg(pow(y - (${linPred(lags)}), 2))) AS r FROM ${tag}_te, ${tag}_fit)""".stripMargin
  }

  /** Grouped AR(4)-OLS holdout scoring CTEs over a multi-series source CTE
    * `src` (series_id, ds, y — null y rows allowed, they just can't train):
    * per-series t/n indices, last-12 holdout, grouped Cholesky fit, and the
    * per-series test RMSE in `<tag>_sc(series_id, r)`. The grouped twin of
    * [[ar4ScoreCtes]]. */
  def ar4ScoreBySeriesCtes(tag: String, src: String): String = {
    val lags = (1 to 4).map(i => s"a$i")
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
       |${momentsCte(tag, lags, s"${tag}_tr", keys = Seq("series_id"))},
       |${solveCtes(tag, 4)},
       |${tag}_sc AS MATERIALIZED (SELECT te.series_id,
       |  sqrt(avg(pow(y - (${linPred(lags)}), 2))) AS r
       |  FROM ${tag}_te te JOIN ${tag}_fit USING (series_id)
       |  GROUP BY te.series_id)""".stripMargin
  }

  /** Hannan–Rissanen ARMA(1,1) over `src(series_id, ds, …)` with value
    * expression `y`: stage 1 long-AR(6) OLS (`<t1>_fit`) → innovations
    * `er(…, e)`; stage 2 OLS of y on (`ar1` = y-lag, `elag` = innovation
    * lag) in `e2` → `<t2>_fit`. */
  def arma11Ctes(src: String, y: String, t1: String, t2: String): String = {
    val xs = (1 to 6).map(i => s"x$i")
    s"""lagd AS (SELECT series_id, ds, $y AS y,
       |  ${(1 to 6).map(i => s"lag($y, $i) OVER (ORDER BY ds) AS x$i").mkString(", ")}
       |  FROM $src),
       |${momentsCte(t1, xs, "lagd WHERE x6 IS NOT NULL")},
       |${solveCtes(t1, 6)},
       |er AS (SELECT lagd.*, CASE WHEN x6 IS NOT NULL THEN y - (${linPred(xs)})
       |  END AS e FROM lagd, ${t1}_fit),
       |e2 AS (SELECT series_id, ds, y, x1 AS ar1,
       |       lag(e, 1) OVER (ORDER BY ds) AS elag FROM er),
       |${momentsCte(t2, Seq("ar1", "elag"), "e2 WHERE elag IS NOT NULL")},
       |${solveCtes(t2, 2)}""".stripMargin
  }

  /** AR(3) OLS (Cholesky) over [[ZSR]] + 12-step dynamic recursion carrying
    * the last three predictions through a recursive CTE. */
  val Ar3DynamicSql: String =
    s"""$ZSR,
       |lagd AS (SELECT series_id, ds, y, lag(y, 1) OVER win AS x1,
       |         lag(y, 2) OVER win AS x2, lag(y, 3) OVER win AS x3
       |         FROM series WINDOW win AS (ORDER BY ds)),
       |${momentsCte("a3", Seq("x1", "x2", "x3"), "lagd WHERE x3 IS NOT NULL")},
       |${solveCtes("a3", 3)},
       |f AS (SELECT beta_0, beta_1, beta_2, beta_3 FROM a3_fit),
       |tl AS (SELECT list(y ORDER BY ds DESC) AS t3
       |       FROM (SELECT y, ds FROM series ORDER BY ds DESC LIMIT 3)),
       |${nnCte("series")},
       |rec AS (
       |  SELECT 0 AS i, t3[1] AS p1, t3[2] AS p2, t3[3] AS p3 FROM tl
       |  UNION ALL
       |  SELECT rec.i + 1, beta_0 + beta_1*rec.p1 + beta_2*rec.p2 + beta_3*rec.p3,
       |         rec.p1, rec.p2
       |  FROM rec, f WHERE rec.i < 12)
       |SELECT 'orders' AS series_id, CAST(ld + to_months(i::INT) AS DATE) AS ds,
       |       ROUND(p1, 6) AS yhat
       |FROM rec, nn WHERE i >= 1""".stripMargin

  /** Seasonal-naive backtest over `series`: iteration `it` ∈ 0..2 chops the
    * last 6·it rows and tests the 12 before the cut against y(t − 12) →
    * `te(series_id, it, y, yhat)`. */
  val SnaiveBacktestCtes: String =
    s"""${trendIndexCte(tType = "BIGINT")},
       |${nnCte()},
       |iters AS (SELECT i AS it FROM generate_series(0, 2) g(i)),
       |fr AS (SELECT s2.*, it, n FROM s2, iters, nn WHERE t <= n - it * 6),
       |te AS (SELECT fr.series_id, fr.it, fr.y, b.y AS yhat
       |       FROM fr JOIN s2 b ON b.t = fr.t - 12
       |       WHERE fr.t > fr.n - fr.it * 6 - 12)""".stripMargin

  /** Additive Holt-Winters seed over `series` (m = 12): `s2(…, t INT)` →
    * `agg(ys, n, ld)`, the values in ds order → `init(n, ld, m1, m2, b0,
    * seas0)`, the classical first-cycle level/trend/season init. */
  val HoltWintersInitCtes: String =
    s"""${trendIndexCte(tType = "INT")},
       |agg AS (SELECT list(y ORDER BY ds) AS ys, CAST(count(*) AS INT) AS n,
       |        max(ds) AS ld FROM s2),
       |init AS (SELECT n, ld,
       |         (${(1 to 12).map(i => s"ys[$i]").mkString(" + ")}) / 12.0 AS m1,
       |         (${(13 to 24).map(i => s"ys[$i]").mkString(" + ")}) / 12.0 AS m2,
       |         (m2 - m1) / 12.0 AS b0,
       |         list_transform(ys[1:12], s -> s - m1) AS seas0 FROM agg)""".stripMargin

  /** ADF(p=1) over `src(series_id, ds, y)`: OLS of Δy on [1, y_(t−1),
    * Δy_(t−1)] via Cholesky (`ad_fit`); the γ standard error needs
    * (X'X)⁻¹[1][1], from the 3×3 cofactor → `adf(series_id, t)`, one row per
    * series when `grouped`, else one row. */
  def adfCtes(src: String, grouped: Boolean): String = {
    val w = if (grouped) "PARTITION BY series_id ORDER BY ds" else "ORDER BY ds"
    val ex =
      if (grouped) "SELECT series_id, sum(dy * dy) AS syy, CAST(count(*) AS DOUBLE) AS n FROM rws GROUP BY 1"
      else "SELECT sum(dy * dy) AS syy, CAST(count(*) AS DOUBLE) AS n, max(series_id) AS series_id FROM rws"
    s"""r0 AS (SELECT series_id, ds, y,
       |       y - lag(y) OVER ($w) AS dy, lag(y) OVER ($w) AS ylag FROM $src),
       |r1 AS (SELECT *, lag(dy) OVER ($w) AS dy1 FROM r0),
       |rws AS (SELECT * FROM r1
       |        WHERE dy IS NOT NULL AND ylag IS NOT NULL AND dy1 IS NOT NULL),
       |${momentsCte("ad", Seq("ylag", "dy1"), "rws", yExpr = "dy",
            keys = if (grouped) Seq("series_id") else Nil)},
       |${solveCtes("ad", 2)},
       |ex AS ($ex),
       |fin AS MATERIALIZED (SELECT series_id,
       |  sa_0_0 * (sa_1_1 * sa_2_2 - sa_2_1 * sa_2_1)
       |  - sa_1_0 * (sa_1_0 * sa_2_2 - sa_2_1 * sa_2_0)
       |  + sa_2_0 * (sa_1_0 * sa_2_1 - sa_1_1 * sa_2_0) AS det,
       |  (sa_0_0 * sa_2_2 - sa_2_0 * sa_2_0) AS c11,
       |  syy - (beta_0 * sb_0 + beta_1 * sb_1 + beta_2 * sb_2) AS rss,
       |  n, beta_1
       |  FROM ad_fit ${if (grouped) "JOIN ex USING (series_id)" else ", ex"}),
       |adf AS (SELECT series_id, beta_1 / sqrt(rss / (n - 3) * (c11 / det)) AS t FROM fin)""".stripMargin
  }

  /** ACF base over one ordered `series`: `s2(…, rn)`, `mu(mu, n)`, centered
    * `c(series_id, rn, c)` and `d(d)` = Σ c². */
  val AcfCtes =
    """s2 AS (SELECT series_id, ds, y, row_number() OVER (ORDER BY ds) AS rn FROM series),
      |mu AS (SELECT avg(y) AS mu, count(*) AS n FROM s2),
      |c AS (SELECT series_id, rn, y - mu AS c FROM s2, mu),
      |d AS (SELECT sum(c * c) AS d FROM c)""".stripMargin

  /** FROM body pairing each centered row `a` with `b` k rows earlier, for
    * every lag `k` of the relation `lags` (aliased `g(k)`). */
  def acfPairs(lags: String): String =
    s"""$lags g(k)
       |  JOIN c a ON a.rn > g.k
       |  JOIN c b ON b.rn = a.rn - g.k AND b.series_id = a.series_id""".stripMargin

  /** Box-Cox of `y` at λ = `l` (log at 0). */
  def boxCox(y: String, l: String): String =
    s"CASE WHEN $l = 0.0 THEN ln($y) ELSE (pow($y, $l) - 1) / $l END"

  /** Inverse Box-Cox of `x` at the chosen λ `b.l` (binds `best b`). */
  def invBoxCox(x: String): String =
    s"CASE WHEN b.l = 0.0 THEN exp($x) ELSE pow(($x) * b.l + 1, 1.0 / b.l) END"

  /** Yeo-Johnson of `y` at λ = `l`. */
  def yeoJohnson(y: String, l: String): String =
    s"""CASE WHEN $y >= 0 THEN
       |    CASE WHEN $l = 0.0 THEN ln($y + 1) ELSE (pow($y + 1, $l) - 1) / $l END
       |  ELSE
       |    CASE WHEN $l = 2.0 THEN -ln(-$y + 1)
       |         ELSE -(pow(-$y + 1, 2 - $l) - 1) / (2 - $l) END
       |  END""".stripMargin

  /** λ grid −2.0…2.0 step 0.1 over `series`: transform `psi` (an expression
    * over `s.y` and `c.l`), profile log-likelihood −(n/2)·ln(var ψ) +
    * (λ − 1)·Σ `jacobian` (over `y`), argmax with the smallest-λ tie-break
    * (the Scala candidates order) → `best(l)`. */
  def lambdaMleCtes(psi: String, jacobian: String): String =
    s"""cands AS (SELECT i / 10.0 AS l FROM generate_series(-20, 20) g(i)),
       |bcp AS (SELECT c.l, $psi AS p FROM series s CROSS JOIN cands c),
       |slog AS (SELECT sum($jacobian) AS sl, CAST(count(*) AS DOUBLE) AS n FROM series),
       |vv AS (SELECT l, sum(p*p)/count(*) - pow(sum(p)/count(*), 2) AS v
       |       FROM bcp GROUP BY l),
       |ll AS (SELECT l, CASE WHEN v <= 0 THEN -1e308
       |       ELSE -(n/2.0) * ln(v) + (l - 1.0) * sl END AS ll FROM vv, slog),
       |best AS (SELECT l FROM ll ORDER BY ll DESC, l ASC LIMIT 1)""".stripMargin

  /** tbats_like's curve over [[S]]: Box-Cox λ MLE (engine tie-break: earlier
    * candidate = l ASC) → `s2(series_id, ds, y, yb, t)` → `nn` → trend +
    * Fourier OLS of yb on `xs` → `tb_fit`. */
  def tbatsCurveCtes(xs: Seq[String]): String =
    s"""$S,
       |${lambdaMleCtes(boxCox("s.y", "c.l"), "ln(y)")},
       |s2 AS (SELECT s.series_id, s.ds, s.y, ${boxCox("s.y", "b.l")} AS yb,
       |  CAST(row_number() OVER (ORDER BY s.ds) AS DOUBLE) AS t
       |  FROM series s, best b),
       |${nnCte()},
       |${momentsCte("tb", xs, "s2", yExpr = "yb")},
       |${solveCtes("tb", xs.size)}""".stripMargin

  /** The lag-1 cross-correlation screen over a multi-series `src`: lag table
    * `lg(src, ds, xval)` → corr of each target with each other series' lag
    * (`cut` narrows, starting with " AND ") → rank by |c| desc, src asc →
    * `blk(target, src, r)`: self at rank 0 plus the top `keep` sources. */
  def corrScreenCtes(src: String, keep: Int, cut: String = ""): String =
    s"""lg AS (SELECT series_id AS src, ds,
       |       lag(y) OVER (PARTITION BY series_id ORDER BY ds) AS xval FROM $src),
       |pr AS (SELECT t.series_id AS target, l.src, corr(t.y, l.xval) AS c
       |       FROM $src t JOIN lg l USING (ds)
       |       WHERE t.series_id <> l.src AND l.xval IS NOT NULL GROUP BY 1, 2),
       |rk AS (SELECT target, src,
       |       row_number() OVER (PARTITION BY target ORDER BY abs(c) DESC, src ASC) AS r
       |       FROM pr WHERE c IS NOT NULL$cut),
       |blk AS (SELECT series_id AS target, series_id AS src, 0 AS r
       |        FROM (SELECT DISTINCT series_id FROM $src)
       |        UNION ALL SELECT target, src, r FROM rk WHERE r <= $keep)""".stripMargin

  /** The shared blocked-VAR CTE chain over a multi-series `series` CTE:
    * [[corrScreenCtes]] (top 2) → long design (k = 4) → per-target pivoted
    * moments → grouped Cholesky solve (`bv_fit`: one β row per target).
    * Spliced by mv_blocked_var (fit check) and mv_blocked_dynamic (recursion). */
  def blockedVarCtes(srcCte: String = "series"): String =
    s"""${corrScreenCtes(srcCte, 2)},
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
       |${solveCtes("bv", 3)}""".stripMargin

  // ---- text, embeddings, events

  /** Winnowing over `dd(doc_id, text)` (≥ 8 chars): base-31 mod 2^20
    * polynomial over char 8-grams, window min of h·2^32 + (2^32 − 1 − p)
    * over w = 4 → selected positions `sel0` → `sel(doc_id, h)`, the md5
    * prefix of each selected 8-gram (one row per doc and hash when
    * `distinct`, else per position). */
  def winnowCtes(distinct: Boolean): String = {
    val poly = (0 to 7).map { j =>
      val c = s"CAST(ascii(substr(text, ${if (j == 0) "p" else s"p + $j"}, 1)) AS BIGINT)"
      if (j == 7) c else s"$c * ${BigInt(31).pow(7 - j)}"
    }.mkString("\n       + ")
    s"""g AS (SELECT doc_id, unnest(range(1, length(text) - 6)) AS p, text FROM dd),
       |h AS (SELECT doc_id, CAST(p AS BIGINT) AS p,
       |        ($poly) % 1048576 AS h
       |      FROM g),
       |k2 AS (SELECT doc_id, p, h, h * 4294967296 + (4294967295 - p) AS kk FROM h),
       |w2 AS (SELECT doc_id,
       |         min(kk) OVER (PARTITION BY doc_id ORDER BY p
       |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
       |         count(*) OVER (PARTITION BY doc_id ORDER BY p
       |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
       |       FROM k2),
       |sel0 AS (SELECT DISTINCT doc_id, 4294967295 - (wkey % 4294967296) AS p
       |         FROM w2 WHERE cnt = 4),
       |sel AS (SELECT ${if (distinct) "DISTINCT " else ""}s.doc_id, CAST(concat('0x',
       |          substr(md5(substr(d.text, CAST(s.p AS INT), 8)), 1, 15)) AS BIGINT) AS h
       |        FROM sel0 s JOIN dd d USING (doc_id))""".stripMargin
  }

  /** Over the document shingles `ds(doc_id, shingle)`: `dsc`, the shingles
    * held by at most `dfCap` documents → `sz(doc_id, sz)` → `inter(doc_a,
    * doc_b, n_common)` for every doc pair (a < b) sharing one. */
  def jaccardInterCtes(dfCap: Int): String =
    s"""dsc AS (SELECT * FROM ds
       |  QUALIFY count(*) OVER (PARTITION BY shingle) <= $dfCap),
       |sz AS (SELECT doc_id, count(*) AS sz FROM dsc GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM dsc a JOIN dsc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  /** Over duplicated-window starts `sh(doc_id, pos, h)`: `dup`, the starts
    * whose hash occurs twice → `brk`, a new island where the gap to the
    * previous start reaches `minTokens` → `isl(doc_id, pos, grp)`. */
  def spanIslandCtes(minTokens: Int): String =
    s"""dup AS (SELECT doc_id, pos FROM
       |  (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM sh)
       |  WHERE cnt >= 2),
       |brk AS (SELECT doc_id, pos,
       |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |       >= $minTokens THEN 1 ELSE 0 END AS b FROM dup),
       |isl AS (SELECT doc_id, pos,
       |  SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM brk)""".stripMargin

  /** Stratified sampling of the documents in `src` toward a `budget`-doc
    * sample, rates ∝ n^0.5 per length stratum: `t<sfx>(doc_id, stratum)` →
    * `c<sfx>`, `s<sfx>` → `f<sfx>(stratum, thr)`, the 9dp rate floored onto
    * the 2^32 hash space → `h<sfx>(doc_id, stratum, b)`, the md5 bucket. */
  def temperatureMixCtes(src: String, budget: String, sfx: String): String =
    s"""t$sfx AS (SELECT doc_id,
       |  CASE WHEN len(string_split(text, ' ')) >= 60 THEN 'long' ELSE 'short' END AS stratum
       |  FROM $src),
       |c$sfx AS (SELECT stratum, CAST(count(*) AS DOUBLE) AS n FROM t$sfx GROUP BY 1),
       |s$sfx AS (SELECT sum(pow(n, 0.5)) AS wsum FROM c$sfx),
       |f$sfx AS (SELECT stratum,
       |  CAST(FLOOR(ROUND(least(1.0, $budget * pow(n, 0.5) / wsum / n), 9)
       |       * 4294967296) AS BIGINT) AS thr FROM c$sfx, s$sfx),
       |h$sfx AS (SELECT doc_id, stratum,
       |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
       |  FROM t$sfx)""".stripMargin

  /** Over per-source token counts `t(source, nt)`: `c(source,
    * tokens_available)` → `p(source, tokens_available, token_budget)`, the
    * integer budget from fixed shares of a 2,000-token target (shares CAST
    * to DOUBLE so DuckDB's DECIMAL literals do IEEE math). */
  val TokenBudgetCtes =
    """c AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS tokens_available
      |      FROM t GROUP BY 1),
      |p AS (SELECT source, tokens_available,
      |  CAST(FLOOR(ROUND(CASE source
      |    WHEN 'src0' THEN CAST(0.8 AS DOUBLE) WHEN 'src1' THEN CAST(0.1 AS DOUBLE)
      |    WHEN 'src2' THEN CAST(0.06 AS DOUBLE) WHEN 'src3' THEN CAST(0.04 AS DOUBLE)
      |    ELSE CAST(0 AS DOUBLE) END * 2000, 6)) AS BIGINT) AS token_budget
      |  FROM c)""".stripMargin

  /** Hamming ≤ 3 pairs of 64-bit fingerprints `(hi, lo)` over the SQL
    * `src(doc_id, hi, lo, …)`: 4 bands × 16 bits (band 0 = lo % 2^16, 1 =
    * lo // 2^16, 2 = hi % 2^16, 3 = hi // 2^16), then the exact bit_count
    * re-check (SQL). */
  def hammingPairsSql(src: String, hi: String, lo: String): String =
    s"""WITH hv AS ($src),
       |banded AS (
       |  SELECT doc_id, $hi, $lo, b.band,
       |    CASE b.band WHEN 0 THEN $lo % 65536
       |      WHEN 1 THEN $lo // 65536
       |      WHEN 2 THEN $hi % 65536
       |      ELSE $hi // 65536 END AS band_val
       |  FROM hv, range(4) b(band)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.$hi, b.$hi)) +
       |         bit_count(xor(a.$lo, b.$lo)) AS BIGINT) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_val = b.band_val
       |      AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3""".stripMargin

  /** 64-bin char-trigram count vectors `vec(doc_id, b, c)` of `documents`
    * (md5-prefix bins) and their norms `nrm(doc_id, n)`. */
  val TrigramVecCtes =
    """tri AS (
      |  SELECT doc_id,
      |    (CAST(concat('0x', substr(md5(substr(text, i, 3)), 1, 4)) AS BIGINT) % 64) AS b
      |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-2)) AS i)
      |),
      |vec AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS c FROM tri GROUP BY 1, 2),
      |nrm AS (SELECT doc_id, sqrt(sum(c*c)) AS n FROM vec GROUP BY 1)""".stripMargin

  /** The MLE bigram LM over `documents`' whitespace tokens: `t(doc_id,
    * toks)` → bigrams `bg(doc_id, a, b)` → counts `cab`, `ca` → per-doc
    * `sc(doc_id, n_bigrams, ppl)`, ppl = exp(−avg ln(c_ab / c_a)). */
  val BigramPplCtes =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
      |bg AS (SELECT doc_id, toks[i] AS a, toks[i + 1] AS b FROM bi),
      |cab AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
      |ca AS (SELECT a, count(*) AS c_a FROM bg GROUP BY 1),
      |sc AS (SELECT doc_id, count(*) AS n_bigrams,
      |         exp(-avg(ln(c_ab / c_a))) AS ppl
      |       FROM bg JOIN cab USING (a, b) JOIN ca USING (a) GROUP BY 1)""".stripMargin

  /** Shingle overlap of every doc with the benchmark docs selected by
    * `benchWhere` over shingles `ds(doc_id, shingle)`: the pairs whose
    * shared fraction of the doc's shingles reaches `minFrac` (SQL tail). */
  def shingleOverlapSql(benchWhere: String, minFrac: String): String =
    s"""sz AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY 1),
       |bs AS (SELECT doc_id AS bench_id, shingle FROM ds WHERE $benchWhere),
       |ov AS (SELECT a.doc_id, b.bench_id, count(*) AS common
       |       FROM ds a JOIN bs b USING (shingle)
       |       WHERE a.doc_id <> b.bench_id GROUP BY 1, 2)
       |SELECT ov.doc_id, bench_id,
       |  ROUND(common / CAST(sz AS DOUBLE), 6) AS overlap_frac
       |FROM ov JOIN sz ON ov.doc_id = sz.doc_id
       |WHERE common / CAST(sz AS DOUBLE) >= $minFrac""".stripMargin

  /** Over planted 18×16 gray pixels `px(doc_id, x, y, g)`: the 2×2
    * box-average `grid(doc_id, gx, gy, v)` → dHash `bits(doc_id, b, bit)`,
    * bit b = gy·8 + gx set iff the right neighbour cell is brighter. */
  val DhashBitsCtes =
    """grid AS (
      |  SELECT doc_id, x // 2 AS gx, y // 2 AS gy,
      |    CAST(SUM(g) // 4 AS BIGINT) AS v
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT a.doc_id, a.gy * 8 + a.gx AS b,
      |    CASE WHEN n.v > a.v THEN 1 ELSE 0 END AS bit
      |  FROM grid a JOIN grid n
      |    ON n.doc_id = a.doc_id AND n.gy = a.gy AND n.gx = a.gx + 1
      |  WHERE a.gx < 8)""".stripMargin

  /** Aggregate columns packing 64 `bits(b, bit)` rows into non-negative
    * 32-bit words `<pfx>_hi` (bits 63..32) and `<pfx>_lo` (31..0). */
  def bitWords(pfx: String): String =
    s"""CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS ${pfx}_hi,
       |  CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS ${pfx}_lo""".stripMargin

  /** `ed(vec_id, i, v)`: one DOUBLE row per embedding dimension (1-based i). */
  val EmbDims =
    """e AS (SELECT vec_id, unnest(embedding) AS v,
      |    generate_subscripts(embedding, 1) AS i FROM embeddings),
      |ed AS (SELECT vec_id, i, CAST(v AS DOUBLE) AS v FROM e)""".stripMargin

  /** Random-hyperplane LSH over `ed`: `bits` hashed hyperplanes →
    * `proj(vec_id, b, p)` → `bk(vec_id, bucket)`, bit b set where p > 0. */
  def lshBucketCtes(bits: Int): String =
    s"""proj AS (SELECT vec_id, b,
       |    sum(v * (((2654435761 * i * (2*b+1) + 40503*(b+1)) % 100003) / 100003.0 - 0.5)) AS p
       |  FROM ed CROSS JOIN generate_series(0, ${bits - 1}) g(b) GROUP BY 1, 2),
       |bk AS (SELECT vec_id, CAST(sum(CASE WHEN p > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1)""".stripMargin

  /** All-pairs dot products of the first 50 query ids against every other id. */
  val EmbAllPairDots =
    """dots AS (SELECT a.vec_id AS qa, b.vec_id AS qb, sum(a.v * b.v) AS d
      |  FROM ed a JOIN ed b ON a.i = b.i AND a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 50 GROUP BY 1, 2)""".stripMargin

  /** Cosine top-`k` neighbours over [[EmbDims]]: `dots` (a CTE chain ending in
    * `dots(qa, qb, d)` over `ed`) → `sims` → `ranked` by (6dp sim desc,
    * neighbour id) → `(query_id, rank, neighbor_id, sim)` for rank ≤ k. */
  def embCosineTopK(k: Int, dots: String = EmbAllPairDots): String =
    s"""WITH $EmbDims,
       |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ed GROUP BY 1),
       |$dots,
       |sims AS (SELECT qa, qb, d / (na.n * nb.n) AS sim
       |  FROM dots JOIN nrm na ON na.vec_id = qa JOIN nrm nb ON nb.vec_id = qb),
       |ranked AS (SELECT qa AS query_id, qb AS neighbor_id, ROUND(sim, 6) AS sim,
       |    row_number() OVER (PARTITION BY qa ORDER BY ROUND(sim, 6) DESC, qb) AS rank
       |  FROM sims)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** Per-user event gaps over `events`: `e(user_id, <cols>, ms, prev_ms)`
    * (previous event by ts, event_id) → `flag(…, new_s)`, 1 where a session
    * starts: no previous event, or a gap `gapOp` 30 minutes. */
  def sessionFlagCtes(cols: String, gapOp: String = ">"): String =
    s"""e AS (
       |  SELECT user_id, $cols, epoch_ms(ts) AS ms,
       |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
       |  FROM events),
       |flag AS (
       |  SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms $gapOp 1800000 THEN 1 ELSE 0 END AS new_s
       |  FROM e)""".stripMargin

  /** Per-session rows over `sess(user_id, session_num, ms, value)`: event
    * count, start, duration and value sum (SQL). */
  val SessionsSql =
    """SELECT user_id, session_num, count(*) AS n_events, min(ms) AS start_ms,
      |  max(ms) - min(ms) AS duration_ms, ROUND(sum(value), 4) AS sum_value
      |FROM sess GROUP BY 1, 2""".stripMargin

  /** Hourly event counts and value sums in integer cents per row (SQL):
    * the batch aggregation the streaming twin must reproduce exactly. */
  val HourlyEventsSql =
    """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
      |  count(*) AS n,
      |  ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0, 4) AS sum_value,
      |  ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 / count(*), 6) AS avg_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** View → click pairs within 24 h as the plain range predicate (SQL),
    * which the bucketed batch join and the stream-stream join must hit. */
  val ViewClickPairsSql =
    """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
      |  (epoch_us(c.ts) - epoch_us(v.ts)) // 1000 AS gap_ms
      |FROM events v JOIN events c ON c.user_id = v.user_id
      |WHERE v.event_type = 'view' AND c.event_type = 'click'
      |  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 24 HOUR""".stripMargin

  /** KMV distinct-user sketch per event hour (SQL): the k-th (k = 16)
    * smallest distinct 60-bit md5-prefix user hash → `n_est` = (k − 1)/u_k,
    * exact below k distinct; `cols` adds output columns over `r(hour_ms, h,
    * rn, cnt)` (starting with a space, ending with a comma). */
  def kmvUsersSql(cols: String): String =
    s"""WITH e AS (SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
       |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM events),
       |d AS (SELECT DISTINCT hour_ms, h FROM e),
       |r AS (SELECT hour_ms, h,
       |        row_number() OVER (PARTITION BY hour_ms ORDER BY h) AS rn,
       |        count(*) OVER (PARTITION BY hour_ms) AS cnt FROM d)
       |SELECT hour_ms,$cols
       |  ROUND(CASE WHEN cnt < 16 THEN CAST(cnt AS DOUBLE)
       |        ELSE 15.0 / (h / 1152921504606846976.0) END, 6) AS n_est
       |FROM r WHERE rn = least(cnt, CAST(16 AS BIGINT))""".stripMargin

  /** [[sessionFlagCtes]] (gap > 30 min; `cols` must include event_id) →
    * `sess(…, session_num)`, the running session count per user. */
  def sessionizeCtes(cols: String): String =
    s"""${sessionFlagCtes(cols)},
       |sess AS (
       |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_num
       |  FROM flag)""".stripMargin
}
