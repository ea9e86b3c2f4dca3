package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every oracle is spliced together from [[OracleGen]] chains, so a bad
  * splice — an unbalanced parenthesis, an unexpanded `${`, a second `nn` or
  * `s2` in one WITH chain — fails here instead of as a DuckDB error in the
  * two-SF gate. And each shared chain is written once, in OracleGen: its
  * defining text is in the oracles but in no query family's source. */
class OracleShapeSpec extends AnyFunSuite {

  /** The top level of `sql`: quoted literals ('…' or "…") dropped and every
    * parenthesized group emptied to `()`; Left when a parenthesis or quote
    * is unbalanced. */
  private def topLevel(sql: String): Either[String, String] = {
    val out = new StringBuilder
    var depth = 0
    var quote = 0.toChar
    var i = 0
    while (i < sql.length && depth >= 0) {
      val c = sql.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '(') { if (depth == 0) out += c; depth += 1 }
      else if (c == ')') { depth -= 1; if (depth == 0) out += c }
      else if (depth == 0) out += c
      i += 1
    }
    if (quote != 0) Left("unterminated quote")
    else if (depth != 0) Left(s"parenthesis depth ends at $depth")
    else Right(out.toString)
  }

  private val CteName =
    """(?i)(?:\bWITH(?:\s+RECURSIVE)?|,)\s*(\w+)\s*(?:\(\))?\s+AS\s+(?:(?:NOT\s+)?MATERIALIZED\s+)?\(\)""".r

  /** The CTE names of `sql`'s top-level WITH chain, in order. */
  private def cteNames(sql: String): Seq[String] =
    topLevel(sql).toOption.toSeq.flatMap(t => CteName.findAllMatchIn(t).map(_.group(1)))

  private val oracles = SparkEntry.all.map(d => d.name -> d.oracle)

  test("the shape checks see through quotes and nested parentheses") {
    val sql =
      """WITH RECURSIVE a AS (SELECT '(' AS p, "x)" FROM t),
        |b AS MATERIALIZED (SELECT (1 + (2)) AS q),
        |reach(v, r) AS (SELECT 1, 2),
        |a AS (SELECT 1)
        |SELECT a.p, b.q AS (SELECT 1) FROM a, b""".stripMargin
    assert(topLevel(sql).isRight)
    assert(cteNames(sql) === Seq("a", "b", "reach", "a"))
    assert(topLevel("SELECT (1").isLeft)
    assert(topLevel("SELECT 1)").isLeft)
    assert(topLevel("SELECT ')'").isRight)
    assert(topLevel("SELECT 'it''s'").isRight)
    assert(topLevel("SELECT 'open").isLeft)
  }

  test("every oracle's parentheses balance outside string literals") {
    val bad = oracles.collect { case (n, sql) if topLevel(sql).isLeft =>
      s"$n: ${topLevel(sql).left.toOption.get}" }
    assert(bad === Seq.empty[String])
  }

  test("no oracle keeps an unexpanded ${") {
    assert(oracles.collect { case (n, sql) if sql.contains("${") => n } === Seq.empty[String])
  }

  test("every oracle's top-level WITH chain names each CTE once") {
    val named = oracles.map { case (n, sql) => n -> cteNames(sql) }
    val repeated = named.flatMap { case (n, cs) =>
      cs.groupBy(identity).collect { case (c, xs) if xs.size > 1 => s"$n: $c" } }
    assert(repeated === Seq.empty[String])
    assert(cteNames(OracleGen.trendSeasonalSql("SELECT * FROM scored")) ===
      Seq("series", "s2", "nn", "tr", "te", "fit", "eff", "allrows", "scored"))
    assert(named.count(_._2.nonEmpty) > oracles.size / 2, "the parser must find the chains")
  }

  private def lit(text: String) = java.util.regex.Pattern.quote(text).r

  /** One defining fragment per shared chain (single-line text, as it reads
    * both in the generated SQL and in a source line). */
  private val Chains = Seq(
    "monthly orders/segment base" -> lit("ROUND(SUM(o_totalprice), 2) AS y"),
    "per-series z-score" -> lit("zp AS (SELECT series_id, avg(y) AS mu, stddev_samp(y) AS sd"),
    "trend index" -> """ORDER BY ds\) AS \w+\) AS t FROM series\)""".r,
    "row count / last date" -> """\bnn AS \(SELECT""".r,
    "holdout split" -> lit("FROM s2, nn WHERE t <= n -"),
    "horizon spine" -> lit("fut AS (SELECT 'orders'"),
    "obs UNION ALL fut" -> lit("SELECT * FROM obs UNION ALL SELECT * FROM fut"),
    "Box-Cox λ grid" -> lit("cands AS (SELECT i / 10.0 AS l"),
    "ADF regression rows" -> lit("WHERE dy IS NOT NULL AND ylag IS NOT NULL"),
    "embedding cosine norms" -> lit("nrm AS (SELECT vec_id"),
    "embedding top-k rank" -> lit("ranked AS (SELECT qa AS query_id"),
    "winnowing selection" -> lit("4294967295 - (wkey % 4294967296)"),
    "sessionization lag" -> lit("AS prev_ms"))

  test("each shared chain is defined once, in OracleGen, never in a query family") {
    val families = SourceScan.sources("src/main/scala/graft/queries")
      .map(p => p.getFileName.toString -> SourceScan.code(p))
    for ((chain, re) <- Chains) {
      assert(oracles.exists { case (_, sql) => re.findFirstIn(sql).isDefined },
        s"$chain: no oracle contains its text any more — update the fragment")
      val pasted = families.collect { case (f, src) if re.findFirstIn(src).isDefined => f }
      assert(pasted === Seq.empty[String],
        s"$chain is pasted into query sources; splice the OracleGen generator instead")
    }
  }
}
