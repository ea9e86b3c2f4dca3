package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft has one moments format and one least-squares solver, both in
  * [[graft.models.Ols]]: every normal-equation fit aggregates `Ols.gram`,
  * decodes with `Ols.Moments.read` and solves with `Ols.solve`. A Gram
  * triangle written out anywhere else, or a second solver, is a pasted copy
  * of the kernel: call it instead. The DuckDB oracle text generators are
  * exempt — `OracleGen.scala` and the `mv_coint_rank` oracle — because they
  * are the reference the engine is compared against. */
class MomentsInventorySpec extends AnyFunSuite {

  /** The Gram triangle: a lower-triangle index loop (`j <- 0 to i` after a
    * generator binding `i`, or `while (j <= i)` summing `x(i) * x(j)`) or a
    * packed-triangle offset `i * (i + 1) / 2`. */
  private val Gram = Seq(
    """\b(\w+)\s*<-[^;\n]*;\s*\w+\s*<-\s*0\s+to\s+\1\b""".r,
    """while\s*\(\s*(\w+)\s*<=\s*(\w+)\s*\)\s*\{[^}]*\w+\(\2\)\s*\*\s*\w+\(\1\)""".r,
    """\b(\w+)\s*\*\s*\(\s*\1\s*\+\s*1\s*\)\s*/\s*2""".r)

  /** A linear solve: breeze's `a \ b`, breeze's inverse/factorization
    * solvers, or an elimination (a partial-pivot search or a row update
    * `a(r)(j) -= f * a(c)(j)`). */
  private val Solve = Seq(
    """[\w)]\s+\\\s+[\w(]""".r,
    """\bbreeze\.linalg\.(?:inv|pinv|LU|qr)\b""".r,
    """import\s+breeze\.linalg\.\{[^}]*\b(?:inv|pinv|LU|qr)\b""".r,
    """maxBy\s*\(\s*\w+\s*=>\s*math\.abs\(""".r,
    """\w+\(\w+\)\(\w+\)\s*-=\s*\w+\s*\*\s*\w+\(\w+\)\(\w+\)""".r)

  /** The oracle text of the `mv_coint_rank` query: the balanced argument
    * list of its `QueryDef` call. */
  private val OracleCall = "QueryDef(\"mv_coint_rank\""

  private def withoutOracle(code: String): String = {
    val at = code.indexOf(OracleCall)
    if (at < 0) code
    else {
      var depth = 0
      var i = at + "QueryDef".length
      var end = -1
      while (i < code.length && end < 0) {
        val c = code.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')' && { depth -= 1; depth == 0 }) end = i
        i += 1
      }
      code.substring(0, at) + (if (end < 0) "" else code.substring(end + 1))
    }
  }

  /** The kernel patterns (`"gram"`, `"solve"`) that comment-free `source`
    * contains. */
  private def kernelSites(source: String): Set[String] = {
    val code = withoutOracle(SourceScan.stripComments(source))
    Set("gram" -> Gram, "solve" -> Solve).collect {
      case (kind, rs) if rs.exists(_.findFirstIn(code).isDefined) => kind
    }
  }

  test("the kernel scanner finds a Gram triangle and a linear solve and nothing else") {
    // the pre-kernel forms: a per-site triangle aggregate, a hand decoder,
    // an imperative accumulator, breeze LU, breeze inverse, an elimination
    assert(kernelSites(
      "val aggs = for (i <- 0 until k; j <- 0 to i) yield sum(xs(i) * xs(j))") === Set("gram"))
    assert(kernelSites("a(i) = r.getDouble(o + hi * (hi + 1) / 2 + lo)") === Set("gram"))
    assert(kernelSites(
      "while (i < n) { var j = 0; while (j <= i) { a(idx) += x(i) * x(j); j += 1 } }") === Set("gram"))
    assert(kernelSites("val beta = xtx \\ xty") === Set("solve"))
    assert(kernelSites("val beta = a(0 until k, 0 until k) \\ b") === Set("solve"))
    assert(kernelSites("import breeze.linalg.{DenseMatrix, inv}") === Set("solve"))
    assert(kernelSites("val zz = breeze.linalg.inv(m)") === Set("solve"))
    assert(kernelSites("val piv = (c until k).maxBy(r => math.abs(a(r)(c)))") === Set("solve"))
    assert(kernelSites("for (j <- 0 until k) a(r)(j) -= f * a(c)(j)") === Set("solve"))
    // grids, plain loops, a local `inv`, regex escapes, comments and the
    // exempt oracle text are not kernel sites
    assert(kernelSites("for (p <- 0 to maxP; q <- 0 to maxQ if p + q > 0) yield (p, q)").isEmpty)
    assert(kernelSites("for (sk <- 0 to 1; ak <- 0 to 2) yield (sk, ak)").isEmpty)
    assert(kernelSites("for (iter <- 0 to it) step()").isEmpty)
    assert(kernelSites("while (l <= lags) { yhat += b(l) * v(lags - l); l += 1 }").isEmpty)
    assert(kernelSites("f.withColumn(c, inv(col(c), col(\"p1\")))").isEmpty)
    assert(kernelSites("text.split(\"\\\\s+\")").isEmpty)
    assert(kernelSites("// for (i <- 0 until k; j <- 0 to i) xtx \\ xty\nval x = 1").isEmpty)
    assert(kernelSites("/** `a \\ b` by maxBy(r => math.abs(a(r)(c))) */ val x = 1").isEmpty)
    assert(kernelSites(
      "QueryDef(\"mv_coint_rank\", q, { (for (i <- 0 until 6; j <- 0 to i) yield s\"sum\") })")
      .isEmpty)
    assert(kernelSites(
      "QueryDef(\"mv_other\", q, { (for (i <- 0 until 6; j <- 0 to i) yield s\"sum\") })") ===
      Set("gram"))
  }

  test("a Gram triangle and a linear solve live only in Ols") {
    val sites = SourceScan.sources("src/main")
      .filterNot(_.getFileName.toString == "OracleGen.scala")
      .flatMap { p =>
        val kinds = kernelSites(java.nio.file.Files.readString(p))
        if (kinds.isEmpty) None else Some(p.getFileName.toString -> kinds.toSeq.sorted)
      }.sortBy(_._1)
    assert(sites === Seq("Ols.scala" -> Seq("gram", "solve")))
  }
}
