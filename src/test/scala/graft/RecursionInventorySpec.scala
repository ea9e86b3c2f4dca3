package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft has one recursion walk and one wavefront ([[graft.models.Recursive]])
  * plus the blocked-VAR walk ([[graft.models.BlockedVar]], whose betas and
  * edges are rows of data). A (series, t) ledger walked inside a grouped
  * map anywhere else is a pasted copy of the recursion: extend
  * `Recursive.walk` instead. */
class RecursionInventorySpec extends AnyFunSuite {

  private val GroupOp = """\b(?:flatMapGroups|mapGroups)\b""".r

  /** A mutable map from a time index, or a (series, time index) pair, to a
    * value: the recursion's ledger. */
  private val Ledger =
    """(?:HashMap|Map)\s*(?:\.empty\s*)?\[\s*(?:\(\s*String\s*,\s*Int\s*\)|Int)\s*,\s*Double\s*\]""".r

  /** The argument text of each grouped map call in comment-free `code`:
    * the balanced `{…}` or `(…)` group that follows the call's name. */
  private def groupBodies(code: String): Seq[String] =
    GroupOp.findAllMatchIn(code).toSeq.flatMap { m =>
      val open = code.indexWhere(c => c == '{' || c == '(', m.end)
      if (open < 0) None
      else {
        var depth = 0
        var i = open
        var end = -1
        while (i < code.length && end < 0) {
          val c = code.charAt(i)
          if (c == '{' || c == '(') depth += 1
          else if ((c == '}' || c == ')') && { depth -= 1; depth == 0 }) end = i
          i += 1
        }
        Some(code.substring(open, if (end < 0) code.length else end + 1))
      }
    }

  private def walksLedger(source: String): Boolean =
    groupBodies(SourceScan.stripComments(source)).exists(b => Ledger.findFirstIn(b).isDefined)

  test("the ledger-walk scanner finds a ledger inside a grouped map and nothing else") {
    val walk =
      """rows.groupByKey(_.getString(0))(Encoders.STRING)
        |  .flatMapGroups { (sid: String, it: Iterator[Row]) =>
        |    val ledger = scala.collection.mutable.HashMap.empty[(String, Int), Double]
        |    it.map(r => ledger((sid, r.getInt(1))) = 1.0)
        |  }(enc)""".stripMargin
    assert(walksLedger(walk))
    assert(walksLedger(walk.replace("[(String, Int), Double]", "[Int, Double]")))
    assert(walksLedger("ds.groupByKey(k).mapGroups((k, it) => { val m = mutable.Map[Int, Double](); 0 })"))
    // a ledger outside any grouped map, a grouped map without one, and a
    // ledger only in a comment are not walks
    assert(!walksLedger("val m = HashMap.empty[Int, Double]\nds.flatMapGroups { (k, it) => it }"))
    assert(!walksLedger("ds.flatMapGroups { (k, it) => val seen = HashMap.empty[String, Long]; it }"))
    assert(!walksLedger("ds.flatMapGroups { (k, it) =>\n  // HashMap.empty[Int, Double]\n  it }"))
    assert(!walksLedger("ds.flatMapGroupsWithState(f) { (k, it, s) => HashMap.empty[Int, Double] }"))
  }

  test("a (series, t) ledger walk inside a grouped map lives only in Recursive and BlockedVar") {
    val walks = SourceScan.sources("src/main")
      .filter(p => walksLedger(java.nio.file.Files.readString(p)))
      .map(_.getFileName.toString).sorted
    assert(walks === Seq("BlockedVar.scala", "Recursive.scala"))
  }
}
