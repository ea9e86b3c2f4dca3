package graft

import graft.queries._
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one [[QueryDef]] per declared query, each carrying
  * its oracle, each living in the family file its name prefix names. */
class QueryRegistrySpec extends AnyFunSuite {

  test("SparkEntry.all declares 167 distinct queries, each with an oracle") {
    val names = SparkEntry.all.map(_.name)
    assert(names.size === 167)
    assert(names.distinct.size === names.size, "query names must be distinct")
    val blank = SparkEntry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, "every query carries its oracle SQL")
  }

  test("each family file declares only names with its own prefix") {
    val families = Seq("ts_" -> TsQueries.defs, "mv_" -> MvQueries.defs,
      "doc_" -> DocQueries.defs, "emb_" -> EmbQueries.defs,
      "events_" -> EventsQueries.defs, "sales_" -> SalesQueries.defs)
    families.foreach { case (prefix, defs) =>
      assert(defs.nonEmpty)
      val stray = defs.map(_.name).filterNot(_.startsWith(prefix))
      assert(stray.isEmpty, s"$prefix family declares foreign names")
    }
    assert(families.map(_._2.size).sum === SparkEntry.all.size)
  }

  test("an unknown query name throws and names the query") {
    val e = intercept[NoSuchElementException](SparkEntry("no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
  }
}
