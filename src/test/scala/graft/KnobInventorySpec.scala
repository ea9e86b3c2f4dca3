package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every process-wide switch `src/main` reads — environment variables,
  * system properties and `spark.graft.*` session confs — is on the
  * allowlist below. A new knob fails this spec until it is added here, so
  * adding one is a visible decision, not a side effect of a patch. */
class KnobInventorySpec extends AnyFunSuite {

  /** The surviving knobs, all read by entry points, none by the library.
    * `dynamic@BenchScale.scala` is `envSizes`, which reads the ladder-size
    * variable named by its caller (the `SPARK_GRAFT_SCALE_*` sizes). */
  private val Allowlist = Set(
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_SCALE_OPS",
    "SPARK_GRAFT_SCALE_DOCS",
    "SPARK_GRAFT_SCALE_EVENTS",
    "SPARK_GRAFT_SCALE_ANN",
    "dynamic@BenchScale.scala")

  /** `line` with its `//` comment removed (a `//` inside a string literal
    * is kept). */
  private def stripLineComment(line: String): String = {
    var inString = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"' && (i == 0 || line.charAt(i - 1) != '\\')) inString = !inString
      else if (!inString && c == '/' && i + 1 < line.length && line.charAt(i + 1) == '/')
        return line.substring(0, i)
      i += 1
    }
    line
  }

  /** Source text with block comments (scaladoc included) and line
    * comments removed. */
  private def code(p: Path): String =
    "(?s)/\\*.*?\\*/".r.replaceAllIn(Files.readString(p), "")
      .linesIterator.map(stripLineComment).mkString("\n")

  private val Access =
    """(?:sys\.env|sys\.props|System\.getenv|System\.getProperty)(?:\.\w+)?\s*(\(\s*("[^"]*")?)?""".r
  private val EnvLiteral = "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r
  private val ConfLiteral = "\"(spark\\.graft\\.[^\"]*)\"".r

  private def knobs(p: Path): Set[String] = {
    val src = code(p)
    val accessed = Access.findAllMatchIn(src).map { m =>
      Option(m.group(2)).map(_.stripPrefix("\"").stripSuffix("\""))
        .getOrElse(s"dynamic@${p.getFileName}")
    }
    (accessed ++ EnvLiteral.findAllMatchIn(src).map(_.group(1)) ++
      ConfLiteral.findAllMatchIn(src).map(_.group(1))).toSet
  }

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("src/main reads exactly the allowlisted knobs") {
    val found = mainSources.flatMap(knobs).toSet
    assert(found -- Allowlist === Set.empty[String],
      "new knobs: add them to the allowlist only if a bench or spec shows they earn their keep")
    assert(Allowlist -- found === Set.empty[String],
      "allowlisted knobs no longer read: drop them from the allowlist")
  }

  test("graft.obs.RunRecorder is the only src/main listener registration") {
    val Register = """addSparkListener|listenerManager\s*\.\s*register""".r
    val registering = mainSources.filter(p => Register.findFirstIn(code(p)).isDefined)
      .map(p => Paths.get("src/main/scala").relativize(p).toString)
    assert(registering === Seq("graft/obs/RunRecorder.scala"),
      "metrics listeners belong in the one run recorder")
  }

  test("graft.core.SessionMemo is the only src/main holder of SparkSession-keyed state") {
    val Keyed = """\b(?:TrieMap|Map)\s*(?:\.empty)?\s*\[[^\]]*SparkSession""".r
    val holders = mainSources.flatMap(p => Keyed.findAllMatchIn(code(p))
      .map(_ => Paths.get("src/main/scala").relativize(p).toString))
    assert(holders === Seq("graft/core/SessionMemo.scala"),
      "session-scoped state belongs in the one session memo")
  }

  test("the scanner sees env, property and conf reads but not comments") {
    val tmp = Files.createTempFile("knobs", ".scala")
    try {
      Files.writeString(tmp,
        """object X {
          |  /** sys.env.get("SPARK_GRAFT_IN_DOC") */
          |  val a = sys.env.getOrElse("SPARK_GRAFT_A", "1") // "SPARK_GRAFT_C"
          |  val b = sys.props.getOrElse("graft.b", "x")
          |  val c = System.getProperty(key)
          |  val d = spark.conf.get("spark.graft.d", "0")
          |  val e = "http://host" + System.getenv("E")
          |}""".stripMargin)
      assert(knobs(tmp) === Set("SPARK_GRAFT_A", "graft.b",
        s"dynamic@${tmp.getFileName}", "spark.graft.d", "E"))
    } finally Files.delete(tmp)
  }
}
