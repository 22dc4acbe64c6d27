package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session factory: its core-count rule, its one posture as the
  * suites see it, and that no other main-code site builds a session,
  * sets the extensions conf or adds an entry point; and that every main
  * source is reached from an entry point.
  */
class GraftSessionSpec extends SparkSuite {

  test("cores: SPARK_GRAFT_CPUS when set, else the host's cores capped at 32") {
    assert(GraftSession.cores(Map("SPARK_GRAFT_CPUS" -> "8"), 64) == 8)
    assert(GraftSession.cores(Map.empty, 64) == 32)
    assert(GraftSession.cores(Map.empty, 3) == 3)
    Seq("0", "-1", "abc", "").foreach { v =>
      val e = intercept[IllegalArgumentException](
        GraftSession.cores(Map("SPARK_GRAFT_CPUS" -> v), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("the shared test session is the plain posture at 4 cores") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("only GraftSession builds a session; only the four mains have a main") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    def sitesOf(needle: String): Set[String] = files.collect {
      case f: Path if Files.readString(f).contains(needle) => f.getFileName.toString
    }.toSet
    assert(sitesOf("SparkSession.builder") == Set("GraftSession.scala"))
    // one posture: no main-code session sets the extensions conf; only
    // GraftExtensions' own doc names it, for deploy-time installs
    assert(sitesOf("spark.sql.extensions") == Set("GraftExpressions.scala"))
    assert(sitesOf("def main") ==
      Set("Bench.scala", "Verify.scala", "HfpLoadJob.scala", "Dev.scala"))
  }

  test("every src/main file is reached from an entry point") {
    def sources(dir: String): Seq[Path] = Files.walk(Paths.get(dir)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // code only: comments go; string literals stay, since a conf names a
    // class by its string
    val lexeme = """(?s)"{3}.*?"{3}|"[^"\\\n]*(?:\\.[^"\\\n]*)*"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*.*?\*/""".r
    def code(f: Path): String = lexeme.replaceAllIn(Files.readString(f), m =>
      scala.util.matching.Regex.quoteReplacement(if (m.matched.startsWith("/")) " " else m.matched))
    val main = sources("src/main/scala")
    val bench = sources("loadbench/src")
    assert(main.nonEmpty && bench.nonEmpty, s"no sources under ${Paths.get("").toAbsolutePath}")
    val text = (main ++ bench).map(f => f -> code(f)).toMap
    val tokens = text.map { case (f, c) => f -> "\\w+".r.findAllIn(c).toSet }
    val pkg = text.map { case (f, c) =>
      f -> "(?m)^package\\s+([\\w.]+)".r.findFirstMatchIn(c).fold("")(_.group(1)) }
    val topLevel = ("(?m)^(?:(?:private|protected)(?:\\[\\w+\\])?\\s+|final\\s+|sealed\\s+|" +
      "abstract\\s+|case\\s+|implicit\\s+)*(?:object|class|trait)\\s+(\\w+)").r
    val declared = main.map(f => f -> topLevel.findAllMatchIn(text(f)).map(_.group(1)).toSeq).toMap
    // `from` uses `name` of package `p`: unqualified in the same
    // package, qualified by a suffix of the package, or imported
    def uses(from: Path, p: String, name: String): Boolean = tokens(from)(name) && {
      val c = text(from)
      val q = p.replace(".", "\\.")
      def found(re: String) = re.r.findFirstIn(c).nonEmpty
      pkg(from) == p ||
        p.split('.').tails.filter(_.nonEmpty).exists(s => found(s"\\b${s.mkString("\\.")}\\.$name\\b")) ||
        found(s"import\\s+$q\\._") ||
        s"import\\s+$q\\.\\{([^}]*)\\}".r.findAllMatchIn(c).exists(m => s"\\b$name\\b".r.findFirstIn(m.group(1)).nonEmpty)
    }
    // the four mains, the query registry, the extension a deploy names
    // in its conf, the stream loader, and the load benchmark's sources
    val entries = Set("Bench", "Verify", "HfpLoadJob", "Dev", "SparkEntry",
      "GraftExtensions", "HfpStreamLoader")
    assert(entries.subsetOf(declared.values.flatten.toSet))
    var reached = (main.filter(f => declared(f).exists(entries)) ++ bench).toSet
    var frontier = reached
    while (frontier.nonEmpty) {
      frontier = main.filter(g => !reached(g) &&
        frontier.exists(f => declared(g).exists(n => uses(f, pkg(g), n)))).toSet
      reached ++= frontier
    }
    val unreached = main.filterNot(reached).map(_.toString).sorted
    assert(unreached.isEmpty, s"no entry point reaches ${unreached.mkString(", ")}")
  }
}
