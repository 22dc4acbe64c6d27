package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session factory: its core-count rule, its one posture as the
  * suites see it, and that no other main-code site builds a session,
  * sets the extensions conf or adds an entry point.
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
}
