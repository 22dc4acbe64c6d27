package graft

import java.nio.file.{Files, Paths}
import graft.sources.HfpCsvSource

/** Golden-fixture test for the C1 CSV wire format (FIXTURES.md §2). */
class HfpCsvSourceSpec extends SparkSuite {

  private def writeFixture(): String = {
    val dir = Files.createTempDirectory("hfpcsv").toString
    val cols = HfpCsvSource.columns
    def row(overrides: Map[String, String]): String =
      cols.map(c => overrides.getOrElse(c, "x")).mkString(",")
    val lines = Seq(
      // normal signed-journey row, ISO tst
      row(Map("journey_type" -> "journey", "oday" -> "2021-02-09",
        "tst" -> "2021-02-09T07:12:45", "uuid" -> "u1", "dl" -> "5",
        "spd" -> "3.5", "drst" -> "false", "veh" -> "0")),
      // deadrun row
      row(Map("journey_type" -> "deadrun", "uuid" -> "u2", "tst" -> "1612854765123")),
      // empty uuid (kept by parser; dropped later by C4 filter)
      row(Map("uuid" -> "", "journey_type" -> "journey")),
      // all-empty line -> skipped by skip_lines_with_empty_values
      cols.map(_ => "").mkString(","),
      // quoted field with comma + surrounding spaces to trim
      row(Map("desi" -> "\" 55 , X \"", "uuid" -> "u3")))
    val f = Paths.get(dir, "part1.csv")
    Files.writeString(f, lines.mkString("\n") + "\n")
    dir
  }

  test("headerless positional read with trim and all-empty skip") {
    val dir = writeFixture()
    val raw = HfpCsvSource.read(sc, dir)
    assert(raw.columns.toSeq == HfpCsvSource.columns)
    assert(raw.count() == 4) // all-empty line skipped
    val u3 = raw.where(raw("uuid") === "u3").collect()(0)
    assert(u3.getAs[String]("desi") == " 55 , X ") // quote kept interior, outer trimmed
  }

  test("cast layer applies the typed quirk semantics") {
    val dir = writeFixture()
    val typed = HfpCsvSource.castAll(HfpCsvSource.read(sc, dir))
    val u1 = typed.where(typed("uuid") === "u1").collect()(0)
    assert(u1.getAs[Long]("dl") == 5L)
    assert(u1.getAs[Double]("spd") == 3.5)
    assert(u1.getAs[Boolean]("drst")) // "false" -> true (JS truthiness)
    assert(u1.getAs[java.sql.Date]("oday").toString == "2021-02-09")
    assert(u1.getAs[java.sql.Timestamp]("tst").toString.startsWith("2021-02-09 07:12:45"))
    assert(u1.isNullAt(u1.fieldIndex("veh"))) // "0" -> NULL netting
    val u2 = typed.where(typed("uuid") === "u2").collect()(0)
    // epoch-ms parse
    assert(u2.getAs[java.sql.Timestamp]("tst").toString.startsWith("2021-02-09"))
    // "x" in numeric columns -> NULL
    assert(u2.isNullAt(u2.fieldIndex("dl")))
  }

  test("the 44-column cast compiles into whole-stage codegen, with no interpreted fallback") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import graft.functions.JsPrefixCast
    // a generated call Janino cannot compile would otherwise drop the
    // whole projection to interpreted evaluation without failing
    val confs = Map(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val typed = HfpCsvSource.castAll(HfpCsvSource.read(sc, writeFixture()))
      val plan = typed.queryExecution.executedPlan
      val stage = plan.collectFirst {
        case w: WholeStageCodegenExec if w.child.exists {
          case p: ProjectExec => p.projectList.size == HfpCsvSource.columns.size &&
            p.projectList.exists(_.exists(_.isInstanceOf[JsPrefixCast]))
          case _ => false
        } => w
      }.getOrElse(fail(s"cast Project outside whole-stage codegen:\n$plan"))
      // compile the stage's class now: a Janino error throws here, and a
      // method over the huge-method limit would make Spark run the stage
      // interpreted instead
      val (_, code) = stage.doCodeGen()
      val (_, stats) = CodeGenerator.compile(code)
      assert(stats.maxMethodCodeSize <= spark.sessionState.conf.hugeMethodLimit,
        stats.toString)
      assert(typed.collect().length == 4)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("lightpriorityevent schema parity (declared, intentionally unrouted)") {
    // reference postgres_schema.sql:1-61: 44 wire columns + 13 TLP
    // fields; no reference code path reads or writes the table, so the
    // engine declares the schema but registers no route (the skip is
    // documented on the declaration)
    val cols = HfpCsvSource.lightPriorityEventColumns
    assert(cols.length == HfpCsvSource.columns.length + 13)
    assert(cols.containsSlice(HfpCsvSource.columns))
    Seq("tlp_requestid", "tlp_decision", "sid", "signal_groupid",
      "tlp_protocol").foreach(c => assert(cols.contains(c), c))
    assert(HfpCsvSource.lightPriorityCastTypes("sid") == "int")
    assert(HfpCsvSource.lightPriorityCastTypes("tlp_protocol") == "string")
    assert(!graft.jobs.HfpLoadJob.groups.exists(_._2 == "lightpriorityevent"))
  }
}
