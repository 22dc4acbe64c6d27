package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.sources.ParquetDaySink
import graft.streaming.HfpStreamLoader

/** The parquet sink's per-day key read: pruned to the day's `oday`
  * partition, and built from the declared key schema, so making the
  * frame costs no Spark job (no footer-schema inference).
  */
class DaySinkSpec extends SparkSuite {

  private val day1 = "2021-02-09"
  private val day2 = "2021-02-10"

  /** A parquet warehouse whose `stopevent` table holds two days. */
  private def twoDaySink(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("daysinkkeys").toString
    Seq(("a1", day1), ("a2", day1), ("b1", day2)).toDF("uuid", "oday")
      .select(col("uuid"), to_date(col("oday")).as("oday"), lit(1L).as("tsi"))
      .write.partitionBy("oday").parquet(s"$dir/stopevent")
    dir
  }

  test("existingKeys returns only the day's uuids, through an oday partition filter") {
    val keys = ParquetDaySink(twoDaySink()).existingKeys(spark, "stopevent", day1)
    assert(keys.columns.toSeq == Seq("uuid"))
    assert(keys.collect().map(_.getString(0)).toSet == Set("a1", "a2"))
    val scan = keys.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("expected a parquet scan"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "oday")),
      scan.partitionFilters.toString)
    assert(scan.selectedPartitions.partitionCount == 1)
  }

  test("building the key frame launches no Spark job") {
    val dir = twoDaySink()
    val (_, stages, tasks) = launched {
      ParquetDaySink(dir).existingKeys(spark, "stopevent", day1)
      HfpStreamLoader.existingKeys(spark, dir, "stopevent",
        Seq(java.sql.Date.valueOf(day2)), includeNullOday = true)
    }
    assert(stages.isEmpty && tasks.isEmpty,
      stages.map(s => s"${s.stageId}:${s.name}").mkString("; "))
  }

  test("a table dir holding only _SUCCESS yields the empty key frame") {
    val dir = Files.createTempDirectory("daysinkempty").toString
    Files.createDirectories(Paths.get(dir, "stopevent"))
    Files.writeString(Paths.get(dir, "stopevent", "_SUCCESS"), "")
    val keys = ParquetDaySink(dir).existingKeys(spark, "stopevent", day1)
    assert(keys.columns.toSeq == Seq("uuid"))
    assert(keys.collect().isEmpty)
  }
}
