package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.sources.ParquetDaySink

/** The parquet sink's per-day key read: pruned to the day's `oday`
  * partition, and built from the declared key schema, so making the
  * frame costs no Spark job (no footer-schema inference).
  */
class DaySinkSpec extends SparkSuite {

  private val day1 = "2021-02-09"
  private val day2 = "2021-02-10"

  /** A parquet warehouse whose `stopevent` table holds two days, plus
    * `extra` rows (a NULL `oday` lands in `__HIVE_DEFAULT_PARTITION__`).
    */
  private def twoDaySink(extra: Seq[(String, String)] = Nil): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("daysinkkeys").toString
    (Seq(("a1", day1), ("a2", day1), ("b1", day2)) ++ extra).toDF("uuid", "oday")
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

    // a two-day read also returns the NULL-oday uuid, through the same
    // partition filter, and building that frame launches no job either
    val withNull = twoDaySink(Seq(("n1", null)))
    val (keys2, stages, _) = launched {
      ParquetDaySink(withNull).existingKeys(spark, "stopevent", day1, day2)
    }
    assert(stages.isEmpty, stages.map(_.name).mkString("; "))
    assert(keys2.collect().map(_.getString(0)).toSet == Set("a1", "a2", "b1", "n1"))
    val scan2 = keys2.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("expected a parquet scan"))
    assert(scan2.partitionFilters.exists(_.references.exists(_.name == "oday")),
      scan2.partitionFilters.toString)
    assert(scan2.selectedPartitions.partitionCount == 3)
  }

  test("building the key frame launches no Spark job") {
    val dir = twoDaySink()
    val (_, stages, tasks) = launched {
      ParquetDaySink(dir).existingKeys(spark, "stopevent", day1)
      ParquetDaySink(dir).existingKeys(spark, "stopevent", day2)
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
