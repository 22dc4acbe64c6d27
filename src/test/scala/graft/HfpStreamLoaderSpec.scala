package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import graft.sources.HfpCsvSource
import graft.streaming.HfpStreamLoader

/** Continuous-loader behavior: files discovered incrementally,
  * cross-batch dedup against the sink, restart-safe appends.
  */
class HfpStreamLoaderSpec extends SparkSuite {

  private def row(overrides: Map[String, String]): String =
    HfpCsvSource.columns.map(c => overrides.getOrElse(c, "x")).mkString(",")

  test("streaming loader ingests incrementally and dedups across batches") {
    val root = Files.createTempDirectory("hfpstream").toString
    val sink = Files.createTempDirectory("hfpstreamsink").toString
    val ckpt = Files.createTempDirectory("hfpckpt").toString
    val dir = Paths.get(root, "csv", "VehiclePosition")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("a.csv"),
      Seq(
        row(Map("uuid" -> "v1", "oday" -> "2021-02-09", "journey_type" -> "journey")),
        row(Map("uuid" -> "v2", "oday" -> "2021-02-09", "journey_type" -> "deadrun")))
        .mkString("\n") + "\n")

    val q1 = HfpStreamLoader.start(sc, root, sink, "VehiclePosition", ckpt)
    q1.awaitTermination() // AvailableNow drains and stops
    val vp1 = spark.read.parquet(s"$sink/vehicleposition")
      .select("uuid").collect().map(_.getString(0)).toSet
    assert(vp1 == Set("v1"))
    assert(spark.read.parquet(s"$sink/unsignedevent")
      .select("uuid").collect().map(_.getString(0)).toSet == Set("v2"))

    // second file: one duplicate uuid, one new — only the new row lands
    Files.writeString(dir.resolve("b.csv"),
      Seq(
        row(Map("uuid" -> "v1", "oday" -> "2021-02-09", "journey_type" -> "journey")),
        row(Map("uuid" -> "v3", "oday" -> "2021-02-09", "journey_type" -> "journey")))
        .mkString("\n") + "\n")
    val q2 = HfpStreamLoader.start(sc, root, sink, "VehiclePosition", ckpt)
    q2.awaitTermination()
    val vp2 = spark.read.parquet(s"$sink/vehicleposition")
      .select("uuid").collect().map(_.getString(0)).toSet
    assert(vp2 == Set("v1", "v3"))

    // fresh checkpoint (simulated redeploy): full re-read, still no dupes
    val ckpt2 = Files.createTempDirectory("hfpckpt2").toString
    val q3 = HfpStreamLoader.start(sc, root, sink, "VehiclePosition", ckpt2)
    q3.awaitTermination()
    val vp3 = spark.read.parquet(s"$sink/vehicleposition")
      .select("uuid", "oday").collect()
    assert(vp3.map(_.getString(0)).toSet == Set("v1", "v3"))
    assert(vp3.length == 2) // no duplicate rows appended
  }

  test("per-batch dedup scans only the batch's oday partitions, not all history") {
    // the reference reads keys WHERE oday = $1 (getEvents.ts:13); an
    // unscoped scan would pay a full-history key read + anti-join every
    // micro-batch once the sink holds months of days
    val root = Files.createTempDirectory("hfpstream2").toString
    val sink = Files.createTempDirectory("hfpstreamsink2").toString
    val dir = Paths.get(root, "csv", "StopEvent")
    Files.createDirectories(dir)
    val day1 = "2021-02-09"; val day2 = "2021-02-10"
    Files.writeString(dir.resolve("d1.csv"),
      row(Map("uuid" -> "a1", "oday" -> day1, "journey_type" -> "journey")) + "\n")
    val q1 = HfpStreamLoader.start(sc, root, sink, "StopEvent",
      Files.createTempDirectory("ck1").toString)
    q1.awaitTermination()
    Files.writeString(dir.resolve("d2.csv"),
      row(Map("uuid" -> "a2", "oday" -> day2, "journey_type" -> "journey")) + "\n")
    val q2 = HfpStreamLoader.start(sc, root, sink, "StopEvent",
      Files.createTempDirectory("ck2").toString)
    q2.awaitTermination()
    // (q2 re-read d1.csv too — fresh checkpoint — and deduped it)
    val rows = spark.read.parquet(s"$sink/stopevent").collect()
    assert(rows.length == 2, rows.mkString(";"))

    // the key scan a day-2-only batch performs: partition-pruned to
    // oday=2021-02-10 — day 1's partition is never listed in the scan
    val keys = graft.sources.ParquetDaySink(sink).existingKeys(spark, "stopevent", day2)
    assert(keys.collect().map(_.getString(0)).toSeq == Seq("a2"))
    val scan = keys.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a parquet scan"))
    // structural pruning evidence: the oday predicate is a partition
    // filter (not a post-scan filter), and only one of the two day
    // partitions survives it
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "oday")),
      scan.partitionFilters.toString)
    assert(scan.metadata("Location").contains("stopevent"))
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, scanned ${scan.selectedPartitions.partitionCount}")
  }

  test("VP batch: same uuid in BOTH routes inserts both rows (pinned build side)") {
    // the build side is snapshotted (eager localCheckpoint) before
    // either route writes, matching the batch path and the reference's
    // read-before-writes order (hfpTask.ts:97-111): a lazy build side
    // re-evaluated at route 2's action would observe route 1's
    // just-appended key and drop the second row — and the parquet
    // twin's frozen file listing does NOT protect this (route 1's
    // append refreshes every plan over the written path).
    val root = Files.createTempDirectory("hfpstreamdup").toString
    val sink = Files.createTempDirectory("hfpstreamdupsink").toString
    val dir = Paths.get(root, "csv", "VehiclePosition")
    Files.createDirectories(dir)
    // seed the sink with an unrelated key so the build side is a real
    // parquet scan, not the empty-frame fallback
    Files.writeString(dir.resolve("seed.csv"),
      row(Map("uuid" -> "v0", "oday" -> "2021-02-09", "journey_type" -> "journey")) + "\n")
    val q0 = HfpStreamLoader.start(sc, root, sink, "VehiclePosition",
      Files.createTempDirectory("ckdup0").toString)
    q0.awaitTermination()
    Files.writeString(dir.resolve("dup.csv"), Seq(
      row(Map("uuid" -> "dup", "oday" -> "2021-02-09", "journey_type" -> "journey")),
      row(Map("uuid" -> "dup", "oday" -> "2021-02-09", "journey_type" -> "deadrun")))
      .mkString("\n") + "\n")
    val q1 = HfpStreamLoader.start(sc, root, sink, "VehiclePosition",
      Files.createTempDirectory("ckdup1").toString)
    q1.awaitTermination()
    assert(spark.read.parquet(s"$sink/vehicleposition")
      .select("uuid").collect().map(_.getString(0)).toSet == Set("v0", "dup"))
    assert(spark.read.parquet(s"$sink/unsignedevent")
      .select("uuid").collect().map(_.getString(0)).toSeq == Seq("dup"))
    // re-run from a fresh checkpoint: both tables already hold the key
    val q2 = HfpStreamLoader.start(sc, root, sink, "VehiclePosition",
      Files.createTempDirectory("ckdup2").toString)
    q2.awaitTermination()
    assert(spark.read.parquet(s"$sink/vehicleposition").count() == 2L)
    assert(spark.read.parquet(s"$sink/unsignedevent").count() == 1L)
  }

  test("restart mid-day heals a partial crash: no duplicate uuids per (oday, table)") {
    // simulate a loader killed between route writes: the sink already
    // holds the vehicleposition row of a VP batch but not its
    // unsignedevent row (foreachBatch is at-least-once; the checkpoint
    // has no record of the batch, so a restart reprocesses the files).
    // The re-run must dedup the already-written row per (oday, table)
    // and land only the missing one — the reference's "re-run the day"
    // late-data model (hfpStorage.ts:15-16).
    val root = Files.createTempDirectory("hfpcrash").toString
    val sink = Files.createTempDirectory("hfpcrashsink").toString
    val dir = Paths.get(root, "csv", "VehiclePosition")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("day.csv"), Seq(
      row(Map("uuid" -> "j1", "oday" -> "2021-02-09", "journey_type" -> "journey")),
      row(Map("uuid" -> "u1", "oday" -> "2021-02-09", "journey_type" -> "deadrun")))
      .mkString("\n") + "\n")
    // the "crashed" run's partial output: j1 made it, u1 did not
    val partial = HfpCsvSource.castAll(
      spark.read.schema(HfpCsvSource.rawSchema)
        .option("header", "false")
        .csv(Paths.get(root, "csv", "VehiclePosition").toString))
      .where(col("uuid") === "j1")
    graft.sources.JdbcSink.writeParquet(partial, sink, "vehicleposition")
    // restart from scratch (the crashed run's checkpoint never
    // committed the batch, so a fresh checkpoint is the same re-read)
    val q = HfpStreamLoader.start(sc, root, sink, "VehiclePosition",
      Files.createTempDirectory("ckcrash").toString)
    q.awaitTermination()
    val vp = spark.read.parquet(s"$sink/vehicleposition")
      .select("uuid", "oday").collect()
    assert(vp.map(_.getString(0)).toSeq == Seq("j1"), vp.mkString(";")) // healed, not doubled
    assert(spark.read.parquet(s"$sink/unsignedevent")
      .select("uuid").collect().map(_.getString(0)).toSeq == Seq("u1"))
    // and a second restart is a full no-op
    val q2 = HfpStreamLoader.start(sc, root, sink, "VehiclePosition",
      Files.createTempDirectory("ckcrash2").toString)
    q2.awaitTermination()
    assert(spark.read.parquet(s"$sink/vehicleposition").count() == 1L)
    assert(spark.read.parquet(s"$sink/unsignedevent").count() == 1L)
  }

  test("a group outside HfpLoadJob.groups fails fast, naming the group") {
    // LightPriorityEvent is the opt-in 57-column batch route: streamed
    // with the 44-column schema it would silently lose its tlp_* fields
    val root = Files.createTempDirectory("hfpstreamgroup").toString
    val sink = Files.createTempDirectory("hfpstreamgroupsink").toString
    Seq("LightPriorityEvent", "Bogus").foreach { group =>
      val e = intercept[IllegalArgumentException] {
        HfpStreamLoader.start(sc, root, sink, group,
          Files.createTempDirectory("ckgroup").toString)
      }
      assert(e.getMessage.contains(s"'$group'"), e.getMessage)
    }
  }

  test("streams into a JDBC sink (Derby): routes to their tables, restart appends nothing") {
    import graft.sources.JdbcDaySink
    val url = "jdbc:derby:memory:graftstream;create=true"
    val root = Files.createTempDirectory("hfpstreamjdbc").toString
    val dir = Paths.get(root, "csv", "VehiclePosition")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("a.csv"), Seq(
      row(Map("uuid" -> "j1", "oday" -> "2021-02-09", "journey_type" -> "journey")),
      row(Map("uuid" -> "j2", "oday" -> "2021-02-10", "journey_type" -> "journey")),
      row(Map("uuid" -> "d1", "oday" -> "2021-02-09", "journey_type" -> "deadrun")))
      .mkString("\n") + "\n")
    val sink = JdbcDaySink(url, batchSize = 10, numPartitions = 2, bootstrapDdl = true)
    def uuids(table: String): Seq[String] =
      spark.read.jdbc(url, table, new java.util.Properties())
        .select("uuid").collect().map(_.getString(0)).toSeq.sorted
    HfpStreamLoader.start(sc, root, sink, "VehiclePosition",
      Files.createTempDirectory("ckjdbc1").toString).awaitTermination()
    assert(uuids("vehicleposition") == Seq("j1", "j2"))
    assert(uuids("unsignedevent") == Seq("d1"))
    // fresh checkpoint: the whole directory is re-read and deduped
    HfpStreamLoader.start(sc, root, sink, "VehiclePosition",
      Files.createTempDirectory("ckjdbc2").toString).awaitTermination()
    assert(uuids("vehicleposition") == Seq("j1", "j2"))
    assert(uuids("unsignedevent") == Seq("d1"))
  }

  test("a VP micro-batch runs the batch core: no isEmpty probe, one key snapshot") {
    // the stream runs HfpLoadJob.loadGroup: each route is one write
    // (a zero-row append is a no-op, so no emptiness probe per route)
    // and both routes share one pinned snapshot
    val root = Files.createTempDirectory("hfpstreamshape").toString
    val sink = Files.createTempDirectory("hfpstreamshapesink").toString
    val dir = Paths.get(root, "csv", "VehiclePosition")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("a.csv"), Seq(
      row(Map("uuid" -> "v1", "oday" -> "2021-02-09", "journey_type" -> "journey")),
      row(Map("uuid" -> "v2", "oday" -> "2021-02-09", "journey_type" -> "deadrun")))
      .mkString("\n") + "\n")
    val plans = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += ((funcName, qe.executedPlan.toString)) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // registered before start: the query's session is cloned from this one
    sc.listenerManager.register(listener)
    try {
      HfpStreamLoader.start(sc, root, sink, "VehiclePosition",
        Files.createTempDirectory("ckshape").toString).awaitTermination()
      // delivery is async and in order: once both route writes have
      // arrived, every earlier action of the batch has too
      val deadline = System.nanoTime() + 10e9.toLong
      def writes = plans.synchronized {
        plans.count(_._2.contains("InsertIntoHadoopFsRelation"))
      }
      while (writes < 2 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(writes == 2, s"expected 2 route writes, got $writes")
      val actions = plans.synchronized(plans.map(_._1).toList)
      assert(!actions.contains("isEmpty"), actions.mkString(", "))
      assert(actions.count(_ == "localCheckpoint") == 1, actions.mkString(", "))
    } finally sc.listenerManager.unregister(listener)
  }
}
