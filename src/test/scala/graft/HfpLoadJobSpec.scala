package graft

import java.nio.file.{Files, Paths}
import graft.jobs.HfpLoadJob
import graft.sources.HfpCsvSource

/** End-to-end day-load: counts, routing, and the reference's central
  * operational property — re-running a day inserts nothing.
  */
class HfpLoadJobSpec extends SparkSuite {

  private val date = "2021-02-09"

  private def row(overrides: Map[String, String]): String =
    HfpCsvSource.columns.map(c => overrides.getOrElse(c, "x")).mkString(",")

  private def writeArchive(): String = {
    val root = Files.createTempDirectory("hfparchive").toString
    def put(group: String, name: String, lines: Seq[String]): Unit = {
      val d = Paths.get(root, "csv", group)
      Files.createDirectories(d)
      Files.writeString(d.resolve(name), lines.mkString("\n") + "\n")
    }
    put("StopEvent", s"$date-0.csv", Seq(
      row(Map("uuid" -> "s1", "oday" -> date, "journey_type" -> "journey")),
      row(Map("uuid" -> "s2", "oday" -> date, "journey_type" -> "journey")),
      row(Map("uuid" -> "", "oday" -> date)))) // dropped by C4
    put("OtherEvent", s"$date-0.csv", Seq(
      row(Map("uuid" -> "o1", "oday" -> date))))
    put("VehiclePosition", s"$date-0.csv", Seq(
      row(Map("uuid" -> "v1", "oday" -> date, "journey_type" -> "journey")),
      row(Map("uuid" -> "v2", "oday" -> date, "journey_type" -> "deadrun")), // -> unsigned
      row(Map("uuid" -> "v3", "oday" -> date, "journey_type" -> "journey"))))
    root
  }

  test("loadDay routes, filters, and is idempotent on re-run") {
    val root = writeArchive()
    val sink = Files.createTempDirectory("hfpsink").toString
    val first = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(first == Map(
      "stopevent" -> 2L, "otherevent" -> 1L,
      "vehicleposition" -> 2L, "unsignedevent" -> 1L))
    // the reference's core contract: a re-run of the same day is a no-op
    val second = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(second.values.forall(_ == 0L), second.toString)
    // partial re-run with extra data: only the new row lands (late data)
    val d = Paths.get(root, "csv", "StopEvent")
    Files.writeString(d.resolve(s"$date-1.csv"),
      row(Map("uuid" -> "s3", "oday" -> date, "journey_type" -> "journey")) + "\n")
    val third = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(third("stopevent") == 1L && third.values.sum == 1L)
    // sink contents: correct uuids per table
    val vp = spark.read.parquet(s"$sink/vehicleposition")
      .select("uuid").collect().map(_.getString(0)).toSet
    assert(vp == Set("v1", "v3"))
    val un = spark.read.parquet(s"$sink/unsignedevent")
      .select("uuid").collect().map(_.getString(0)).toSet
    assert(un == Set("v2"))
  }

  test("each route is computed once: the count rides the write as an observed metric") {
    // r16: capture EVERY executed action during loadDay. Each route must
    // be computed by exactly one action — the sink write itself, with the
    // appended-row count as an observed metric on that write. The old
    // shape (persist → count() → append replaying the cache) ran two
    // jobs per route and round-tripped every fresh row through the block
    // store; a reappearing standalone count action over the route would
    // mean the regression came back.
    val plans = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += ((funcName, qe.executedPlan.toString)) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    sc.listenerManager.register(listener)
    try {
      val root = writeArchive()
      val sink = Files.createTempDirectory("hfpsink3").toString
      HfpLoadJob.loadDay(sc, root, sink, date)
      // listener delivery is async — poll until all four routes' writes
      // (stopevent, otherevent, vehicleposition, unsignedevent) arrive
      val deadline = System.nanoTime() + 10e9.toLong
      def writes = plans.synchronized {
        plans.map(_._2).filter(_.contains("InsertIntoHadoopFsRelation"))
      }
      while (writes.size < 4 && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(writes.size == 4, s"expected 4 route writes, got ${writes.size}")
      // each write computes its route in the SAME action: the anti-join
      // sits directly above the sink insert (CSV scan inline, or the
      // shared VP cast cache for the two VP routes)
      writes.foreach { p =>
        assert(p.contains("Join LeftAnti") || p.contains("BroadcastHashJoin"),
          p.take(800))
      }
      // and loadDay runs no count action at all: the routes' counts ride
      // their writes, and each group's key-snapshot count rides its one
      // eager localCheckpoint (three populated groups, three snapshots)
      val actions = plans.synchronized(plans.map(_._1).toList)
      assert(!actions.contains("count"), actions.mkString(", "))
      assert(actions.count(_ == "localCheckpoint") == 3, actions.mkString(", "))
    } finally sc.listenerManager.unregister(listener)
  }

  test("dedup scans are scoped per operating day (oday partition isolation)") {
    val root = Files.createTempDirectory("hfparchive2").toString
    val sink = Files.createTempDirectory("hfpsink2").toString
    val day2 = "2021-02-10"
    def put(name: String, lines: Seq[String]): Unit = {
      val d = Paths.get(root, "csv", "StopEvent")
      Files.createDirectories(d)
      Files.writeString(d.resolve(name), lines.mkString("\n") + "\n")
    }
    put(s"$date-0.csv", Seq(row(Map("uuid" -> "k1", "oday" -> date))))
    // SAME uuid on the next operating day: a different logical event in
    // the reference's model (dedup scans filter on oday, getEvents.ts:13)
    put(s"$day2-0.csv", Seq(row(Map("uuid" -> "k1", "oday" -> day2))))
    assert(HfpLoadJob.loadDay(sc, root, sink, date) == Map("stopevent" -> 1L))
    assert(HfpLoadJob.loadDay(sc, root, sink, day2) == Map("stopevent" -> 1L))
    // both days' rows present; re-running either day is still a no-op
    val rows = spark.read.parquet(s"$sink/stopevent")
      .select("uuid", "oday").collect()
    assert(rows.length == 2)
    assert(HfpLoadJob.loadDay(sc, root, sink, date) == Map("stopevent" -> 0L))
  }

  test("rows whose oday casts to NULL are appended once, not on every re-run") {
    import graft.sources.{DaySink, JdbcDaySink, ParquetDaySink}
    // castDate("") and castDate("garbage") are NULL: such rows are stored
    // under no day, so a key read of `oday = date` alone never sees them
    val root = Files.createTempDirectory("hfpnulloday").toString
    val d = Paths.get(root, "csv", "StopEvent")
    Files.createDirectories(d)
    Files.writeString(d.resolve(s"$date-0.csv"), Seq(
      row(Map("uuid" -> "e1", "oday" -> "")),
      row(Map("uuid" -> "g1", "oday" -> "garbage"))).mkString("\n") + "\n")
    val sinks: Seq[DaySink] = Seq(
      ParquetDaySink(Files.createTempDirectory("hfpnullodaysink").toString),
      JdbcDaySink("jdbc:derby:memory:graftnulloday;create=true",
        batchSize = 10, numPartitions = 1, bootstrapDdl = true))
    sinks.foreach { sink =>
      assert(HfpLoadJob.loadDay(sc, root, sink, date) == Map("stopevent" -> 2L), sink)
      assert(HfpLoadJob.loadDay(sc, root, sink, date) == Map("stopevent" -> 0L), sink)
    }
  }

  test("loadDay works through explicit file:// URIs (Hadoop FS probes, not java.io.File)") {
    // on a cluster every path is a URI (hdfs://, abfss://); java.io.File
    // probes would return false for all of them and the load would
    // silently no-op. Driving loadDay through file:// URIs exercises the
    // FileSystem-API path end-to-end: glob discovery, sink existence
    // probe, partitioned append.
    val root = "file://" + writeArchive()
    val sink = "file://" + Files.createTempDirectory("hfpsinkuri").toString
    val first = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(first == Map(
      "stopevent" -> 2L, "otherevent" -> 1L,
      "vehicleposition" -> 2L, "unsignedevent" -> 1L))
    // idempotent re-run through the URI sink: existing keys are FOUND
    // (a java.io.File probe would miss them and re-insert everything)
    val second = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(second.values.forall(_ == 0L), second.toString)
  }

  test("loadDay drives a real JDBC sink end-to-end (Derby), idempotent on re-run") {
    import graft.sources.{HfpCsvSource, JdbcDaySink, JdbcSink}
    val url = "jdbc:derby:memory:graftday;create=true"
    // the reference applies postgres_schema.sql by migration before any
    // load runs — mirror that: create the four sink tables up front
    val conn = java.sql.DriverManager.getConnection(url)
    try Seq("stopevent", "otherevent", "vehicleposition", "unsignedevent")
      .foreach { t =>
        try conn.createStatement().execute(JdbcSink.createTableDdl(
          t, HfpCsvSource.columns, HfpCsvSource.castTypes))
        catch { case _: java.sql.SQLException => () } // already exists
      }
    finally conn.close()
    val root = writeArchive()
    val sink = JdbcDaySink(url, batchSize = 50, numPartitions = 2)
    val first = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(first == Map(
      "stopevent" -> 2L, "otherevent" -> 1L,
      "vehicleposition" -> 2L, "unsignedevent" -> 1L))
    // the reference's core contract holds against the real sink too:
    // re-running the day inserts zero rows (anti-join vs the JDBC key
    // scan, reference hfpStorage.ts:15-16)
    val second = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(second.values.forall(_ == 0L), second.toString)
    // sink contents round-trip: correct uuids per table, typed oday
    val vp = spark.read.jdbc(url, "vehicleposition", new java.util.Properties())
    assert(vp.select("uuid").collect().map(_.getString(0)).toSet == Set("v1", "v3"))
    assert(vp.select("oday").distinct().collect()
      .map(_.getDate(0).toString).toSeq == Seq(date))
    // late data: only the new row lands
    val d = Paths.get(root, "csv", "StopEvent")
    Files.writeString(d.resolve(s"$date-9.csv"),
      row(Map("uuid" -> "s9", "oday" -> date, "journey_type" -> "journey")) + "\n")
    val third = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(third("stopevent") == 1L && third.values.sum == 1L)
    assert(spark.read.jdbc(url, "stopevent", new java.util.Properties())
      .count() == 3L)
  }

  test("JDBC sink with every anti-join shuffled: returned counts equal the rows each table gained") {
    import graft.sources.{HfpCsvSource, JdbcDaySink, JdbcSink}
    // Auto-broadcast off, so every route's anti-join shuffles under AQE.
    // This pins the failure of a writer that runs the plan in an extra
    // execution before inserting (Spark's own `numPartitions` option
    // probes `df.rdd`): the route's observed count then fires from that
    // execution as 0 while the insert still lands rows. The returned
    // counts must equal each table's actual COUNT(*) delta, both when the
    // sink coalesces below the shuffle's partitions and when it does not.
    val url = "jdbc:derby:memory:graftshuffled;create=true"
    val tables = Seq("stopevent", "otherevent", "vehicleposition", "unsignedevent")
    def rowCounts(): Map[String, Long] = {
      val conn = java.sql.DriverManager.getConnection(url)
      try tables.map { t =>
        val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
        try { rs.next(); t -> rs.getLong(1) } finally rs.close()
      }.toMap
      finally conn.close()
    }
    val conn = java.sql.DriverManager.getConnection(url)
    try tables.foreach { t =>
      try conn.createStatement().execute(JdbcSink.createTableDdl(
        t, HfpCsvSource.columns, HfpCsvSource.castTypes))
      catch { case _: java.sql.SQLException => () }
    } finally conn.close()
    val root = writeArchive()
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def loadAndCheck(numPartitions: Int, expected: Map[String, Long]): Unit = {
        val start = rowCounts()
        val got = HfpLoadJob.loadDay(sc, root,
          JdbcDaySink(url, batchSize = 50, numPartitions = numPartitions), date)
        val end = rowCounts()
        assert(got == expected, got.toString)
        tables.foreach { t =>
          assert(got.getOrElse(t, 0L) == end(t) - start(t),
            s"$t: returned ${got.getOrElse(t, 0L)}, table gained ${end(t) - start(t)}")
        }
      }
      loadAndCheck(1, Map("stopevent" -> 2L, "otherevent" -> 1L,
        "vehicleposition" -> 2L, "unsignedevent" -> 1L))
      // late rows in two groups, loaded with more connections than splits
      Files.writeString(Paths.get(root, "csv", "StopEvent", s"$date-1.csv"),
        row(Map("uuid" -> "s7", "oday" -> date)) + "\n")
      Files.writeString(Paths.get(root, "csv", "VehiclePosition", s"$date-1.csv"),
        Seq(row(Map("uuid" -> "v7", "oday" -> date, "journey_type" -> "journey")),
          row(Map("uuid" -> "v8", "oday" -> date, "journey_type" -> "deadrun")))
          .mkString("\n") + "\n")
      loadAndCheck(100, Map("stopevent" -> 1L, "otherevent" -> 0L,
        "vehicleposition" -> 1L, "unsignedevent" -> 1L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("VP group runs one anti-join: one key-side and one probe-side exchange") {
    import graft.sources.JdbcDaySink
    // Both VP routes anti-join the same key snapshot, and the route
    // filter commutes with the join, so the group joins once and splits
    // after. With auto-broadcast off the join shuffles: a join per route
    // would run four shuffle-map stages, one join runs two.
    val root = Files.createTempDirectory("hfpvpshape").toString
    val d = Paths.get(root, "csv", "VehiclePosition")
    Files.createDirectories(d)
    Files.writeString(d.resolve(s"$date-0.csv"), Seq(
      row(Map("uuid" -> "v1", "oday" -> date, "journey_type" -> "journey")),
      row(Map("uuid" -> "u1", "oday" -> date, "journey_type" -> "deadrun")))
      .mkString("\n") + "\n")
    val sink = JdbcDaySink("jdbc:derby:memory:graftvpshape;create=true",
      batchSize = 10, numPartitions = 1, bootstrapDdl = true)
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(HfpLoadJob.loadDay(sc, root, sink, date) ==
        Map("vehicleposition" -> 1L, "unsignedevent" -> 1L))
      // a late file re-run: both sides of the join hold rows
      Files.writeString(d.resolve(s"$date-1.csv"), Seq(
        row(Map("uuid" -> "v1", "oday" -> date, "journey_type" -> "journey")),
        row(Map("uuid" -> "v2", "oday" -> date, "journey_type" -> "journey")),
        row(Map("uuid" -> "u2", "oday" -> date, "journey_type" -> "deadrun")))
        .mkString("\n") + "\n")
      val (counts, stages, _) = launched(HfpLoadJob.loadDay(sc, root, sink, date))
      assert(counts == Map("vehicleposition" -> 1L, "unsignedevent" -> 1L), counts.toString)
      // the stages that ran and wrote shuffle output: exchange map sides
      // (a skipped stage carries no metrics)
      def written(s: org.apache.spark.scheduler.StageInfo) =
        Option(s.taskMetrics).map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L)
      val exchanges = stages.filter(written(_) > 0)
      assert(exchanges.size == 2,
        stages.map(s => s"${s.stageId}:${s.name}:${written(s)}").mkString("; "))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("VP re-run anti-joins the wire rows: the cast runs above the join") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.types.StringType
    import graft.functions.JsPrefixCast
    import graft.sources.JdbcDaySink
    // Catalyst never pushes the anti-join below the 44-column cast
    // Project, so the load core orders it by hand: a re-run casts only
    // the rows the join keeps, and the shuffled probe side carries the
    // wire strings
    val root = Files.createTempDirectory("hfpvpwire").toString
    val d = Paths.get(root, "csv", "VehiclePosition")
    Files.createDirectories(d)
    Files.writeString(d.resolve(s"$date-0.csv"), Seq(
      row(Map("uuid" -> "v1", "oday" -> date, "journey_type" -> "journey", "dl" -> "5")),
      row(Map("uuid" -> "u1", "oday" -> date, "journey_type" -> "deadrun")))
      .mkString("\n") + "\n")
    val sink = JdbcDaySink("jdbc:derby:memory:graftvpwire;create=true",
      batchSize = 10, numPartitions = 1, bootstrapDdl = true)
    // every node of an executed plan, through AQE stages and caches
    def expand(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: QueryStageExec => expand(q.plan)
      case m: InMemoryTableScanExec => expand(m.relation.cachedPlan)
      case other => other.children.flatMap(expand)
    })
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, t: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    import scala.jdk.CollectionConverters._
    // the anti-joins in the captured plans: both route writes read the
    // one cached join
    def joins = plans.asScala.toSeq.flatMap(expand).collect {
      case j: BaseJoinExec if j.joinType == LeftAnti => j
    }
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      HfpLoadJob.loadDay(sc, root, sink, date)
      Files.writeString(d.resolve(s"$date-1.csv"), Seq(
        row(Map("uuid" -> "v1", "oday" -> date, "journey_type" -> "journey")),
        row(Map("uuid" -> "v2", "oday" -> date, "journey_type" -> "journey")),
        row(Map("uuid" -> "u2", "oday" -> date, "journey_type" -> "deadrun")))
        .mkString("\n") + "\n")
      sc.listenerManager.register(listener)
      val counts = HfpLoadJob.loadDay(sc, root, sink, date)
      assert(counts == Map("vehicleposition" -> 1L, "unsignedevent" -> 1L), counts.toString)
      // listener delivery is async: wait for both route writes
      val deadline = System.nanoTime() + 10e9.toLong
      while (joins.size < 2 && System.nanoTime() < deadline) Thread.sleep(100)
    } finally {
      sc.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    }
    assert(joins.size == 2, plans.asScala.mkString("\n"))
    def casts(p: SparkPlan) = expand(p).exists(_.expressions.exists(_.exists {
      case _: JsPrefixCast => true
      case _ => false
    }))
    joins.foreach { j =>
      assert(!casts(j), s"a cast runs below the anti-join:\n$j")
      val probe = expand(j.left).collectFirst { case e: ShuffleExchangeExec => e }
        .getOrElse(fail(s"the anti-join's probe side is not shuffled:\n$j"))
      assert(probe.output.map(_.name) == HfpCsvSource.columns &&
        probe.output.forall(_.dataType == StringType),
        s"the probe-side exchange carries ${probe.output.map(a => s"${a.name}:${a.dataType.simpleString}")}")
    }
    // and the cast still runs, above the join
    assert(plans.asScala.exists(casts), plans.asScala.mkString("\n"))
  }

  test("the appended rows equal the cast-first formulation, quirks included") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.sources.ParquetDaySink
    // The load core anti-joins the wire rows and casts the survivors;
    // the reference casts every row and then probes the key set. Both
    // orders must append the same typed rows: the C4 filter, the key
    // match and the route read the same values either way.
    def tlpRow(overrides: Map[String, String]): String =
      HfpCsvSource.lightPriorityEventColumns
        .map(c => overrides.getOrElse(c, "x")).mkString(",")
    val root = Files.createTempDirectory("hfpwirequirks").toString
    def put(group: String, name: String, lines: Seq[String]): Unit = {
      val dir = Paths.get(root, "csv", group)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(name), lines.mkString("\n") + "\n")
    }
    // the first load: its keys are the snapshot the re-run dedups against
    put("StopEvent", s"$date-0.csv", Seq(
      row(Map("uuid" -> "s1", "oday" -> date, "dl" -> "5")),
      row(Map("uuid" -> "s2", "oday" -> "", "dl" -> "0"))))
    put("VehiclePosition", s"$date-0.csv", Seq(
      row(Map("uuid" -> "v1", "oday" -> date, "journey_type" -> "journey")),
      row(Map("uuid" -> "v2", "oday" -> "not-a-day", "journey_type" -> ""))))
    put("LightPriorityEvent", s"$date-0.csv", Seq(
      tlpRow(Map("uuid" -> "t1", "oday" -> date, "tlp_requestid" -> "42"))))
    val sinkDir = Files.createTempDirectory("hfpwirequirksink").toString
    val sink = ParquetDaySink(sinkDir)
    HfpLoadJob.loadDay(sc, root, sink, date, includeLightPriority = true)
    // the late files: re-sent keys (NULL-oday ones too), padded, quoted
    // and empty values, a within-run duplicate, and every journey_type
    // the route split has to get right
    put("StopEvent", s"$date-1.csv", Seq(
      row(Map("uuid" -> "s1", "oday" -> date)),
      row(Map("uuid" -> "s2", "oday" -> "")),
      row(Map("uuid" -> "  s3  ", "oday" -> s" $date ", "dl" -> "42px", "spd" -> "0.0",
        "drst" -> "false", "tst" -> "1612854765123")),
      row(Map("uuid" -> "\" s4 \"", "oday" -> "", "desi" -> "\" 55 , X \"")),
      row(Map("uuid" -> "\"\"", "oday" -> date)),
      row(Map("uuid" -> "   ", "oday" -> date)),
      row(Map("uuid" -> "s5", "oday" -> "garbage", "veh" -> "0")),
      row(Map("uuid" -> "s5", "oday" -> "garbage", "veh" -> "7"))))
    put("VehiclePosition", s"$date-1.csv", Seq(
      row(Map("uuid" -> "v1", "oday" -> date, "journey_type" -> "journey")),
      row(Map("uuid" -> "v2", "oday" -> "not-a-day", "journey_type" -> "")),
      row(Map("uuid" -> "v3", "oday" -> date, "journey_type" -> "journey")),
      row(Map("uuid" -> "v4", "oday" -> date, "journey_type" -> "")),
      row(Map("uuid" -> "v5", "oday" -> date, "journey_type" -> "\"\"")),
      row(Map("uuid" -> "v6", "oday" -> date, "journey_type" -> "  journey  ")),
      row(Map("uuid" -> "v7", "oday" -> date, "journey_type" -> "\" journey \"")),
      row(Map("uuid" -> "v8", "oday" -> "", "journey_type" -> "deadrun")),
      row(Map("uuid" -> "v9", "oday" -> "1612854765123", "journey_type" -> "journey"))))
    put("LightPriorityEvent", s"$date-1.csv", Seq(
      tlpRow(Map("uuid" -> "t1", "oday" -> date)),
      tlpRow(Map("uuid" -> "t2", "oday" -> "", "tlp_requestid" -> "garbage", "sid" -> "0")),
      tlpRow(Map("uuid" -> "t3", "oday" -> date, "tlp_prioritylevel" -> "  high  "))))

    // the cast-first formulation over every file, against the same key
    // snapshot, frozen (collected) before the re-run writes
    val groupTables = Seq(
      ("StopEvent", Seq("stopevent"), HfpCsvSource.columns),
      ("VehiclePosition", Seq("vehicleposition", "unsignedevent"), HfpCsvSource.columns),
      ("LightPriorityEvent", Seq("lightpriorityevent"), HfpCsvSource.lightPriorityEventColumns))
    def typedRows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).collect().toSeq
    val expected = groupTables.flatMap { case (group, tables, cols) =>
      // the listed files, as loadDay reads them (a glob would make the
      // reader stat the pattern and log a FileStreamSink WARN)
      val files = Files.list(Paths.get(root, "csv", group)).toArray.toSeq.map(_.toString)
      val typed =
        if (group == "LightPriorityEvent")
          HfpCsvSource.castAllLightPriority(HfpCsvSource.readLightPriority(spark, files: _*))
        else HfpCsvSource.castAll(HfpCsvSource.read(spark, files: _*))
      val keySeq = tables.flatMap(t =>
        sink.existingKeys(spark, t, date).collect().map(_.getString(0)))
      val keys = spark.createDataFrame(keySeq.map(Tuple1(_))).toDF("uuid")
      val fresh = typed.where(col("uuid").isNotNull && col("uuid") =!= "")
        .join(keys, Seq("uuid"), "left_anti")
      val routes =
        if (group == "VehiclePosition")
          Seq("vehicleposition" -> fresh.where(col("journey_type") === "journey"),
            "unsignedevent" -> fresh.where(
              col("journey_type").isNull || col("journey_type") =!= "journey"))
        else Seq(tables.head -> fresh)
      routes.map { case (t, df) => t -> (cols, typed.schema, typedRows(df, cols)) }
    }.toMap
    // what each table holds before the re-run, read with the cast schema
    def stored(t: String) = {
      val (cols, schema, _) = expected(t)
      typedRows(spark.read.schema(schema).parquet(s"$sinkDir/$t"), cols)
    }
    val held = expected.keys.map(t => t -> stored(t)).toMap
    val counts = HfpLoadJob.loadDay(sc, root, sink, date, includeLightPriority = true)

    def bag(rows: Seq[org.apache.spark.sql.Row]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    expected.foreach { case (t, (_, _, rows)) =>
      val appended = stored(t).diff(held(t))
      assert(counts(t) == rows.size, s"$t: $counts")
      assert(bag(appended) == bag(rows),
        s"$t appended:\n${appended.mkString("\n")}\nexpected:\n${rows.mkString("\n")}")
    }
    // the fixture exercises what it claims: NULL-oday survivors, an
    // empty journey_type routed to unsignedevent, the TLP casts
    def uuids(t: String) = expected(t)._3.map(_.getAs[String]("uuid")).toSet
    assert(uuids("stopevent") == Set("s3", " s4 ", "s5"), uuids("stopevent").toString)
    assert(expected("stopevent")._3.exists(_.isNullAt(HfpCsvSource.columns.indexOf("oday"))))
    assert(uuids("vehicleposition") == Set("v3", "v6", "v9"), uuids("vehicleposition").toString)
    assert(uuids("unsignedevent") == Set("v4", "v5", "v7", "v8"), uuids("unsignedevent").toString)
    assert(uuids("lightpriorityevent") == Set("t2", "t3"), uuids("lightpriorityevent").toString)
  }

  test("bootstrapDdl: loadDay against a ZERO-table database creates its tables from the generator") {
    import graft.sources.JdbcDaySink
    // the reference pre-applies its migration; the opt-in bootstrap is
    // the engine-side analog — a user pointing at an empty database
    // gets the dialect mapping's tables created on first touch
    // (Derby-safe types here; the Postgres dialect emits the
    // migration's own types, unit-tested in JdbcSinkSpec)
    val url = "jdbc:derby:memory:graftboot;create=true"
    val root = writeArchive()
    val sink = JdbcDaySink(url, batchSize = 50, numPartitions = 2,
      bootstrapDdl = true)
    val first = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(first == Map(
      "stopevent" -> 2L, "otherevent" -> 1L,
      "vehicleposition" -> 2L, "unsignedevent" -> 1L))
    // idempotent re-run through the bootstrapped tables
    val second = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(second.values.forall(_ == 0L), second.toString)
    // the created columns carry the generator's types: typed oday (DATE)
    // and comparable VARCHAR uuid (not Derby's CLOB default)
    val vp = spark.read.jdbc(url, "vehicleposition", new java.util.Properties())
    assert(vp.select("uuid").collect().map(_.getString(0)).toSet == Set("v1", "v3"))
    assert(vp.select("oday").schema.head.dataType ==
      org.apache.spark.sql.types.DateType)
    // a FRESH sink instance against the now-populated database must not
    // try to re-create (exists probe, both identifier casings)
    val again = JdbcDaySink(url, batchSize = 50, numPartitions = 2,
      bootstrapDdl = true)
    assert(HfpLoadJob.loadDay(sc, root, again, date).values.forall(_ == 0L))
    // default stays reference-faithful: no bootstrap, missing table fails
    val off = JdbcDaySink("jdbc:derby:memory:graftboot2;create=true",
      batchSize = 50, numPartitions = 2)
    intercept[Exception] { HfpLoadJob.loadDay(sc, root, off, date) }
  }

  test("VP group: same uuid in BOTH routes inserts both rows (frozen key set, JDBC sink)") {
    import graft.sources.{HfpCsvSource, JdbcDaySink, JdbcSink}
    // the reference snapshots the group's existing keys ONCE before any
    // write (hfpTask.ts:97-111), so a uuid arriving as one `journey`
    // row AND one non-journey row in the same run inserts into both
    // tables. An unpinned lazy build side would re-run the JDBC key
    // scan at route 2's action, see route 1's just-appended key, and
    // drop the second row.
    val url = "jdbc:derby:memory:graftfrozen;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try Seq("vehicleposition", "unsignedevent").foreach { t =>
      try conn.createStatement().execute(JdbcSink.createTableDdl(
        t, HfpCsvSource.columns, HfpCsvSource.castTypes))
      catch { case _: java.sql.SQLException => () }
    } finally conn.close()
    val root = Files.createTempDirectory("hfpfrozen").toString
    val d = Paths.get(root, "csv", "VehiclePosition")
    Files.createDirectories(d)
    Files.writeString(d.resolve(s"$date-0.csv"), Seq(
      row(Map("uuid" -> "dup", "oday" -> date, "journey_type" -> "journey")),
      row(Map("uuid" -> "dup", "oday" -> date, "journey_type" -> "deadrun")))
      .mkString("\n") + "\n")
    val sink = JdbcDaySink(url, batchSize = 10, numPartitions = 1)
    val first = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(first == Map("vehicleposition" -> 1L, "unsignedevent" -> 1L), first.toString)
    val p = new java.util.Properties()
    assert(spark.read.jdbc(url, "vehicleposition", p)
      .select("uuid").collect().map(_.getString(0)).toSeq == Seq("dup"))
    assert(spark.read.jdbc(url, "unsignedevent", p)
      .select("uuid").collect().map(_.getString(0)).toSeq == Seq("dup"))
    // re-run: the key now exists in both tables — nothing new
    val second = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(second.values.forall(_ == 0L), second.toString)
  }

  test("VP group: same uuid in BOTH routes inserts both rows (parquet sink)") {
    // the Derby twin of this case passed in r15 because JDBC writes
    // don't refresh cached plans — against the PARQUET sink a
    // persist+count pin is defeated by route 1's own append
    // (InsertIntoHadoopFsRelation refreshes every cached plan over the
    // written path, and the recompute re-lists the directory), so route
    // 2 dropped the row. The localCheckpoint pin leaves no file source
    // in the build side's plan for the refresh to touch.
    val root = Files.createTempDirectory("hfpdupparquet").toString
    val sink = Files.createTempDirectory("hfpdupparquetsink").toString
    val d = Paths.get(root, "csv", "VehiclePosition")
    Files.createDirectories(d)
    // seed run gives BOTH tables a real oday partition, so the dup
    // run's build side is a genuine parquet scan, not the empty frame
    Files.writeString(d.resolve(s"$date-0.csv"), Seq(
      row(Map("uuid" -> "v0", "oday" -> date, "journey_type" -> "journey")),
      row(Map("uuid" -> "u0", "oday" -> date, "journey_type" -> "deadrun")))
      .mkString("\n") + "\n")
    assert(HfpLoadJob.loadDay(sc, root, sink, date) ==
      Map("vehicleposition" -> 1L, "unsignedevent" -> 1L))
    Files.writeString(d.resolve(s"$date-1.csv"), Seq(
      row(Map("uuid" -> "dup", "oday" -> date, "journey_type" -> "journey")),
      row(Map("uuid" -> "dup", "oday" -> date, "journey_type" -> "deadrun")))
      .mkString("\n") + "\n")
    val second = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(second == Map("vehicleposition" -> 1L, "unsignedevent" -> 1L),
      second.toString)
    assert(spark.read.parquet(s"$sink/vehicleposition")
      .select("uuid").collect().map(_.getString(0)).toSet == Set("v0", "dup"))
    assert(spark.read.parquet(s"$sink/unsignedevent")
      .select("uuid").collect().map(_.getString(0)).toSet == Set("u0", "dup"))
    // re-run: both tables hold the key now — nothing new
    val third = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(third.values.forall(_ == 0L), third.toString)
  }

  test("groups are independent: the same uuid in TWO groups inserts into both tables") {
    // r17: the per-group chains execute overlapped (guide §2.6). That is
    // only sound because groups never interact — each group writes its
    // own table(s) and its dedup snapshot reads only those same tables.
    // Pin the one cross-group case that COULD have coupled them: a uuid
    // arriving in both StopEvent and OtherEvent in the same run must
    // insert into both tables (true of the sequential reference too —
    // dedup is per-table, hfpTask.ts:97-111), and a re-run must then be
    // a no-op for both.
    val root = Files.createTempDirectory("hfpxgroup").toString
    def put(group: String, lines: Seq[String]): Unit = {
      val d = Paths.get(root, "csv", group)
      Files.createDirectories(d)
      Files.writeString(d.resolve(s"$date-0.csv"), lines.mkString("\n") + "\n")
    }
    put("StopEvent", Seq(row(Map("uuid" -> "both", "oday" -> date))))
    put("OtherEvent", Seq(row(Map("uuid" -> "both", "oday" -> date))))
    val sink = Files.createTempDirectory("hfpxgroupsink").toString
    val first = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(first == Map("stopevent" -> 1L, "otherevent" -> 1L), first.toString)
    assert(spark.read.parquet(s"$sink/stopevent")
      .select("uuid").collect().map(_.getString(0)).toSeq == Seq("both"))
    assert(spark.read.parquet(s"$sink/otherevent")
      .select("uuid").collect().map(_.getString(0)).toSeq == Seq("both"))
    val second = HfpLoadJob.loadDay(sc, root, sink, date)
    assert(second.values.forall(_ == 0L), second.toString)
  }

  test("loadDay works when the archive and sink paths contain glob metacharacters") {
    // a base path with [ or { is literal directory naming, not pattern
    // syntax — the probe and the readers must agree on that (the old
    // java.io.File probe treated it literally; unescaped globStatus
    // throws or matches the wrong dirs)
    val base = Files.createTempDirectory("hfpglob")
    val root = base.resolve("arch[1]").toString
    val sink = base.resolve("sink{a}").toString
    def put(group: String, lines: Seq[String]): Unit = {
      val d = Paths.get(root, "csv", group)
      Files.createDirectories(d)
      Files.writeString(d.resolve(s"$date-0.csv"), lines.mkString("\n") + "\n")
    }
    put("StopEvent", Seq(row(Map("uuid" -> "g1", "oday" -> date))))
    assert(HfpLoadJob.loadDay(sc, root, sink, date) == Map("stopevent" -> 1L))
    // idempotent re-run: the sink probe + key scan also go through the
    // escaped path
    assert(HfpLoadJob.loadDay(sc, root, sink, date) == Map("stopevent" -> 0L))
  }

  test("loadDay reads the listed files: no FileStreamSink WARN") {
    // handed a glob, the reader's metadata-directory probe stats the
    // pattern as a path and logs a WARN with a FileNotFoundException
    // trace per group read
    val (counts, warns) = warnsLogged(
      classOf[org.apache.spark.sql.execution.streaming.sinks.FileStreamSink].getName) {
      HfpLoadJob.loadDay(sc, writeArchive(),
        Files.createTempDirectory("hfpwarnsink").toString, date)
    }
    assert(counts.values.sum == 6L, counts.toString)
    assert(warns.isEmpty, warns.mkString("\n"))
  }

  test("the key snapshots are freed without the lineage WARN") {
    // `RDD.unpersist` on a locally checkpointed RDD WARNs that its
    // lineage is truncated, once per populated group; the load frees
    // its snapshots' blocks without it
    val ctx = sc.sparkContext
    val before = ctx.getPersistentRDDs.keySet.toSet
    val (counts, warns) = warnsLogged(
      "org.apache.spark.rdd.MapPartitionsRDD") { // private[spark], no classOf
      HfpLoadJob.loadDay(sc, writeArchive(),
        Files.createTempDirectory("hfpunpinsink").toString, date)
    }
    assert(counts.size == 4 && counts.values.sum == 6L, counts.toString)
    val lineage = warns.filter(_.contains("was locally checkpointed"))
    assert(lineage.isEmpty, lineage.mkString("\n"))
    val snapshots = ctx.getPersistentRDDs.filter { case (id, rdd) =>
      !before.contains(id) && rdd.isCheckpointed
    }
    assert(snapshots.isEmpty, snapshots.values.mkString(", "))
  }

  test("opt-in LightPriorityEvent route loads the 57-column TLP wire format") {
    import graft.sources.{HfpCsvSource, ParquetDaySink}
    val root = writeArchive()
    // a TLP day file: 44 base columns + 13 tlp_* fields
    def tlpRow(overrides: Map[String, String]): String =
      HfpCsvSource.lightPriorityEventColumns
        .map(c => overrides.getOrElse(c, "x")).mkString(",")
    val d = Paths.get(root, "csv", "LightPriorityEvent")
    Files.createDirectories(d)
    Files.writeString(d.resolve(s"$date-0.csv"), Seq(
      tlpRow(Map("uuid" -> "t1", "oday" -> date, "tlp_prioritylevel" -> "high",
        "tlp_requestid" -> "42", "sid" -> "7")),
      tlpRow(Map("uuid" -> "t2", "oday" -> date, "tlp_requestid" -> "garbage")),
      tlpRow(Map("uuid" -> "", "oday" -> date))) // dropped by C4
      .mkString("\n") + "\n")
    val sinkDir = Files.createTempDirectory("hfpsinktlp").toString
    // default stays reference-faithful: the dead-DDL route is OFF
    val off = HfpLoadJob.loadDay(sc, root, ParquetDaySink(sinkDir), date)
    assert(!off.contains("lightpriorityevent"), off.toString)
    val on = HfpLoadJob.loadDay(sc, root, ParquetDaySink(sinkDir), date,
      includeLightPriority = true)
    assert(on("lightpriorityevent") == 2L)
    val tlp = spark.read.parquet(s"$sinkDir/lightpriorityevent")
    assert(tlp.columns.length == HfpCsvSource.lightPriorityEventColumns.length)
    val byId = tlp.collect().map(r => r.getAs[String]("uuid") -> r).toMap
    // TLP int casts apply (42 parses; 'garbage' nets to NULL)
    assert(byId("t1").getAs[Long]("tlp_requestid") == 42L)
    assert(byId("t1").getAs[Long]("sid") == 7L)
    assert(byId("t1").getAs[String]("tlp_prioritylevel") == "high")
    assert(byId("t2").isNullAt(byId("t2").fieldIndex("tlp_requestid")))
    // re-run with the route on: idempotent there too
    val again = HfpLoadJob.loadDay(sc, root, ParquetDaySink(sinkDir), date,
      includeLightPriority = true)
    assert(again.values.forall(_ == 0L), again.toString)
  }

  test("sinkFor: jdbc: URLs select the JDBC sink with secrets-resolved credentials") {
    import graft.sources.{JdbcDaySink, ParquetDaySink}
    val secrets = Files.createTempDirectory("hfpsecrets")
    Files.writeString(secrets.resolve("PGPASSWORD2"), "fromfile\n")
    val env = Map("PGUSER" -> "app", "PGPASSWORD" -> "fromenv",
      "EVENT_BATCH_SIZE" -> "250")
    HfpLoadJob.sinkFor("jdbc:postgresql://h:5432/db", env, secrets.toString) match {
      case j: JdbcDaySink =>
        assert(j.url == "jdbc:postgresql://h:5432/db")
        assert(j.user == "app")
        assert(j.password == "fromfile") // X1: versioned secrets file wins
        assert(j.batchSize == 250 && j.numPartitions == 100)
        assert(!j.bootstrapDdl) // default: tables pre-exist by migration
      case other => fail(s"expected JdbcDaySink, got $other")
    }
    // opt-in DDL bootstrap rides the same env resolution
    HfpLoadJob.sinkFor("jdbc:postgresql://h:5432/db",
      env + ("GRAFT_BOOTSTRAP_DDL" -> "true"), secrets.toString) match {
      case j: JdbcDaySink => assert(j.bootstrapDdl)
      case other => fail(s"expected JdbcDaySink, got $other")
    }
    assert(HfpLoadJob.sinkFor("/data/warehouse", env, secrets.toString) ==
      ParquetDaySink("/data/warehouse"))
  }

  test("sinkFor: credentials are trimmed — the validated value IS the used value") {
    import graft.sources.JdbcDaySink
    // a secrets file that preserves a trailing space would otherwise
    // pass the nonEmpty check yet send " app " verbatim to the JDBC
    // driver, failing auth at connect time — the late failure the
    // fail-fast check exists to avoid. The password only sheds the
    // trailing newline a secrets FILE appends: spaces can be a
    // legitimate part of a password and must survive.
    val secrets = Files.createTempDirectory("hfptrim")
    val env = Map("PGUSER" -> " app ", "PGPASSWORD" -> " p w \r\n")
    HfpLoadJob.sinkFor("jdbc:postgresql://h/db", env, secrets.toString) match {
      case j: JdbcDaySink =>
        assert(j.user == "app")
        assert(j.password == " p w ")
      case other => fail(s"expected JdbcDaySink, got $other")
    }
  }

  test("broadcast key gate derives from the session's autoBroadcastJoinThreshold") {
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // default budget (10 MB) over the ~224 B/key relation estimate:
      // ~46k keys — the same ceiling Spark itself applies to sources
      // that report statistics, instead of a fixed 1M-row constant
      // whose hashed relation (~160 MB) could pressure a default-sized
      // driver heap
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L * 1024 * 1024).toString)
      assert(HfpLoadJob.broadcastKeyRows(sc) ==
        10L * 1024 * 1024 / HfpLoadJob.BroadcastKeyRowBytes)
      // disabling auto-broadcast disables the hint too
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(HfpLoadJob.broadcastKeyRows(sc) == 0L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("sinkFor: jdbc: URLs fail fast when credentials are missing") {
    // the reference's config resolution REQUIRES the secrets
    // (constants.ts:35-43); a silent "" default would fail late at
    // connect time or connect unauthenticated
    val secrets = Files.createTempDirectory("hfpnosecrets")
    val noUser = intercept[IllegalArgumentException] {
      HfpLoadJob.sinkFor("jdbc:postgresql://h/db",
        Map("PGPASSWORD" -> "pw"), secrets.toString)
    }
    assert(noUser.getMessage.contains("PGUSER"))
    val noPass = intercept[IllegalArgumentException] {
      HfpLoadJob.sinkFor("jdbc:postgresql://h/db",
        Map("PGUSER" -> "app"), secrets.toString)
    }
    assert(noPass.getMessage.contains("PGPASSWORD"))
    // blank values count as missing
    intercept[IllegalArgumentException] {
      HfpLoadJob.sinkFor("jdbc:postgresql://h/db",
        Map("PGUSER" -> " ", "PGPASSWORD" -> "pw"), secrets.toString)
    }
    // a set batch size or concurrency must be a positive integer: "0"
    // would otherwise fail only inside coalesce(0) at the first write
    val creds = Map("PGUSER" -> "app", "PGPASSWORD" -> "pw")
    for (key <- Seq("EVENT_BATCH_SIZE", "INSERT_CONCURRENCY");
        v <- Seq("0", "-1", "abc")) {
      val bad = intercept[IllegalArgumentException] {
        HfpLoadJob.sinkFor("jdbc:postgresql://h/db", creds + (key -> v),
          secrets.toString)
      }
      assert(bad.getMessage.contains(key), bad.getMessage)
    }
    // blank keeps the reference default, as unset does
    HfpLoadJob.sinkFor("jdbc:postgresql://h/db",
      creds ++ Map("EVENT_BATCH_SIZE" -> " ", "INSERT_CONCURRENCY" -> ""),
      secrets.toString) match {
      case j: graft.sources.JdbcDaySink =>
        assert(j.batchSize == 1000 && j.numPartitions == 100)
      case other => fail(s"expected JdbcDaySink, got $other")
    }
    // the parquet twin needs no credentials at all
    import graft.sources.ParquetDaySink
    assert(HfpLoadJob.sinkFor("/wh", Map.empty, secrets.toString) ==
      ParquetDaySink("/wh"))
  }

  test("X2: CLI date validation accepts real dates, rejects malformed ones") {
    assert(HfpLoadJob.validateDate("2024-01-15") == Right("2024-01-15"))
    assert(HfpLoadJob.validateDate("2024-02-29") == Right("2024-02-29")) // leap
    assert(HfpLoadJob.validateDate("2023-02-29").isLeft) // not a leap year
    assert(HfpLoadJob.validateDate("2024-13-01").isLeft)
    assert(HfpLoadJob.validateDate("2024-00-10").isLeft)
    assert(HfpLoadJob.validateDate("15-01-2024").isLeft)
    assert(HfpLoadJob.validateDate("2024-1-5").isLeft)
    assert(HfpLoadJob.validateDate("").isLeft)
    assert(HfpLoadJob.validateDate("not-a-date").isLeft)
  }
}
