package graft

import org.apache.spark.sql.functions._
import graft.sources.{JdbcDaySink, JdbcSink}

/** Real JDBC round trip against embedded Derby (ships with Spark):
  * exercises the K1/K2 sink (batched concurrent append) and the S3 key
  * scan with pushdown — the full reference sink/scan surface, not just
  * its configuration.
  */
class JdbcSinkSpec extends SparkSuite {

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val sink = JdbcDaySink(url, batchSize = 50, numPartitions = 2)

  test("append writes batched+partitioned; key scan pushes filter and projection") {
    import spark.implicits._
    // pre-create with VARCHAR columns: Spark's Derby dialect would map
    // StringType to CLOB, which Derby can't compare against literals
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE hfp_keys (uuid VARCHAR(64), oday VARCHAR(16), value DOUBLE)")
    catch { case _: java.sql.SQLException => () } // already exists
    finally conn.close()
    val day1 = (1 to 100).map(i => (s"u$i", "2021-02-09", i.toDouble))
    val day2 = (101 to 120).map(i => (s"u$i", "2021-02-10", i.toDouble))
    val df = sc.createDataFrame(day1 ++ day2).toDF("uuid", "oday", "value")
    sink.append(df, "hfp_keys")

    val keys = sink.existingKeys(spark, "hfp_keys", "2021-02-09")
    assert(keys.columns.toSeq == Seq("uuid"))
    val got = keys.collect().map(_.getString(0)).toSet
    assert(got == (1 to 100).map(i => s"u$i").toSet)

    // the filter reaches the database (JDBC pushdown, reference S3)
    val plan = keys.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.toLowerCase.contains("equalto(oday"),
      plan.take(1200))

    // idempotent reload: anti-join against existing keys -> nothing new
    val fresh = df.where(col("oday") === "2021-02-09")
      .join(sink.existingKeys(spark, "hfp_keys", "2021-02-09"), Seq("uuid"), "left_anti")
    assert(fresh.count() == 0)

    // late data for the same day: only the new rows land
    val late = Seq(("u999", "2021-02-09", 999.0)).toDF("uuid", "oday", "value")
    sink.append(
      late.join(sink.existingKeys(spark, "hfp_keys", "2021-02-09"), Seq("uuid"), "left_anti"),
      "hfp_keys")
    assert(sink.existingKeys(spark, "hfp_keys", "2021-02-09").count() == 101)
  }

  test("append bounds concurrency by coalescing: no shuffle, at most numPartitions tasks") {
    // INSERT_CONCURRENCY caps the concurrent connections (the reference's
    // PQueue); it must not force that many tasks, nor a shuffle to make
    // them. 8 upstream splits written with numPartitions = 2 insert in
    // at most 2 tasks, straight off the source.
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE coalesce_rows (uuid VARCHAR(64), oday VARCHAR(16), value DOUBLE)")
    catch { case _: java.sql.SQLException => () }
    finally conn.close()
    val df = spark.range(0, 80, 1, 8).select(
      concat(lit("c"), col("id").cast("string")).as("uuid"),
      lit("2021-02-09").as("oday"), col("id").cast("double").as("value"))
    assert(df.rdd.getNumPartitions == 8)
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand
    // the query the JDBC writer executes, captured from its save command
    val plans = scala.collection.mutable.ArrayBuffer[LogicalPlan]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, d: Long): Unit =
        qe.logical.collectFirst { case c: SaveIntoDataSourceCommand => c.query }
          .foreach(q => plans.synchronized { plans += q })
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    sc.listenerManager.register(qel)
    val (_, stages, tasks) =
      try launched {
        sink.append(df, "coalesce_rows")
      } finally sc.listenerManager.unregister(qel)
    assert(tasks.nonEmpty && tasks.size <= 2, s"insert ran ${tasks.size} tasks")
    assert(stages.size == 1 && tasks.forall(_ == "ResultTask"),
      stages.map(s => s"${s.stageId}:${s.name}").mkString("; ") + " / " + tasks)
    // the physical plan the writer executes carries no Exchange
    assert(plans.size == 1, plans.mkString("\n"))
    val executed = spark.sessionState.executePlan(plans.head).executedPlan.toString
    assert(!executed.contains("Exchange"), executed)
    assert(spark.read.jdbc(url, "coalesce_rows", new java.util.Properties())
      .count() == 80L)
  }

  test("pinned small key side broadcasts the anti-join through the Derby sink") {
    import spark.implicits._
    // a JDBC relation reports NO statistics, so Spark alone never
    // auto-broadcasts the key scan even when a day holds 100 keys —
    // the count taken while pinning the build side (HfpLoadJob
    // .pinnedBuildSide) is what licenses the explicit hint
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE bc_keys (uuid VARCHAR(64), oday VARCHAR(16))")
    catch { case _: java.sql.SQLException => () }
    finally conn.close()
    val bcSink = JdbcDaySink(url, batchSize = 50, numPartitions = 1)
    bcSink.append(
      (1 to 5).map(i => (s"k$i", "2021-02-09")).toDF("uuid", "oday"), "bc_keys")
    val (buildSide, unpin) = graft.jobs.HfpLoadJob.pinnedBuildSide(
      bcSink.existingKeys(spark, "bc_keys", "2021-02-09"))
    try {
      val incoming = Seq("k1", "k9").toDF("uuid")
      val fresh = incoming.join(buildSide, Seq("uuid"), "left_anti")
      assert(fresh.collect().map(_.getString(0)).toSeq == Seq("k9"))
      val plan = fresh.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        plan.take(1200))
    } finally unpin()
  }

  test("Postgres dialect DDL reproduces the reference migration's column types") {
    import graft.sources.HfpCsvSource
    // expected types transcribed from the reference migration
    // (postgres_schema.sql:65-112; TLP-only columns :44-56) — the
    // five event tables declare identical types per column name
    val expected = Map(
      "owner_operator_id" -> "smallint", "direction_id" -> "smallint",
      "geohash_level" -> "smallint", "dir" -> "smallint",
      "oper" -> "smallint", "hdg" -> "smallint", "line" -> "smallint",
      "occu" -> "smallint", "seq" -> "smallint", "dr_type" -> "smallint",
      "vehicle_number" -> "integer", "veh" -> "integer",
      "dl" -> "integer", "jrn" -> "integer", "stop" -> "integer",
      "tlp_requestid" -> "integer", "tlp_att_seq" -> "integer",
      "sid" -> "integer", "signal_groupid" -> "integer",
      "tlp_signalgroupnbr" -> "integer", "tlp_line_configid" -> "integer",
      "tlp_point_configid" -> "integer", "tlp_frequency" -> "integer",
      "tsi" -> "bigint", "version" -> "bigint",
      "acc" -> "double precision", "spd" -> "double precision",
      "lat" -> "double precision", "long" -> "double precision",
      "odo" -> "double precision", "topic_latitude" -> "double precision",
      "topic_longitude" -> "double precision",
      "is_ongoing" -> "boolean", "drst" -> "boolean",
      "journey_start_time" -> "time", "start" -> "time",
      "tst" -> "timestamp with time zone",
      "received_at" -> "timestamp with time zone",
      "oday" -> "date", "uuid" -> "uuid")
      .withDefault(_ => "varchar(255)")
    // the 57-column TLP list is a superset of the 44 wire columns, so
    // one sweep covers every column of every reference table
    val ddl = JdbcSink.createTableDdl("lightpriorityevent",
      HfpCsvSource.lightPriorityEventColumns,
      HfpCsvSource.lightPriorityCastTypes, JdbcSink.Postgres)
    val body = ddl.stripPrefix("CREATE TABLE lightpriorityevent (").stripSuffix(")")
    val got = body.split(", ").map { colDef =>
      val Array(name, tpe) = colDef.split(" ", 2)
      name -> tpe
    }.toMap
    assert(got.size == HfpCsvSource.lightPriorityEventColumns.size)
    HfpCsvSource.lightPriorityEventColumns.foreach { c =>
      assert(got(c) == expected(c), s"column $c: got ${got(c)}, want ${expected(c)}")
    }
    // the Derby-safe default is unchanged: BIGINT/VARCHAR from the cast table
    val derby = JdbcSink.createTableDdl("stopevent",
      HfpCsvSource.columns, HfpCsvSource.castTypes)
    assert(derby.contains("tsi BIGINT") && derby.contains("uuid VARCHAR(255)"))
  }
}
