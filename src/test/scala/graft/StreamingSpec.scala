package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

/** The streaming twin produces the same hourly aggregation the batch
  * query does (modulo windows held back by the final watermark).
  */
class StreamingSpec extends SparkSuite {

  test("file-source stream + watermark + tumbling window drains to memory") {
    val events = EventsStream.readEvents(sc, sfDir, "events.parquet")
    assert(events.isStreaming)
    val agg = EventsStream.hourlyCounts(events)
    val q = EventsStream.runToMemory(spark, agg, "hourly_test")
    try {
      val got = spark.sql("SELECT * FROM hourly_test")
        .collect().map(r => (r.getAs[java.sql.Timestamp]("hour_start"), r.getAs[String]("event_type")) -> r.getAs[Long]("n")).toMap
      // batch truth
      val batch = graft.operators.Analytics.queries("q_tumbling_window")(spark, sfDir)
        .collect().map(r => (r.getAs[java.sql.Timestamp]("hour_start"), r.getAs[String]("event_type")) -> r.getAs[Long]("n")).toMap
      assert(got.nonEmpty)
      // every emitted streaming window agrees with the batch result
      got.foreach { case (k, n) => assert(batch(k) == n, s"window $k") }
    } finally q.stop()
  }

  test("sliding windows (1h/15min) agree with the batch formulation") {
    val events = EventsStream.readEvents(sc, sfDir, "events.parquet")
    val q = EventsStream.runToMemory(spark, EventsStream.slidingCounts(events), "sliding_test")
    try {
      val got = spark.sql("SELECT * FROM sliding_test").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("win_start"), r.getAs[String]("event_type")) -> r.getAs[Long]("n")).toMap
      val batch = graft.sources.Tables(sc, sfDir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
        .collect()
        .map(r => (r.getAs[java.sql.Timestamp]("win_start"), r.getAs[String]("event_type")) -> r.getAs[Long]("n")).toMap
      assert(got.nonEmpty)
      got.foreach { case (k, n) => assert(batch(k) == n, s"window $k") }
      // each event lands in exactly 4 overlapping windows
      assert(got.values.sum <= 4 * graft.sources.Tables(sc, sfDir, "events").count())
    } finally q.stop()
  }

  test("stream-static join enriches the stream without state") {
    // dimension enrichment: static side broadcasts into every
    // micro-batch; no watermark or state store involved
    val events = EventsStream.readEvents(sc, sfDir, "events.parquet")
    val dim = spark.createDataFrame(
      Seq(("view", "read"), ("click", "engage"), ("purchase", "convert"),
        ("signup", "acquire"), ("error", "fault"))).toDF("event_type", "category")
    val enriched = events.join(org.apache.spark.sql.functions.broadcast(dim), "event_type")
    val q = EventsStream.runToMemory(spark, enriched, "enrich_test")
    try {
      val n = spark.sql("SELECT count(*) FROM enrich_test").collect()(0).getLong(0)
      assert(n == graft.sources.Tables(sc, sfDir, "events").count())
      val cats = spark.sql("SELECT count(DISTINCT category) FROM enrich_test").collect()(0).getLong(0)
      assert(cats == 5L)
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user counts across batches") {
    import org.apache.spark.sql.streaming.OutputMode
    val events = EventsStream.readEvents(sc, sfDir, "events.parquet")
    val counts = EventsStream.runningUserCounts(spark, events)
    val q = counts.writeStream
      .outputMode(OutputMode.Update())
      .format("memory").queryName("usercounts_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    try {
      // last state per user == the batch group count
      val got = spark.sql(
        "SELECT user_id, max(n) AS n FROM usercounts_test GROUP BY user_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.sources.Tables(sc, sfDir, "events")
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("stream-stream interval join: purchases to later errors per user") {
    import org.apache.spark.sql.functions.expr
    val purchases = EventsStream.readEvents(sc, sfDir, "events.parquet")
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val errors = EventsStream.readEvents(sc, sfDir, "events.parquet")
      .where(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = purchases.join(errors,
      expr("p_user = e_user AND e_ts > p_ts AND e_ts <= p_ts + interval 30 minutes"))
    val q = EventsStream.runToMemory(spark, joined, "ssjoin_test")
    try {
      val got = spark.sql("SELECT count(*) FROM ssjoin_test").collect()(0).getLong(0)
      // batch truth for the same interval join
      val ev = graft.sources.Tables(sc, sfDir, "events")
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      val er = ev.where(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
      val want = p.join(er,
        expr("p_user = e_user AND e_ts > p_ts AND e_ts <= p_ts + interval 30 minutes")).count()
      assert(got == want, s"stream=$got batch=$want")
    } finally q.stop()
  }

  test("foreachBatch sink routes micro-batches through the batch writer") {
    val outDir = java.nio.file.Files.createTempDirectory("fb-sink").toString
    val events = EventsStream.readEvents(sc, sfDir, "events.parquet")
    val agg = EventsStream.hourlyCounts(events)
    val q = EventsStream.sinkTo(agg, (batch, _) =>
      if (!batch.isEmpty) batch.write.mode("append").parquet(s"$outDir/hourly"))
      .start()
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(s"$outDir/hourly")
    assert(written.count() > 0)
    assert(written.columns.toSet ==
      Set("hour_start", "event_type", "n", "sum_value"))
  }

  test("streaming dedup (watermark + custom TTL) drops duplicate event_ids") {
    // duplicate the whole events file: same rows arrive twice
    val inDir = java.nio.file.Files.createTempDirectory("dedup-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("b.parquet"))
    val nDistinct = graft.sources.Tables(sc, sfDir, "events")
      .select("event_id").distinct().count()

    // built-in tier: dropDuplicatesWithinWatermark
    val wmDedup = EventsStream.dedupWithinWatermark(
      EventsStream.readEvents(sc, inDir.toString))
    val q1 = EventsStream.runToMemory(spark, wmDedup, "wm_dedup_test")
    try {
      val got = spark.sql("SELECT count(DISTINCT event_id) c, count(*) n FROM wm_dedup_test").collect()(0)
      assert(got.getLong(0) == nDistinct, "every id survives exactly the dedup")
      assert(got.getLong(1) == nDistinct, s"duplicates leaked: ${got.getLong(1)} rows")
    } finally q1.stop()

    // custom tier: flatMapGroupsWithState with sliding TTL
    val ttlDedup = EventsStream.dedupWithTtl(spark,
      EventsStream.readEvents(sc, inDir.toString))
    val q2 = ttlDedup.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("ttl_dedup_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.processAllAvailable()
    try {
      val got = spark.sql("SELECT count(DISTINCT value) c, count(*) n FROM ttl_dedup_test").collect()(0)
      assert(got.getLong(0) == nDistinct)
      assert(got.getLong(1) == nDistinct)
    } finally q2.stop()
  }

  test("streaming sessionization emits closed sessions matching batch session_window") {
    val ev = EventsStream.readEvents(sc, sfDir, "events.parquet")
    val sess = EventsStream.sessionize(spark, ev)
    val q = sess.toDF().writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("sess_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    try {
      val got = spark.sql("SELECT * FROM sess_test").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime) ->
          (r.getTimestamp(2).getTime, r.getLong(3), r.getDouble(4))).toMap
      assert(got.nonEmpty, "no sessions closed")
      val batch = graft.sources.Tables(sc, sfDir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"), sum("value").as("s"), max("ts").as("last_ts"))
        .collect()
        .map(r => (r.getLong(0), r.getStruct(1).getTimestamp(0).getTime) ->
          (r.getAs[java.sql.Timestamp]("last_ts").getTime,
            r.getLong(2), r.getDouble(3))).toMap
      // every emitted session matches the batch session_window exactly
      got.foreach { case (k, (end, n, s)) =>
        val (bEnd, bN, bS) = batch.getOrElse(k, fail(s"spurious session $k"))
        assert(end == bEnd && n == bN, s"session $k: ($end,$n) vs ($bEnd,$bN)")
        assert(math.abs(s - bS) < 1e-6)
      }
      // and every batch session that safely closed before the final
      // watermark (max ts − 10 min watermark − 30 min gap) was emitted
      val maxTs = graft.sources.Tables(sc, sfDir, "events")
        .agg(max("ts")).head.getTimestamp(0).getTime
      val safe = batch.filter { case (_, (end, _, _)) =>
        end + 30 * 60 * 1000L < maxTs - 10 * 60 * 1000L }
      safe.keys.foreach(k => assert(got.contains(k), s"unclosed safe session $k"))
    } finally q.stop()
  }

  test("checkpointed restart processes each file exactly once") {
    val inDir = java.nio.file.Files.createTempDirectory("ckpt-in")
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-state").toString
    val outDir = java.nio.file.Files.createTempDirectory("ckpt-out").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), inDir.resolve("a.parquet"))

    def runOnce(): Unit = {
      val ev = EventsStream.readEvents(sc, inDir.toString)
      val q = ev.select("event_id").writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$outDir/rows")
        .start()
      q.processAllAvailable(); q.stop()
    }

    runOnce()
    val n1 = spark.read.parquet(s"$outDir/rows").count()
    val nFile = graft.sources.Tables(sc, sfDir, "events").count()
    assert(n1 == nFile, s"first run wrote $n1, file has $nFile")

    // restart with the SAME checkpoint and no new data: nothing re-emits
    runOnce()
    assert(spark.read.parquet(s"$outDir/rows").count() == nFile,
      "restart without new data re-processed the old file")

    // add a second file and restart: exactly the delta is appended
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), inDir.resolve("b.parquet"))
    runOnce()
    assert(spark.read.parquet(s"$outDir/rows").count() == 2 * nFile,
      "restart with one new file must append exactly that file's rows")
  }

  test("streaming cell occupancy agrees with the batch grid aggregation") {
    val events = EventsStream.readEvents(sc, sfDir, "events.parquet")
    val q = EventsStream.runToMemory(spark, EventsStream.cellOccupancy(events), "cells_test")
    try {
      val got = spark.sql("SELECT * FROM cells_test").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("hour_start"), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      val h1 = graft.functions.PortableHash.hash64(col("event_id").cast("string"))
      val h2 = graft.functions.PortableHash.hash64(col("event_id").cast("string"), 7)
      val batch = graft.sources.Tables(sc, sfDir, "events")
        .withColumn("cx", floor((h1 % 40000L).cast("double") * lit(1e-5) / 0.01).cast("long"))
        .withColumn("cy", floor((h2 % 50000L).cast("double") * lit(1e-5) / 0.01).cast("long"))
        .groupBy(window(col("ts"), "1 hour"), col("cx"), col("cy"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("hour_start"), col("cx"), col("cy"), col("n"))
        .collect()
        .map(r => (r.getAs[java.sql.Timestamp]("hour_start"), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      assert(got.nonEmpty)
      got.foreach { case (k, n) => assert(batch(k) == n, s"cell-window $k") }
    } finally q.stop()
  }

  test("chained stateful seq-pattern stream agrees with the batch miner core") {
    val events = EventsStream.readEvents(sc, sfDir, "events.parquet")
    val q = EventsStream.runToMemory(spark, EventsStream.seqPatterns(events), "seqpat_test")
    try {
      val got = spark.sql("SELECT * FROM seqpat_test").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("win_start"), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      // batch truth: per-(window, user, type) first/last occurrence,
      // pair join, per-window supporting-user counts — the q_seq_mining
      // core without the corpus-level support rollup
      val pt = graft.sources.Tables(sc, sfDir, "events")
        .groupBy(window(col("ts"), "10 minutes"), col("user_id"), col("event_type"))
        .agg(min(struct(col("ts"), col("event_id"))).as("f"),
          max(struct(col("ts"), col("event_id"))).as("l"))
      val batch = pt.as("x").join(pt.as("y"), Seq("window", "user_id"))
        .where(col("x.event_type") =!= col("y.event_type") && col("x.f") < col("y.l"))
        .groupBy(col("window.start").as("win_start"),
          col("x.event_type").as("a"), col("y.event_type").as("b"))
        .agg(count(lit(1)).as("n_users"))
        .collect()
        .map(r => (r.getAs[java.sql.Timestamp]("win_start"), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      assert(got.nonEmpty)
      got.foreach { case (k, n) => assert(batch(k) == n, s"pattern $k") }
    } finally q.stop()
  }
}
