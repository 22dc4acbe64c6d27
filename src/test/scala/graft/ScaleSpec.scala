package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.HfpPipeline
import graft.sources.ParquetDaySink

/** Scale-pattern checks: partition-pruned re-reads of the routed sink
  * output.
  */
class ScaleSpec extends SparkSuite {

  test("oday-partitioned sink output prunes partitions on re-read") {
    val base = Files.createTempDirectory("graft-sink").toString
    val out = HfpPipeline.full(sc, sfDir)
    ParquetDaySink(base).append(out.where(col("target_table") === "vehicleposition")
      .drop("target_table"), "vehicleposition")
    val days = spark.read.parquet(s"$base/vehicleposition")
      .select("oday").distinct().collect().map(_.get(0)).filter(_ != null)
    assert(days.length > 1)
    val one = spark.read.parquet(s"$base/vehicleposition")
      .where(col("oday") === lit(days.head.toString))
    val p = one.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(oday"), p.take(1500))
    assert(one.count() > 0)
  }

  test("salted join equals the plain join under a forced shuffle plan") {
    import graft.operators.ScaleOps
    val ev = graft.sources.Tables(sc, sfDir, "events")
      .select(col("event_id"), col("user_id"))
    val users = graft.sources.Tables(sc, sfDir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plain = ev.join(users, "user_id")
        .orderBy("event_id").collect().toSeq
      val salted = ScaleOps.saltedJoin(ev, users, "user_id")
        .select("user_id", "event_id", "n_events")
        .orderBy("event_id").collect().toSeq
      assert(salted == plain)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("dedup anti-join degrades to a shuffled join with identical results") {
    import graft.operators.HfpPipeline
    val broadcastPlan = SparkEntry.queries("hfp_dedup_anti")(sc, sfDir)
    val broadcastRows = broadcastPlan.collect().toSeq
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = SparkEntry.queries("hfp_dedup_anti")(sc, sfDir)
      val p = shuffled.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p.take(800))
      assert(p.contains("LeftAnti"), p.take(800))
      assert(shuffled.collect().toSeq == broadcastRows)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("bucketed tables co-locate the join: zero exchanges in the plan") {
    // The 100 TB fact-fact join path: both sides bucketed on the join
    // key → SortMergeJoin reads bucket i against bucket i directly, no
    // shuffle stage at all. Broadcast is disabled so the test proves
    // bucketing (not the broadcast threshold) removed the exchanges.
    val s = sc
    graft.sources.Tables(s, sfDir, "orders").write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_bkt")
    graft.sources.Tables(s, sfDir, "customer").write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_bkt")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_bkt")
        .join(spark.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(2000))
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // At 100 TB a selective dim filter should reach the fact scan as a
    // runtime bloom filter (row-level semi-join pushdown). Thresholds
    // are lowered so the tiny test tables qualify for injection.
    val s = sc
    val set = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val orders = graft.sources.Tables(s, sfDir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
      val j = graft.sources.Tables(s, sfDir, "lineitem")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"), opt.take(2000))
      assert(j.collect().head.getLong(1) > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_salted_join: plan joins on the salt column under shuffle-hash") {
    val plan = SparkEntry.queries("q_salted_join")(sc, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), "join must carry the salt key")
    assert(!plan.contains("BroadcastHashJoin"),
      "broadcast would bypass the skew machinery under test")
  }

  test("salted aggregation equals the direct formulation") {
    val salted = graft.operators.ScaleOps.queries("q_salted_agg")(sc, sfDir).collect()
    val direct = graft.sources.Tables(sc, sfDir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
      .orderBy("event_type").collect()
    assert(salted.toSeq == direct.toSeq)
  }
}
