package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Runtime re-planning gates: AQE must split skewed join partitions
  * (the mechanism that saves a 100 TB shuffle join from one hot key)
  * and the GraftSession factory must encode the engine's scale
  * posture.
  */
class AqeSpec extends SparkSuite {

  test("AQE splits a skewed shuffle-join partition") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // thresholds scaled down so test-sized data counts as skewed
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90% of rows land on key 0 → one hot shuffle partition. The
      // inputs are repartitioned first because a skewed reduce
      // partition can only be split along MAP-output boundaries — a
      // single-file scan is one map task, whose one shuffle block is
      // unsplittable (a real cluster always has many map tasks).
      val left = Tables(sc, sfDir, "lineitem").repartition(16)
        .select(when(col("l_orderkey") % 10 < 9, 0L)
          .otherwise(col("l_orderkey")).as("k"), col("l_quantity"))
      val right = Tables(sc, sfDir, "orders").repartition(16)
        .select(when(col("o_orderkey") % 10 < 9, 0L)
          .otherwise(col("o_orderkey")).as("k"), col("o_totalprice"))
      val joined = left.join(right, "k")
      // materialize THIS queryExecution (count() would plan separately)
      assert(joined.queryExecution.toRdd.count() > 0)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("AQEShuffleRead skewed"),
        s"no skew split in final plan:\n${finalPlan.take(1500)}")
      assert(finalPlan.contains("skew=true"), // SortMergeJoin(skew=true)
        s"join not marked skew-optimized:\n${finalPlan.take(1500)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("GraftSession encodes the scale posture") {
    // the JVM-wide session already exists; builder config lands on a
    // fresh session only for the NEW confs — assert via a dedicated
    // check of the factory's settings object instead of a new JVM:
    // here the shared session accepts runtime confs, so verify the
    // factory's session returns the expected runtime values.
    val s = GraftSession.build(cores = 8)
    try {
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      // runtime registration makes the custom kernels visible to plain SQL
      graft.functions.GraftExpressions.register(s)
      val r = s.sql(
        "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect()
      assert(r(0).getDouble(0) == 11.0)
    } finally () // keep the shared session; GraftSession reuses it
  }
}
