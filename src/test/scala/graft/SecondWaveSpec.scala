package graft

import org.apache.spark.sql.functions._

/** Semantic property gates for the round-7 second-wave operators —
  * each assertion is the operator's defining guarantee, not a pinned
  * value, so the suite survives testdata regeneration:
  * bloom admits ⊇ truth (no false negatives), the zone-map report
  * proves the re-clustering argument, the delta-join identity holds
  * DECIMAL-exact, cap sampling is partitioning-invariant, and the
  * linkage grader behaves per perturbation class.
  */
class SecondWaveSpec extends SparkSuite {

  test("q_entity_resolve: per-class match behavior") {
    val rows = SparkEntry.queries("q_entity_resolve")(sc, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val name = r.getAs[String]("dirty_name")
      val dist = if (r.isNullAt(r.fieldIndex("edit_dist"))) -1L
        else r.getAs[Long]("edit_dist")
      if (name.startsWith("Cst#"))
        assert(dist == -1L, s"mangled $name must be unmatched")
      else if (name.length == 18) // clean copy: exact self-match
        assert(dist == 0L && r.getAs[Boolean]("correct"),
          s"clean $name must self-match at distance 0")
      else // single deletion: always matched within the threshold
        assert(dist >= 1L && dist <= 2L, s"deleted $name must match")
    }
  }

  test("q_entity_resolve plan: deletion-neighborhood blocking, capped, never cartesian") {
    val p = SparkEntry.queries("q_entity_resolve")(sc, sfDir)
      .queryExecution.executedPlan.toString
    // the r7 `weak` this pins out: nation-only blocks grow linearly
    // with the corpus, so per-block pairs grow quadratically at 100×.
    // The FastSS variant-key join keeps candidate volume linear; the
    // hot-block anti-join bounds per-key fan-out at BlockCap.
    assert(p.contains("Generate explode"),
      "candidates must come from the exploded deletion-neighborhood keys")
    assert(p.contains(s"<= ${graft.operators.LinkageOps.BlockCap}"),
      "the block-population cap must guard the candidate join")
    assert(p.contains("RoundRobinPartitioning"),
      "variant generation must be spread across cores (NOTES #27)")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_entity_resolve blocking: block populations stay far below the cap") {
    // the cap-never-fires precondition for oracle identity: measure
    // the real (nation, variant) master-side block population at this
    // scale and pin it below BlockCap with headroom
    val s = sc
    import org.apache.spark.sql.functions.{col, count => cnt, explode, lit, max => mx}
    val maxPop = graft.sources.Tables(s, sfDir, "customer")
      .select(col("c_nationkey"),
        explode(graft.operators.LinkageOps.delNeighborhood(col("c_name"))).as("vk"))
      .groupBy("c_nationkey", "vk").agg(cnt(lit(1)).as("pop"))
      .agg(mx("pop")).collect().head.getLong(0)
    assert(maxPop <= graft.operators.LinkageOps.BlockCap / 2,
      s"max block population $maxPop must leave headroom under the cap")
  }

  test("q_entity_resolve cap signal: capped runs are observable, exact runs report zero") {
    val s = sc
    // delivery to listeners: the latest observed row per metric name
    val seenRows =
      new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) => seenRows.put(name, row) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    s.listenerManager.register(l)
    try {
      // production cap at test scale: the metric must prove exactness
      val exact = graft.operators.LinkageOps.qEntityResolveCapped(
        s, sfDir, graft.operators.LinkageOps.BlockCap)
      exact.collect()
      val m0 = exact.queryExecution.observedMetrics(
        graft.operators.LinkageOps.CapMetric)
      assert(m0.getAs[Long]("dropped_blocks") == 0L,
        "the shipped cap must not fire at test scale (oracle identity)")
      assert(m0.getAs[Int]("max_block_pop") >= 1)
      // a cap low enough to fire: the same metric must flag the drop
      val capped = graft.operators.LinkageOps.qEntityResolveCapped(s, sfDir, 1)
      capped.collect()
      val m1 = capped.queryExecution.observedMetrics(
        graft.operators.LinkageOps.CapMetric)
      assert(m1.getAs[Long]("dropped_blocks") > 0L,
        "a firing cap must be observable, not silent")
      // and it must reach listeners too
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def seen = Option(seenRows.get(graft.operators.LinkageOps.CapMetric))
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.nonEmpty, "observed metric must reach QueryExecutionListeners")
    } finally s.listenerManager.unregister(l)
  }

  test("q_bloom_skip: no false negatives, admits bounded by files") {
    val rows = SparkEntry.queries("q_bloom_skip")(sc, sfDir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val nf = r.getAs[Long]("n_files")
      val cand = r.getAs[Long]("n_candidates")
      val tru = r.getAs[Long]("n_true")
      assert(cand >= tru, "bloom must never drop a file that has the key")
      assert(cand <= nf)
    }
  }

  test("q_zone_map: clustering wins the narrow predicate, rows invariant") {
    val rows = SparkEntry.queries("q_zone_map")(sc, sfDir).collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[String]("predicate")) -> r).toMap
    val narrowIns = rows(("insert_order", "q1_1996q1"))
    val narrowDate = rows(("date_clustered", "q1_1996q1"))
    assert(narrowDate.getAs[Long]("files_scanned") <=
      narrowIns.getAs[Long]("files_scanned"))
    // pruning changes which files are READ, never which rows match
    for (p <- Seq("q1_1996q1", "q2_ge_1999"))
      assert(rows(("insert_order", p)).getAs[Long]("rows_matched") ==
        rows(("date_clustered", p)).getAs[Long]("rows_matched"))
  }

  test("q_incr_join: the delta-join identity holds") {
    val r = SparkEntry.queries("q_incr_join")(sc, sfDir).collect().head
    assert(r.getAs[Boolean]("consistent"))
    assert(r.getAs[Long]("full_rows") == r.getAs[Long]("incr_rows"))
    assert(r.getAs[Long]("delta_rows") > 0, "the hash split must produce a delta")
  }

  test("q_domain_cap: cap respected and partitioning-invariant") {
    val s = sc
    val orig = s.conf.get("spark.sql.shuffle.partitions")
    def run(): Seq[String] = SparkEntry.queries("q_domain_cap")(s, sfDir)
      .collect().map(_.toString).toSeq
    try {
      s.conf.set("spark.sql.shuffle.partitions", "3")
      val a = run()
      s.conf.set("spark.sql.shuffle.partitions", "11")
      val b = run()
      assert(a == b, "cap membership must not depend on partitioning")
    } finally s.conf.set("spark.sql.shuffle.partitions", orig)
    val perSource = SparkEntry.queries("q_domain_cap")(s, sfDir)
      .groupBy("source").count().collect()
    perSource.foreach(r => assert(r.getAs[Long]("count") <= 10L))
  }

  test("q_join_size_est: sketch estimate lands within 2x of the join") {
    val r = SparkEntry.queries("q_join_size_est")(sc, sfDir).collect().head
    assert(r.getAs[Double]("rel_err") < 1.0)
    assert(r.getAs[Long]("est_join_rows") > 0)
  }

  test("q_theil_sen: every day pair is scored exactly once") {
    SparkEntry.queries("q_theil_sen")(sc, sfDir).collect().foreach { r =>
      val nd = r.getAs[Long]("n_days")
      assert(r.getAs[Long]("n_pairs") == nd * (nd - 1) / 2)
    }
  }

  test("q_mad_outlier: the Hampel fence is minority-flagging") {
    SparkEntry.queries("q_mad_outlier")(sc, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("n") > 0)
      assert(r.getAs[Double]("outlier_rate") <= 0.5)
    }
  }

  test("q_delta_encoding: the clustered column compresses better") {
    val byCol = SparkEntry.queries("q_delta_encoding")(sc, sfDir).collect()
      .map(r => r.getAs[String]("col_name") -> r.getAs[Double]("avg_delta_bits"))
      .toMap
    assert(byCol("l_orderkey") < byCol("l_partkey"))
  }

  test("q_clustering_coeff: coefficients are probabilities") {
    SparkEntry.queries("q_clustering_coeff")(sc, sfDir).collect().foreach { r =>
      val cc = r.getAs[Double]("local_cc")
      val d = r.getAs[Long]("degree")
      assert(cc >= 0.0 && cc <= 1.0)
      assert(r.getAs[Long]("triangles") <= d * (d - 1) / 2)
    }
  }

  test("q_curation_funnel: stages only ever shrink the corpus") {
    val rows = SparkEntry.queries("q_curation_funnel")(sc, sfDir).collect()
      .sortBy(_.getAs[Long]("stage_id"))
    assert(rows.length == 4)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_docs") <= a.getAs[Long]("n_docs"))
      assert(b.getAs[Long]("n_tokens") <= a.getAs[Long]("n_tokens"))
    }
  }

  test("q_shard_plan / q_l_diversity: partition masses reconcile") {
    val s = sc
    val shards = SparkEntry.queries("q_shard_plan")(s, sfDir)
      .agg(sum("n_docs")).collect().head.getLong(0)
    val docs = graft.sources.Tables(s, sfDir, "documents").count()
    assert(shards == docs)
    SparkEntry.queries("q_l_diversity")(s, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("l_distinct") <= r.getAs[Long]("group_size"))
    }
  }
}
