package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps2, LinkageOps}
import graft.plans.{GroupedTopK, RangeJoin}

/** Adversarial-skew gate: sf0.1 is 17 MB of well-behaved synthetic
  * data, so every 100×-readiness argument in this repo rested on plan
  * SHAPE (exchanges, caps, banded joins) that had never met hostile
  * input. This suite generates the hostile inputs — a key holding half
  * the corpus inside one dense time window, a hub vertex, mass-duplicate
  * blocking keys, corpus-wide boilerplate shingles, megabyte documents —
  * and pins that each cap / native exec behaves exactly as its contract
  * documents: bounded work, observable firing (`dropped_* > 0`), and
  * output equal to the capped semantics computed independently in-test.
  *
  * The quadratic failure modes these guard against are not timeable at
  * test scale by accident: the dense-key range join would emit 2.5e9
  * pairs under the SortMergeJoin-then-filter shape (minutes) vs ~5e5
  * window rows natively (instant) — a wall-clock envelope 60× above the
  * measured healthy runtime makes a regression to the quadratic shape a
  * hard failure, not a flaky slowdown.
  */
class SkewStressSpec extends SparkSuite {

  /** Write `df` as `name` under a fresh corpus dir (EmptyInputSpec's
    * harness pattern: the registry queries take any dir).
    */
  private def hostileDir(tables: (String, DataFrame)*): String = {
    val dst = java.nio.file.Files.createTempDirectory("sf-hostile").toString
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    dst
  }

  private def observed(df: DataFrame, metric: String): org.apache.spark.sql.Row = {
    val qe = df.queryExecution
    df.collect()
    qe.observedMetrics(metric)
  }

  test("RangeJoinExec: a key holding half the corpus stays window-bounded") {
    val s = sc
    val n = 50000L
    // hot key 1: n left rows and n right rows packed one time-unit apart
    // (every window (t, t+10] holds exactly 10 rows); sparse key 2 with
    // gaps wider than the window (zero matches) proves key isolation
    val left = s.range(n).select(lit(1L).as("k"), col("id").as("t"))
      .unionAll(s.range(100).select(lit(2L).as("k"), (col("id") * 1000L).as("t")))
    val right = s.range(n).select(lit(1L).as("rk"), col("id").as("rt"))
      .unionAll(s.range(100).select(lit(2L).as("rk"), (col("id") * 1000L + 500L).as("rt")))
    val joined = RangeJoin(left, right, s,
      col("k"), col("t"), col("rk"), col("rt"), 0L, 10L)
    assert(joined.queryExecution.sparkPlan.toString.contains("RangeJoin"),
      "the native exec must plan on the dense key")
    val t0 = System.nanoTime()
    val cnt = joined.count()
    val secs = (System.nanoTime() - t0) / 1e9
    // each hot left t matches right times in (t, t+10] → 10 rows except
    // the 10-row tail (9+8+…+0): 10n − 55. Sparse key: right rows sit
    // at offsets +500 from left rows, outside every (t, t+10] window.
    assert(cnt == 10L * n - 55, s"window join emitted $cnt rows")
    // |L|+|R|+|out| ≈ 0.6M rows; the SMJ pair blow-up shape would
    // stream n² = 2.5e9 pairs through the filter first
    assert(secs < 60.0, f"dense-key range join took $secs%.1f s — " +
      "window merge degraded toward the quadratic pair shape")
  }

  test("HubCap: a hub center fires observably; output equals the degree-filtered graph") {
    val s = sc
    // co-purchase graph from lineitem: orders 1-2 hold parts 1-120
    // (support-2 K₁₂₀ clique — every part is a center of degree 119);
    // orders 3-6 build the path 200–201–202 (support 2 per edge), whose
    // only wedge center 201 has degree 2
    val hub = s.range(2).select((col("id") + 1).as("l_orderkey"))
      .crossJoin(s.range(120).select((col("id") + 1).as("l_partkey")))
    val path = s.createDataFrame(Seq(
      (3L, 200L), (3L, 201L), (4L, 200L), (4L, 201L),
      (5L, 201L), (5L, 202L), (6L, 201L), (6L, 202L)))
      .toDF("l_orderkey", "l_partkey")
    val dir = hostileDir("lineitem" -> hub.unionAll(path))
    val df = GraphOps2.qLinkPredictCapped(s, dir, cap = 64)
    val rows = df.collect()
    val m = observed(df, GraphOps2.HubCapMetric)
    assert(m.getAs[Long]("dropped_centers") == 120L,
      s"every K120 center must be dropped whole: $m")
    assert(m.getAs[Int]("max_center_degree") == 119, m.toString)
    // capped contract = exact link prediction on the graph minus the
    // dropped centers: the single surviving wedge 200–201–202 predicts
    // (200, 202) with cn = 1, jaccard = 1/(1+1−1)
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSeq == Seq((200L, 202L, 1L, 1.0)),
      rows.mkString(", "))
  }

  test("BlockCap: mass-duplicate names fire the cap; their dirty keys stay unmatched") {
    val s = sc
    // 300 customers sharing one name: every deletion-neighborhood
    // variant of that name keys a block of 300 > cap, so the cap must
    // drop each such block WHOLE (the documented binary contract) and
    // the 300 dirty probes must resolve to no match — while the normal
    // names (≥ 3 digit positions apart, so no variant-key collisions)
    // still resolve
    val dup = s.range(300).select(
      (col("id") + 100000L).as("c_custkey"),
      lit("MassDuplicate Records Inc").as("c_name"),
      lit(5).cast("int").as("c_nationkey"),
      lit(0.0).as("c_acctbal"), lit("BUILDING").as("c_mktsegment"))
    val normal = s.range(50).select(
      (col("id") * 111L + 7L).as("c_custkey"),
      format_string("Customer#%09d", col("id") * 111L + 7L).as("c_name"),
      (col("id") % 3).cast("int").as("c_nationkey"),
      lit(0.0).as("c_acctbal"), lit("BUILDING").as("c_mktsegment"))
    val dir = hostileDir("customer" -> dup.unionAll(normal))
    val df = LinkageOps.qEntityResolveCapped(s, dir, cap = 128)
    val rows = df.collect()
    val m = observed(df, LinkageOps.CapMetric)
    assert(m.getAs[Long]("dropped_blocks") > 0L, m.toString)
    assert(m.getAs[Int]("max_block_pop") == 300, m.toString)
    val dupRows = rows.filter(r => r.getLong(0) >= 100000L)
    assert(dupRows.length == 300 && dupRows.forall(_.isNullAt(2)),
      "over-cap blocks must be dropped whole: no dirty probe of the " +
        s"mass-duplicate name may match (${dupRows.count(!_.isNullAt(2))} did)")
    val correctNormals = rows.filter(r =>
      r.getLong(0) < 100000L && !r.isNullAt(2) && r.getBoolean(4))
    assert(correctNormals.nonEmpty,
      "the cap must not disturb resolution outside the hot blocks")
  }

  test("ShingleDfCap: corpus-wide boilerplate is dropped from the similarity space") {
    val s = sc
    // 400 docs sharing ONLY a 10-token boilerplate header (8 shingles,
    // df = 400 > cap = 128) plus unique tails: post-cap they share no
    // shingle, so the pairing self-join must produce ZERO candidates —
    // not the 400²/2 the boilerplate would key. One genuinely duplicated
    // pair (df = 2 shingles, well under the cap) must still surface.
    val boiler = "terms of service apply to all content on this site"
    val docs = s.range(400).select(
      col("id").as("doc_id"),
      concat(lit(boiler + " "),
        format_string("unique%d tail%d text%d body%d", col("id"), col("id"),
          col("id"), col("id"))).as("text"),
      lit("en").as("lang"), lit("web").as("source"), lit(60L).as("n_chars"))
    val rare = "completely original sentence about alpine marmot burrows"
    val pair = s.createDataFrame(Seq(
      (9001L, rare, "en", "web", 57L), (9002L, rare, "en", "web", 57L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = hostileDir("documents" -> docs.unionAll(pair))
    val rows = SparkEntry.queries("dd_ngram_jaccard")(s, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((9001L, 9002L, 1.0)),
      s"df-capped space must pair only the true duplicates: ${rows.take(5).mkString(", ")}")
  }

  test("GroupedTopKExec: heaps stay at K under a group holding half the corpus") {
    val s = sc
    val hot = s.range(100000).select(lit(0L).as("g"),
      (col("id") % 1000L).cast("double").as("v"), col("id").as("tie"))
    val cold = s.range(1000).select((col("id") % 10L + 1L).as("g"),
      col("id").cast("double").as("v"), col("id").as("tie"))
    val df = hot.unionAll(cold)
    val top = GroupedTopK(df, s, Seq(col("g")), col("v"), col("tie"), 5)
    assert(top.queryExecution.sparkPlan.toString.contains("GroupedTopK"))
    val got = top.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sorted.toSeq
    // reference: full window sort (fine in-test, the shape the exec
    // exists to avoid at scale)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("tie").asc)
    val want = df.withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select("g", "v", "tie").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sorted.toSeq
    assert(got == want)
    assert(got.count(_._1 == 0L) == 5, "the hot group's heap must hold exactly K")
  }

  test("salted aggregate and salted join stay exact when one key holds half the rows") {
    val s = sc
    val events = s.range(200000).select(
      col("id").as("event_id"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
      (col("id") % 1000L).as("user_id"),
      when(col("id") % 2 === 0, lit("hot"))
        .otherwise(format_string("t%d", col("id") % 5)).as("event_type"),
      (col("id") % 100L).cast("double").as("value"),
      lit("{}").as("props"))
    val li = s.range(100000).select(
      lit(1L).as("l_orderkey"), col("id").as("l_partkey"),
      col("id").as("l_suppkey"), lit(1).cast("int").as("l_linenumber"),
      lit(1.0).as("l_quantity"), (col("id") % 500L).cast("double").as("l_extendedprice"),
      lit(0.0).as("l_discount"), lit(0.0).as("l_tax"),
      lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("l_shipdate"))
      .unionAll(s.range(10000).select(
        (col("id") % 100L + 2L).as("l_orderkey"), col("id").as("l_partkey"),
        col("id").as("l_suppkey"), lit(1).cast("int").as("l_linenumber"),
        lit(1.0).as("l_quantity"), (col("id") % 500L).cast("double").as("l_extendedprice"),
        lit(0.0).as("l_discount"), lit(0.0).as("l_tax"),
        lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("l_shipdate")))
    val orders = s.range(101).select(
      (col("id") + 1L).as("o_orderkey"), col("id").as("o_custkey"),
      lit("O").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("o_orderdate"),
      format_string("P%d", col("id") % 3).as("o_orderpriority"))
    val dir = hostileDir("events" -> events, "lineitem" -> li, "orders" -> orders)

    val agg = SparkEntry.queries("q_salted_agg")(sc, dir)
    // the two-phase shape must actually carry the salt into phase 1
    assert(agg.queryExecution.optimizedPlan.toString.contains("salt"))
    val gotAgg = agg.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDouble(2))).toSeq
    val wantAgg = events.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("sum_value"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotAgg == wantAgg)
    assert(gotAgg.exists(r => r._1 == "hot" && r._2 == 100000L),
      "the hot key must survive salting intact")

    val join = SparkEntry.queries("q_salted_join")(sc, dir)
    val gotJoin = join.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDouble(2))).toSeq
    val wantJoin = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("sum_price"))
      .orderBy("o_orderpriority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotJoin == wantJoin)
  }

  test("megabyte documents stream through the per-row kernels") {
    val s = sc
    // one ~1.4 MB document (200k tokens) among normals: the linear
    // kernels (winnow fingerprints, wordpiece, and — since the r12
    // verdict flagged their quadratic predecessor — BOTH chained
    // KV-prefix kernels) must process it in one row without blowing
    // the task. The r12 KV shape re-hashed the full prefix at every
    // 16-token depth: this exact document would have pushed ≈ 1.25 G
    // tokens (~9 GB of string traffic) through one Generate chain;
    // the chained kernel does one linear pass (12,500 md5s of
    // hash+16-token blocks), so the whole four-query pass staying
    // inside the same wall-clock envelope IS the linearity evidence.
    val big = (0 until 200000).map(i => s"tok$i").mkString(" ")
    val docs = s.range(20).select(
      col("id").as("doc_id"),
      format_string("short document number %d with a few tokens", col("id")).as("text"),
      lit("en").as("lang"), lit("web").as("source"), lit(40L).as("n_chars"))
      .unionAll(s.createDataFrame(Seq((99L, big, "en", "web", big.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val dir = hostileDir("documents" -> docs)
    val t0 = System.nanoTime()
    val winnow = SparkEntry.queries("dd_winnowing")(s, dir).collect()
    val wordpiece = SparkEntry.queries("ta_wordpiece")(s, dir).collect()
    val kvReuse = SparkEntry.queries("q_kv_prefix_reuse")(s, dir).collect()
    val kvDepth = SparkEntry.queries("q_kv_depth_profile")(s, dir).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(winnow.nonEmpty && wordpiece.nonEmpty)
    // all 200k-token prefixes are distinct (12,500 full blocks, no
    // sharing with the short docs), and every depth is reached once
    val web = kvReuse.find(_.getString(0) == "web").get
    assert(web.getLong(2) == 12500L && web.getLong(3) == 12500L,
      s"megadoc block accounting: $web")
    assert(kvDepth.length == 12500 &&
      kvDepth.forall(r => r.getLong(2) == r.getLong(1)),
      s"depth profile rows: ${kvDepth.length}")
    assert(secs < 120.0, f"megabyte-doc kernel pass took $secs%.1f s")
  }
}
