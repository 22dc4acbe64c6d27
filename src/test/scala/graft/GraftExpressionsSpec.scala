package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.functions.{GraftExpressions, GraftExtensions}
import graft.operators.DedupOps
import graft.sources.Tables

class GraftExpressionsSpec extends SparkSuite {

  test("graft_hash64 equals the md5/conv built-in formulation") {
    GraftExpressions.register(sc)
    import graft.functions.PortableHash
    val weird = Seq("", " ", "a", "ünïcødé ✓ 漢字", "x" * 1000, "line\nbreak",
      "0", "null", "\"quoted\"", "trailing space ")
    val docs = Tables(spark, sfDir, "documents").select(col("text"))
      .union(spark.createDataFrame(weird.map(Tuple1(_))).toDF("text"))
    val rows = docs.select(PortableHash.hash64(col("text")).as("fast"),
      PortableHash.hash64Builtin(col("text")).as("ref")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    // 60-bit: always non-negative, below 2^60
    rows.foreach(r => assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 60)))
  }

  test("Tables.apply registers the graft functions once per session registry") {
    // every table read calls register; a second registration logs
    // Spark's "replaced a previously registered function" WARN for each
    // of the graft functions
    import graft.functions.PortableHash
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry.getClass.getName
    Tables(s, sfDir, "region")
    val (_, warns) = warnsLogged(registry)(Tables(s, sfDir, "region"))
    assert(warns.isEmpty, warns.mkString("\n"))
    val hash = PortableHash.hash64Builtin(lit("a"))
    def resolves(session: SparkSession) = {
      val r = session.range(1).select(expr("graft_hash64('a')"), hash).head()
      assert(r.getLong(0) == r.getLong(1))
    }
    resolves(s)
    // a newSession() gets a registry of its own, and its first read fills it
    val clone = s.newSession()
    Tables(clone, sfDir, "region")
    resolves(clone)
  }

  test("codegen dot product is bit-identical to the HOF fold") {
    GraftExpressions.register(sc)
    val e = Tables(spark, sfDir, "embeddings").limit(50)
    val hof = e.select(col("vec_id"),
      aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
        lit(0.0), (acc, x) => acc + x).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gen = e.select(col("vec_id"), expr("graft_dot_f(embedding, embedding)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(hof == gen) // exact double equality, not approximate
  }

  test("codegen dist_sq is bit-identical to the HOF fold") {
    GraftExpressions.register(sc)
    val e = Tables(spark, sfDir, "embeddings").limit(50)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("a"),
        transform(reverse(col("embedding")), x => x.cast(DoubleType) * 0.5).as("b"))
    val rows = e.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v).as("hof"),
      expr("graft_dist_sq(a, b)").as("gen")).collect()
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("norm_sq equals self-dot exactly") {
    GraftExpressions.register(sc)
    val e = Tables(spark, sfDir, "embeddings").limit(50)
    val rows = e.select(
      expr("graft_dot_f(embedding, embedding)").as("d"),
      expr("graft_norm_sq_f(embedding)").as("n")).collect()
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("KMV sketch estimates distinct within 20%") {
    GraftExpressions.register(sc)
    val rows = graft.operators.Analytics
      .queries("q_approx_distinct_kmv")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val kmv = r.getAs[Long]("kmv_parts").toDouble
      val exact = r.getAs[Long]("exact_parts").toDouble
      assert(math.abs(kmv - exact) / exact < 0.2, s"kmv=$kmv exact=$exact")
    }
  }

  test("KMV sketch merge path: estimate is stable across partitioning") {
    GraftExpressions.register(sc)
    val li = Tables(spark, sfDir, "lineitem")
    val one = li.coalesce(1)
      .agg(expr("graft_kmv_distinct(l_partkey)")).collect()(0).getLong(0)
    val many = li.repartition(13)
      .agg(expr("graft_kmv_distinct(l_partkey)")).collect()(0).getLong(0)
    assert(one == many) // KMV merge is exact: same k minima regardless of split
  }

  test("self-dot optimizer rule rewrites dot_f(x,x) -> norm_sq_f(x)") {
    // the deployment path is withExtensions(new GraftExtensions); in the
    // shared test JVM we use the public per-session hook instead (a
    // second getOrCreate would ignore withExtensions)
    new GraftExtensions() // instantiable
    GraftExpressions.register(sc)
    spark.experimental.extraOptimizations =
      Seq(GraftExpressions.RewriteSelfDot)
    try {
      // parquet-backed input so ConvertToLocalRelation can't fold the
      // whole query away before the rewrite is observable
      Tables(spark, sfDir, "embeddings").createOrReplaceTempView("emb_vt")
      val q = spark.sql(
        "SELECT graft_dot_f(embedding, embedding) AS d FROM emb_vt WHERE vec_id = 1")
      val viaNorm = spark.sql(
        "SELECT graft_norm_sq_f(embedding) AS d FROM emb_vt WHERE vec_id = 1")
      assert(q.collect()(0).getDouble(0) == viaNorm.collect()(0).getDouble(0))
      assert(q.queryExecution.optimizedPlan.toString.contains("graft_norm_sq_f"))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("Misra-Gries sketch keeps every guaranteed-frequent item under any partitioning") {
    GraftExpressions.register(sc)
    import spark.implicits._
    // skewed stream: token i appears weight(i) times; n = sum of weights
    val weights = Map("hot" -> 500, "warm" -> 120, "mild" -> 40) ++
      (1 to 200).map(i => s"rare$i" -> 1).toMap
    val rows = weights.toSeq.flatMap { case (t, w) => Seq.fill(w)(t) }
    val n = rows.size
    val k = 16
    for (parts <- Seq(1, 3, 8)) {
      val cands = spark.createDataset(rows).repartition(parts).toDF("tok")
        .agg(org.apache.spark.sql.functions.expr(s"graft_heavy_hitters(tok, $k)").as("c"))
        .collect()(0).getSeq[String](0).toSet
      assert(cands.size <= k, s"sketch overflowed: ${cands.size} > $k")
      // the MG guarantee: freq > n/(k+1) always survives
      weights.collect { case (t, w) if w > n / (k + 1) => t }
        .foreach(t => assert(cands.contains(t), s"lost guaranteed item $t at parts=$parts"))
    }
  }

  test("graft_geomean: declarative aggregate hash-aggregates and is split-invariant") {
    GraftExpressions.register(sc)
    val df = Tables(spark, sfDir, "lineitem")
      .where(col("l_extendedprice") > 0)
      .groupBy("l_returnflag")
      .agg(expr("graft_geomean(l_extendedprice)").as("g"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"),
      "DeclarativeAggregate must run in hash aggregation")
    assert(plan.contains("partial_graft_geomean") || plan.contains("partial"),
      "map-side combine expected")
    val a = df.orderBy("l_returnflag").collect().map(r => r.getString(0) -> r.getDouble(1))
    val b = Tables(spark, sfDir, "lineitem")
      .where(col("l_extendedprice") > 0).repartition(13)
      .groupBy("l_returnflag")
      .agg(expr("graft_geomean(l_extendedprice)").as("g"))
      .orderBy("l_returnflag").collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(a.toSeq == b.toSeq, "quantized ln-sums must be partition-invariant")
    // sanity: geomean of positive prices sits inside [min, max]
    val (mn, mx) = {
      val r = Tables(spark, sfDir, "lineitem").agg(
        min("l_extendedprice"), max("l_extendedprice")).collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    a.foreach { case (_, g) => assert(g >= mn && g <= mx) }
  }

  test("graft_prefix_chain equals the built-in aggregate-fold formulation and the old full-prefix identity relation") {
    GraftExpressions.register(sc)
    // the chained hash must equal the md5(h || '|' || block) left fold
    // spelled entirely in built-ins (the oracle's list_reduce shape),
    // element for element — including multi-byte tokens and a tail
    // partial block (never hashed)
    val docs = Tables(spark, sfDir, "documents").select(col("text")).limit(40)
      .union(spark.createDataFrame(Seq(
        Tuple1(((1 to 35).map(i => s"tök$i")).mkString(" ")), // 2 blocks + tail
        Tuple1("just a few tokens"), // 0 blocks
        Tuple1((1 to 16).map(_ => "x").mkString(" ")))) // exactly 1 block
        .toDF("text"))
      .select(split(col("text"), " ").as("t"))
    val rows = docs.select(
      expr("graft_prefix_chain(t, 16)").as("fast"),
      expr("""aggregate(
        transform(filter(sequence(0, size(t) div 16), i -> i >= 1), i ->
          array_join(slice(t, (i - 1) * 16 + 1, 16), ' ')),
        named_struct('h', '', 'hs', cast(array() as array<string>)),
        (acc, b) -> named_struct(
          'h', md5(concat(acc.h, '|', b)),
          'hs', array_append(acc.hs, md5(concat(acc.h, '|', b)))),
        acc -> acc.hs)""").as("ref"),
      col("t")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.getSeq[Any](2).take(5))
      assert(r.getSeq[String](0).length == r.getSeq[Any](2).length / 16)
    }
    // equality-preservation: chained hashes agree at depth i iff the
    // old full-prefix md5 identities do (the radix-trie contract)
    val pair = spark.createDataFrame(Seq(
      Tuple1(((1 to 32).map(i => s"s$i") ++ (1 to 16).map(i => s"a$i")).mkString(" ")),
      Tuple1(((1 to 32).map(i => s"s$i") ++ (1 to 16).map(i => s"b$i")).mkString(" "))))
      .toDF("text").select(split(col("text"), " ").as("t"))
      .select(expr("graft_prefix_chain(t, 16)").as("hs")).collect()
      .map(_.getSeq[String](0))
    assert(pair(0).take(2) == pair(1).take(2) && pair(0)(2) != pair(1)(2),
      "shared 32-token prefix must share exactly the first two block hashes")
  }

  test("graft_del_hood: quadratic-neighborhood inputs fail legibly at the length cap") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.DelHood
    // boundary: the cap itself still evaluates (worst case ~525k
    // variants, a bounded transient allocation)
    val atCap = DelHood.hashes(UTF8String.fromString("a" * DelHood.MaxLen), 2)
    assert(atCap.numElements() > 0)
    // one past the cap: a clear, named error — not a
    // NegativeArraySizeException or a silent multi-MB allocation
    val ex = intercept[IllegalArgumentException] {
      DelHood.hashes(UTF8String.fromString("a" * (DelHood.MaxLen + 1)), 2)
    }
    assert(ex.getMessage.contains("graft_del_hood"))
    assert(ex.getMessage.contains(DelHood.MaxLen.toString))
    // the guard scales with k: the neighborhood is linear at k <= 1,
    // so the same over-cap length stays legal there (the cap bounds
    // VARIANT COUNT, not input length)
    val linear = DelHood.hashes(UTF8String.fromString("a" * (DelHood.MaxLen * 4)), 1)
    assert(linear.numElements() > 0)
    assert(intercept[IllegalArgumentException] {
      DelHood.hashes(UTF8String.fromString("a" * (DelHood.MaxVariants.toInt + 1)), 1)
    }.getMessage.contains("graft_del_hood"))
    // the SQL surface propagates the same legible failure
    GraftExpressions.register(spark)
    val sqlEx = intercept[Exception] {
      spark.sql(s"SELECT graft_del_hood(repeat('x', ${DelHood.MaxLen * 2}), 2)")
        .collect()
    }
    assert(sqlEx.getMessage.contains("graft_del_hood") ||
      Option(sqlEx.getCause).exists(_.getMessage.contains("graft_del_hood")))
  }

  test("GraftExtensions wires every kernel and all planner strategies without error") {
    // The shared test JVM already owns a SparkContext, so a session
    // built THROUGH spark.sql.extensions can't be constructed here;
    // the wiring itself (one injectFunction per registry kernel, the
    // self-dot rule, GroupedTopK + AsOfJoin + RangeJoin strategies) must at least
    // apply cleanly to a fresh extensions object — a missing builder
    // or duplicate identifier throws at this point. The strategies and
    // every kernel are behavior-tested through the registered queries.
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e)
  }
}
