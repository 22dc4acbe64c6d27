package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Spectral primitives over the embedding corpus: distributed power
  * iteration for the top principal direction — the building block for
  * PCA whitening / spectral hashing of an embedding table, kept
  * engine-exact through pure-integer fixed-point arithmetic.
  */
object SpectralOps {

  /** 2^20 fixed-point scale, the one quantizer for every consumer of
    * the feature profile (the PCA rounds and the qFeatureQuantiles
    * fences).
    */
  private val PcaQ = 1048576L
  private val PcaIters = 3    // fixed unrolled iterations (oracle CTEs)
  private val PcaDim = 64     // embeddings.embedding dimension

  /** sign-safe exact floor division rendered as Spark SQL text: the
    * numerator is made exactly divisible first, so DIV's truncation
    * equals true floor division for either sign (NOTES #29 fdiv).
    */
  private def fdiv(a: String, c: String): String =
    s"(($a) - ((($a) % ($c) + ($c)) % ($c))) DIV ($c)"

  /** Top principal direction of the embedding table by [[PcaIters]]
    * rounds of power iteration on the Gram matrix, without ever
    * materializing the d×d matrix: each round computes G·v as
    * Σ_rows x·(xᵀv) in two map-side-combining passes — a per-row
    * fixed-point dot against the broadcast-literal v, then a per-
    * position sum (d keys, so shuffle bytes are d rows per mapper no
    * matter the corpus size). v itself is O(d) model state: it is
    * collected to the driver between rounds ([[PcaDim]] longs — the
    * relation is never collected; same driver-state pattern as
    * MLlib's eigenvector iteration), and the final round stays fully
    * declarative via the 1-row-aggregate cross-join (the BPE-train
    * pattern) so the returned plan computes the last normalization
    * itself. All arithmetic is fixed-point integer (inputs quantized
    * at 2^20, per-round L∞ renormalization by exact floor division),
    * so Spark and the unrolled-CTE DuckDB oracle are bit-identical.
    */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * PcaQ.toDouble).cast(LongType)).as("xq"))
      // one small quantized relation feeds every round. Deliberately
      // NOT spread (NOTES #27 does not apply): embeddings is one input
      // split, so each round's dot+explode pass runs as one task — but
      // a defaultParallelism repartition before the cache was A/B'd in
      // r17 and measured 2× WORSE across the whole family (solo steady,
      // same window: deflate 1.88→4.11 s, power 0.76→1.91, project
      // 0.94→2.36): per-round 32-task scheduling over a 2000-row cache
      // costs more than the serial arithmetic it parallelizes. At
      // 100 TB the scan's own splits width the rounds naturally.
      .cache()

  /** fixed-point dot of the row's quantized vector against a literal
    * iterate: products and sum stay in long (|xq|·|vq| ≤ 2^40, d=64
    * terms → ≤ 2^46).
    */
  private def dotCol(vq: Array[Long]): Column = {
    val vLit = array(vq.map(lit(_)): _*)
    aggregate(zip_with(col("xq"), vLit, (a, b) => a * b),
      lit(0L), (acc, y) => acc + y)
  }

  /** Row-count bound: each |x·v| ≤ d·2^20·2^20 pre-division, and the
    * per-position reduction Σ x·dots is ≤ N·2^46 worst case
    * (|x| ≤ 2^20, |dots| ≤ 2^26) — int64-exact to N ≈ 2^17 rows at the
    * adversarial bound, N ≈ 2^30+ for unit-norm embeddings (|dots|
    * concentrates near 2^20). Past that, rescale dots by an extra
    * DIV 2^6 before the per-position sum (one ulp of iterate
    * precision per shift).
    */
  private def sums(xq: DataFrame, vq: Array[Long]): DataFrame =
    xq.select(col("xq"), dotCol(vq).as("dot"))
      .selectExpr("xq", s"${fdiv("dot", PcaQ.toString)} AS dots")
      .select(posexplode(col("xq")).as(Seq("pos", "x")), col("dots"))
      .groupBy("pos").agg(sum(col("x") * col("dots")).as("s"))

  private def renorm(sdf: DataFrame): DataFrame = {
    val m = sdf.agg(max(abs(col("s"))).as("m"))
      .selectExpr(s"${fdiv("m", PcaQ.toString)} + 1 AS ms")
    sdf.crossJoin(broadcast(m))
      .selectExpr("CAST(pos AS BIGINT) AS pos", s"${fdiv("s", "ms")} AS v_q")
  }

  /** `rounds` power-iteration steps from the all-ones start, collecting
    * the O(d) iterate (model state only — never the relation) between
    * rounds.
    */
  private def iterate(xq: DataFrame, rounds: Int): Array[Long] = {
    var vq = Array.fill(PcaDim)(PcaQ)
    for (_ <- 1 to rounds) {
      val next = renorm(sums(xq, vq)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // empty corpus → empty round → zero iterate (queries then
      // reduce to empty results instead of a driver lookup crash)
      vq = Array.tabulate(PcaDim)(i => next.getOrElse(i.toLong, 0L))
    }
    vq
  }

  def qPcaPower(s: SparkSession, dir: String): DataFrame = {
    val xq = quantized(s, dir)
    // the final round stays declarative (the 1-row-aggregate cross-join
    // renorm), so the returned plan computes the last normalization
    renorm(sums(xq, iterate(xq, PcaIters - 1))).orderBy("pos")
  }

  private val ProjShift = 67108864L // 2^26: dot (scale 2^40) → proj (2^14)

  /** Per-label statistics of the corpus projected onto the learned top
    * principal direction — the "variance along PC1 by class" readout
    * that tells a curation pipeline whether its embedding clusters
    * separate along the dominant axis. Reuses the [[qPcaPower]]
    * iterate; the projection is one map-side fixed-point dot per row
    * (scale 2^14 after the shift), and the per-label sums of proj and
    * proj² are exact longs (|proj| ≤ 2^20, proj² ≤ 2^40 — safe to
    * corpus row counts of ~2^22 per label). Only `mean` touches floats:
    * one cast + one divide, identical in the oracle.
    */
  def qPcaProject(s: SparkSession, dir: String): DataFrame = {
    val xq = quantized(s, dir)
    val vq = iterate(xq, PcaIters)
    xq.select(col("label"), dotCol(vq).as("dot"))
      .selectExpr("label", s"${fdiv("dot", ProjShift.toString)} AS p")
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("p").as("sum_p"),
        sum(col("p") * col("p")).as("sum_p2"))
      .select(col("label").cast(LongType).as("label"), col("n"),
        col("sum_p"), col("sum_p2"),
        round(col("sum_p").cast(DoubleType) / col("n").cast(DoubleType), 6)
          .as("mean_p"))
      .orderBy("label")
  }

  private def fdSql(a: String, c: String): String =
    s"divide(($a) - ((($a) % ($c) + ($c)) % ($c)), $c)"

  /** The shared unrolled-CTE prefix: quantized vectors + `iters`
    * power-iteration rounds, ending at CTE `v<iters>`. Each round is
    * the mirror of the Spark loop: dot per vector against v{t-1},
    * rescale, per-pos sums, L∞ renormalize. Every CTE is
    * MATERIALIZED: DuckDB otherwise re-inlines each reference, and
    * the deflation oracle references the v-chain from every w-round —
    * inlined it re-evaluates the whole tree per reference (measured
    * >120 s vs 0.12 s materialized at sf0.01).
    */
  private def pcaCtes(iters: Int): String = mtlz(pcaCtesRaw(iters))

  private def mtlz(sql: String): String =
    sql.replace("AS (", "AS MATERIALIZED (")

  private def pcaCtesRaw(iters: Int): String = {
    val q = PcaQ.toString
    def round(t: Int): String = {
      val vp = if (t == 1) "v0" else s"v${t - 1}"
      s"""d$t AS (SELECT vec_id, CAST(SUM(x * v) AS BIGINT) AS dot
         |  FROM xq JOIN $vp USING (pos) GROUP BY vec_id),
         |ds$t AS (SELECT vec_id, ${fdSql("dot", q)} AS dots FROM d$t),
         |s$t AS (SELECT pos, CAST(SUM(x * dots) AS BIGINT) AS s
         |  FROM xq JOIN ds$t USING (vec_id) GROUP BY pos),
         |m$t AS (SELECT ${fdSql("MAX(ABS(s))", q)} + 1 AS ms FROM s$t),
         |v$t AS (SELECT pos, ${fdSql("s", "ms")} AS v FROM s$t, m$t)""".stripMargin
    }
    s"""WITH xq AS (
       |  SELECT vec_id, label, i - 1 AS pos,
       |    CAST(floor(CAST(list_extract(embedding, i) AS DOUBLE) * $q) AS BIGINT) AS x
       |  FROM (SELECT vec_id, label, embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
       |v0 AS (SELECT pos, CAST($q AS BIGINT) AS v
       |       FROM range(0, $PcaDim) t(pos)),
       |${(1 to iters).map(round).mkString(",\n")}""".stripMargin
  }

  private val qPcaPowerSql: String =
    s"""${pcaCtes(PcaIters)}
       |SELECT CAST(pos AS BIGINT) AS pos, v AS v_q FROM v$PcaIters
       |ORDER BY pos""".stripMargin

  private val qPcaProjectSql: String =
    s"""${pcaCtes(PcaIters)},
       |proj AS (
       |  SELECT xq.vec_id, xq.label, CAST(SUM(x * v) AS BIGINT) AS dot
       |  FROM xq JOIN v$PcaIters USING (pos) GROUP BY 1, 2),
       |ps AS (SELECT label, ${fdSql("dot", ProjShift.toString)} AS p FROM proj)
       |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n,
       |  CAST(SUM(p) AS BIGINT) AS sum_p,
       |  CAST(SUM(p * p) AS BIGINT) AS sum_p2,
       |  round(CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_p
       |FROM ps GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------- q_pca_deflate

  /** exact floor division on driver-side model state — the same
    * semantics as the fdiv SQL (divisor always positive here).
    */
  private def fdivL(a: Long, c: Long): Long = Math.floorDiv(a, c)

  private def renormL(s: Array[Long]): Array[Long] = {
    val ms = fdivL(s.map(math.abs).max, PcaQ) + 1
    s.map(fdivL(_, ms))
  }

  /** Second principal direction by DEFLATED power iteration: iterate
    * G·w as in [[qPcaPower]], but after each round's L∞ renorm,
    * subtract the component along the (already converged) top
    * direction v1 and renorm again — Hotelling deflation, the step
    * that turns one-direction power iteration into top-k PCA /
    * whitening. The projection coefficient is computed at bounded
    * fixed-point scale (proj / (v1·v1 rescaled)) so every integer in
    * the chain stays under 2^47 regardless of corpus size; rounds 1-2
    * orthogonalize on O(d) driver model state, the final round's
    * renorm-orthogonalize-renorm chain stays declarative (1-row
    * aggregate cross-joins). Output: (pos, v1_q, v2_q), bit-identical
    * to the doubly-unrolled CTE oracle; the spec pins near-
    * orthogonality of the two directions.
    */
  def qPcaDeflate(s: SparkSession, dir: String): DataFrame = {
    val xq = quantized(s, dir)
    val v1 = iterate(xq, PcaIters)
    val n1 = v1.map(v => v * v).sum
    val ms1 = fdivL(n1, PcaQ) + 1
    def orthL(w: Array[Long]): Array[Long] = {
      val c = fdivL(w.zip(v1).map { case (a, b) => a * b }.sum, ms1)
      w.zip(v1).map { case (a, b) => a - fdivL(c * b, PcaQ) }
    }
    var w = Array.fill(PcaDim)(PcaQ)
    for (_ <- 1 until PcaIters) {
      val sArr = sums(xq, w).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      // getOrElse: an empty corpus yields an empty round (see iterate)
      w = renormL(orthL(renormL(
        Array.tabulate(PcaDim)(i => sArr.getOrElse(i, 0L)))))
    }
    // final round, declarative: renorm → orthogonalize vs broadcast v1
    // → renorm, all via 1-row-aggregate cross-joins
    val v1df = s.range(1).select(
      posexplode(array(v1.map(lit(_)): _*)).as(Seq("pos", "v1")))
      .selectExpr("CAST(pos AS BIGINT) AS pos", "v1")
    val rn = renorm(sums(xq, w)).join(broadcast(v1df), "pos")
    val c = rn.agg(sum(col("v_q") * col("v1")).as("proj"))
      .selectExpr(s"${fdiv("proj", ms1.toString)} AS c")
    val orth = rn.crossJoin(broadcast(c))
      .selectExpr("pos", "v1",
        s"v_q - ${fdiv("c * v1", PcaQ.toString)} AS v2r")
    val ms2 = orth.agg(max(abs(col("v2r"))).as("m2"))
      .selectExpr(s"${fdiv("m2", PcaQ.toString)} + 1 AS ms2")
    orth.crossJoin(broadcast(ms2))
      .selectExpr("pos", "v1 AS v1_q", s"${fdiv("v2r", "ms2")} AS v2_q")
      .orderBy("pos")
  }

  private val qPcaDeflateSql: String = {
    val q = PcaQ.toString
    def wround(t: Int): String = {
      val wp = if (t == 1) "w0" else s"w${t - 1}"
      s"""wd$t AS (SELECT vec_id, CAST(SUM(x * v) AS BIGINT) AS dot
         |  FROM xq JOIN $wp USING (pos) GROUP BY vec_id),
         |wds$t AS (SELECT vec_id, ${fdSql("dot", q)} AS dots FROM wd$t),
         |wsm$t AS (SELECT pos, CAST(SUM(x * dots) AS BIGINT) AS s
         |  FROM xq JOIN wds$t USING (vec_id) GROUP BY pos),
         |wmm$t AS (SELECT ${fdSql("MAX(ABS(s))", q)} + 1 AS ms FROM wsm$t),
         |wr$t AS (SELECT pos, ${fdSql("s", "ms")} AS v FROM wsm$t, wmm$t),
         |wp$t AS (SELECT CAST(SUM(wr$t.v * v$PcaIters.v) AS BIGINT) AS proj
         |  FROM wr$t JOIN v$PcaIters USING (pos)),
         |wcc$t AS (SELECT ${fdSql("proj", "ms1")} AS c FROM wp$t, n1x),
         |wo$t AS (SELECT wr$t.pos, wr$t.v - ${fdSql(s"c * v$PcaIters.v", q)} AS v
         |  FROM wr$t JOIN v$PcaIters ON wr$t.pos = v$PcaIters.pos
         |  CROSS JOIN wcc$t),
         |wm2$t AS (SELECT ${fdSql("MAX(ABS(v))", q)} + 1 AS ms FROM wo$t),
         |w$t AS (SELECT pos, ${fdSql("v", "ms")} AS v FROM wo$t, wm2$t)""".stripMargin
    }
    s"""${pcaCtes(PcaIters)},
       |${mtlz(s"""n1x AS (SELECT ${fdSql(s"CAST(SUM(v * v) AS BIGINT)", q)} + 1 AS ms1
       |        FROM v$PcaIters),
       |w0 AS (SELECT pos, CAST($q AS BIGINT) AS v
       |       FROM range(0, $PcaDim) t(pos)),
       |${(1 to PcaIters).map(wround).mkString(",\n")}""".stripMargin)}
       |SELECT CAST(v$PcaIters.pos AS BIGINT) AS pos,
       |  v$PcaIters.v AS v1_q, w$PcaIters.v AS v2_q
       |FROM v$PcaIters JOIN w$PcaIters ON v$PcaIters.pos = w$PcaIters.pos
       |ORDER BY pos""".stripMargin
  }

  // ------------------------------------------------------ q_feature_quantiles

  /** Per-dimension robust-scaler statistics of the embedding table
    * (min/Q1/median/Q3/max/IQR of every coordinate) — the
    * normalization profile a feature pipeline fits before whitening
    * or clipping. Exact order statistics at scale via the same shape
    * as the perplexity tertiles: a per-dimension VALUE-level histogram
    * (quantized coordinates) gets one cumulative window partitioned
    * by dimension — |distinct values| rows per dimension, never a
    * corpus-sized sort — and each quantile is the least value whose
    * cumulative count reaches its ceil-rank. Ranks use exact integer
    * arithmetic; ties resolve low (percentile_disc semantics),
    * identically in both engines.
    */
  def qFeatureQuantiles(s: SparkSession, dir: String): DataFrame = {
    val xq = quantized(s, dir)
    val n = xq.agg(count(lit(1)).as("n"))
    val hist = xq.select(posexplode(col("xq")).as(Seq("pos", "v")))
      .groupBy("pos", "v").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum("c").over(org.apache.spark.sql.expressions.Window
        .partitionBy("pos").orderBy("v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    cum.crossJoin(broadcast(n))
      .groupBy("pos")
      .agg(first("n").as("n"), min("v").as("min_q"), max("v").as("max_q"),
        min(when(col("cum") >= expr("(n + 3) DIV 4"), col("v"))).as("q1"),
        min(when(col("cum") >= expr("(n + 1) DIV 2"), col("v"))).as("median"),
        min(when(col("cum") >= expr("(3 * n + 3) DIV 4"), col("v"))).as("q3"))
      .select(col("pos").cast(LongType).as("pos"), col("n"), col("min_q"),
        col("q1"), col("median"), col("q3"), (col("q3") - col("q1")).as("iqr"),
        col("max_q"))
      .orderBy("pos")
  }

  private val qFeatureQuantilesSql: String = {
    val q = PcaQ.toString
    s"""WITH xq AS (
       |  SELECT vec_id, i - 1 AS pos,
       |    CAST(floor(CAST(list_extract(embedding, i) AS DOUBLE) * $q) AS BIGINT) AS v
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
       |n AS (SELECT COUNT(*) AS n FROM embeddings),
       |hist AS (SELECT pos, v, COUNT(*) AS c FROM xq GROUP BY 1, 2),
       |cum AS (SELECT pos, v,
       |          CAST(SUM(c) OVER (PARTITION BY pos ORDER BY v) AS BIGINT) AS cum
       |        FROM hist)
       |SELECT CAST(pos AS BIGINT) AS pos, n.n AS n,
       |  MIN(v) AS min_q,
       |  MIN(CASE WHEN cum >= divide(n.n + 3, 4) THEN v END) AS q1,
       |  MIN(CASE WHEN cum >= divide(n.n + 1, 2) THEN v END) AS median,
       |  MIN(CASE WHEN cum >= divide(3 * n.n + 3, 4) THEN v END) AS q3,
       |  MIN(CASE WHEN cum >= divide(3 * n.n + 3, 4) THEN v END)
       |    - MIN(CASE WHEN cum >= divide(n.n + 3, 4) THEN v END) AS iqr,
       |  MAX(v) AS max_q
       |FROM cum CROSS JOIN n GROUP BY 1, 2 ORDER BY pos""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pca_power" -> (qPcaPower(_, _)),
    "q_pca_project" -> (qPcaProject(_, _)),
    "q_pca_deflate" -> (qPcaDeflate(_, _)),
    "q_feature_quantiles" -> (qFeatureQuantiles(_, _)))

  def oracles: Map[String, String] = Map(
    "q_pca_power" -> qPcaPowerSql,
    "q_pca_project" -> qPcaProjectSql,
    "q_pca_deflate" -> qPcaDeflateSql,
    "q_feature_quantiles" -> qFeatureQuantilesSql)
}
