package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Phase-2 analytics surface (SURVEY.md §7): the relational operator
  * families the driver checklist expects, built Spark-first over the
  * TPC-H-ish tables, each verified against a DuckDB oracle.
  *
  * Determinism-for-oracle design notes:
  *  - Double aggregation order differs between engines, so every SUM of
  *    a double measure is computed in exact DECIMAL arithmetic (inputs
  *    have ≤2 decimals by construction) and cast back to DOUBLE at the
  *    end — bit-identical on both sides, while the Spark plan keeps
  *    partial (map-side) aggregation.
  *  - AVG is SUM(decimal)::double / COUNT so both engines do one
  *    identical double division instead of engine-specific decimal-avg.
  *  - Every query ends in a total ORDER BY; rollup/cube orderings pin
  *    NULLS FIRST explicitly (DuckDB defaults NULLS LAST).
  *
  * Scale notes per family are on each query below.
  */
object Analytics {

  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  private def dec42(c: Column): Column = c.cast(DecimalType(4, 2))
  private def dsum(c: Column): Column = sum(c).cast(DoubleType)

  // ---------------------------------------------------------------------
  // Aggregation family
  // ---------------------------------------------------------------------

  /** TPC-H Q1-shaped pricing summary: hash aggregate with map-side
    * partial agg; at 100 TB this is a single shuffle on a 6-value key —
    * the canonical "let Catalyst do it" aggregation.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val qty = dec2(col("l_quantity"))
    val price = dec2(col("l_extendedprice"))
    val disc = dec42(col("l_discount"))
    val oneMinus = (lit(1) - disc).cast(DecimalType(4, 2))
    val onePlus = (lit(1) + dec42(col("l_tax"))).cast(DecimalType(4, 2))
    li.filter(col("l_shipdate") <= lit("2000-09-02").cast(TimestampType))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(qty).as("sum_qty"),
        dsum(price).as("sum_base_price"),
        dsum(price * oneMinus).as("sum_disc_price"),
        dsum(price * oneMinus * onePlus).as("sum_charge"),
        (dsum(qty) / count(lit(1))).as("avg_qty"),
        (dsum(price) / count(lit(1))).as("avg_price"),
        (dsum(disc) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Approximate distinct via the custom KMV TypedImperativeAggregate
    * (mergeable sketch → map-side combine, one tiny shuffle). Exact
    * column alongside for error visibility. The test suite asserts the
    * estimate lands within 20% of exact — and since round 5 the sketch
    * ALSO carries an exact oracle: DuckDB's HUGEINT arithmetic emulates
    * the wrap-around 64-bit splitmix64 (mod-2^64 adds, split 32×32
    * multiplies, signed-xor round trips), so the k-th-minimum estimate
    * itself is verified bit-exactly.
    */
  def qApproxDistinctKmv(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExpressions.register(s)
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("graft_kmv_distinct(l_partkey)").as("kmv_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")
  }

  // --- splitmix64 in DuckDB HUGEINT (the KMV sketch hash, bit-exact) ---
  private val M64 = "18446744073709551616" // 2^64 as a HUGEINT literal
  private def toSigned(u: String) =
    s"(CASE WHEN $u >= 9223372036854775808 THEN CAST($u - $M64 AS BIGINT) ELSE CAST($u AS BIGINT) END)"
  private def toUnsigned(x: String) =
    s"(CASE WHEN $x < 0 THEN CAST($x AS HUGEINT) + $M64 ELSE CAST($x AS HUGEINT) END)"
  private def xor64(a: String, b: String) =
    toUnsigned(s"xor(${toSigned(a)}, ${toSigned(b)})")
  /** (a * b) mod 2^64 with a 32×32 split so no partial exceeds HUGEINT. */
  private def mulMod(a: String, b: BigInt) = {
    val bh = b >> 32
    val bl = b & 0xffffffffL
    s"((($a % 4294967296) * $bl + ((($a % 4294967296) * $bh + divide($a, 4294967296) * $bl) % 4294967296) * 4294967296) % $M64)"
  }

  private val qApproxDistinctKmvSql = {
    val c1 = BigInt("9e3779b97f4a7c15", 16)
    val c2 = BigInt("bf58476d1ce4e5b9", 16)
    val c3 = BigInt("94d049bb133111eb", 16)
    val k = 256
    s"""WITH vals AS (
       |  SELECT DISTINCT l_returnflag, CAST(l_partkey AS HUGEINT) AS v
       |  FROM lineitem WHERE l_partkey IS NOT NULL),
       |s0 AS (SELECT l_returnflag, (v + $c1) % $M64 AS u FROM vals),
       |s1 AS (SELECT l_returnflag, ${xor64("u", "divide(u, 1073741824)")} AS x FROM s0),
       |s2 AS (SELECT l_returnflag, ${mulMod("x", c2)} AS u2 FROM s1),
       |s3 AS (SELECT l_returnflag, ${xor64("u2", "divide(u2, 134217728)")} AS x2 FROM s2),
       |s4 AS (SELECT l_returnflag, ${mulMod("x2", c3)} AS u3 FROM s3),
       |s5 AS (SELECT l_returnflag, ${xor64("u3", "divide(u3, 2147483648)")} AS h FROM s4),
       |kept AS (SELECT DISTINCT l_returnflag, divide(h, 2) AS kv FROM s5),
       |ranked AS (
       |  SELECT l_returnflag, kv,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY kv ASC) AS rk,
       |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM kept),
       |est AS (
       |  SELECT l_returnflag,
       |    CASE WHEN max(n) < $k THEN CAST(max(n) AS BIGINT)
       |         ELSE CAST(floor(${k - 1}.0 * 9.223372036854776e18
       |           / CAST(max(CASE WHEN rk = $k THEN kv END) AS DOUBLE) + 0.5) AS BIGINT)
       |    END AS kmv_parts
       |  FROM ranked GROUP BY l_returnflag)
       |SELECT x.l_returnflag, est.kmv_parts, x.exact_parts
       |FROM (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts
       |      FROM lineitem GROUP BY 1) x
       |JOIN est USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin
  }

  /** KMV sketch SET ALGEBRA (Beyer et al. SIGMOD'07): build one
    * [[graft.functions.GraftExpressions.KmvValues]] sketch per stream
    * ('R'-returned vs 'A'-accepted part keys), then estimate union,
    * intersection, and Jaccard from the two k-min value sets with plain
    * array functions — union sketch = k smallest of the merged value
    * sets; ρ̂ = |k-mins present in both sketches| / k; ∩-estimate =
    * ρ̂·∪-estimate. This is the composition story sketches exist for at
    * 100 TB: each stream is one map-side-combined pass, the sketches
    * are 2 KB each, and every derived statistic is array math on the
    * driver-visible row — no second scan, no shuffle. Exact
    * counterparts ride along from one extra aggregate for error
    * visibility. Oracle: the sketch hash is replicated bit-exactly in
    * DuckDB HUGEINT splitmix64, so even the estimates hash-match.
    */
  def qKmvSetOps(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExpressions.register(s)
    val k = 256
    val li = Tables(s, dir, "lineitem")
    def sketch(flag: String, name: String) =
      li.where(col("l_returnflag") === flag)
        .agg(expr(s"graft_kmv_values(l_partkey, $k)").as(name))
    // exact union/intersection in ONE distinct pass over both streams
    val exact = li.where(col("l_returnflag").isin("R", "A"))
      .select("l_returnflag", "l_partkey").distinct()
      .groupBy("l_partkey").agg(countDistinct("l_returnflag").as("nf"))
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("nf") === 2, 1L).otherwise(0L)).as("exact_intersect"))
    def est(arr: Column): Column =
      when(size(arr) < k, size(arr).cast(LongType))
        .otherwise(floor(lit((k - 1).toDouble) * lit(9.223372036854776e18)
          / element_at(arr, k).cast(DoubleType) + 0.5).cast(LongType))
    val merged = array_sort(array_union(col("ska"), col("skb")))
    val kEff = least(size(merged), lit(k))
    val common = size(array_intersect(
      array_intersect(slice(merged, lit(1), kEff), col("ska")), col("skb")))
    val estU = est(merged)
    val jac = common.cast(DoubleType) / greatest(kEff, lit(1)) // empty sketches: 0/1, not 0/0
    sketch("R", "ska").crossJoin(sketch("A", "skb")).crossJoin(exact)
      .select(
        est(col("ska")).as("est_r"),
        est(col("skb")).as("est_a"),
        estU.as("est_union"),
        col("exact_union"),
        floor(jac * estU.cast(DoubleType) + 0.5).cast(LongType).as("est_intersect"),
        col("exact_intersect"),
        jac.as("kmv_jaccard"))
  }

  private val qKmvSetOpsSql = {
    val c1 = BigInt("9e3779b97f4a7c15", 16)
    val c2 = BigInt("bf58476d1ce4e5b9", 16)
    val c3 = BigInt("94d049bb133111eb", 16)
    val k = 256
    val estExpr = (n: String, kv: String) =>
      s"CASE WHEN $n < $k THEN CAST($n AS BIGINT) ELSE CAST(floor(${k - 1}.0 * 9.223372036854776e18 / CAST($kv AS DOUBLE) + 0.5) AS BIGINT) END"
    s"""WITH vals AS (
       |  SELECT DISTINCT l_returnflag AS f, CAST(l_partkey AS HUGEINT) AS v
       |  FROM lineitem WHERE l_returnflag IN ('R', 'A') AND l_partkey IS NOT NULL),
       |s0 AS (SELECT f, (v + $c1) % $M64 AS u FROM vals),
       |s1 AS (SELECT f, ${xor64("u", "divide(u, 1073741824)")} AS x FROM s0),
       |s2 AS (SELECT f, ${mulMod("x", c2)} AS u2 FROM s1),
       |s3 AS (SELECT f, ${xor64("u2", "divide(u2, 134217728)")} AS x2 FROM s2),
       |s4 AS (SELECT f, ${mulMod("x2", c3)} AS u3 FROM s3),
       |s5 AS (SELECT f, ${xor64("u3", "divide(u3, 2147483648)")} AS h FROM s4),
       |sk AS (SELECT f, kv FROM (
       |    SELECT f, divide(h, 2) AS kv,
       |      row_number() OVER (PARTITION BY f ORDER BY divide(h, 2) ASC) AS rk
       |    FROM (SELECT DISTINCT f, h FROM s5)) WHERE rk <= $k),
       |counts AS (SELECT
       |    (SELECT COUNT(*) FROM sk WHERE f = 'R') AS n_r,
       |    (SELECT COUNT(*) FROM sk WHERE f = 'A') AS n_a),
       |m AS (SELECT kv, row_number() OVER (ORDER BY kv ASC) AS rk,
       |             COUNT(*) OVER () AS n
       |      FROM (SELECT DISTINCT kv FROM sk)),
       |mk AS (SELECT kv, n FROM m WHERE rk <= least(n, $k)),
       |stats AS (SELECT
       |    (SELECT max(n) FROM m) AS n_m,
       |    (SELECT max(kv) FROM m WHERE rk = $k) AS kth_m,
       |    (SELECT COUNT(*) FROM mk
       |       WHERE kv IN (SELECT kv FROM sk WHERE f = 'R')
       |         AND kv IN (SELECT kv FROM sk WHERE f = 'A')) AS common,
       |    (SELECT least(max(n), $k) FROM m) AS k_eff,
       |    (SELECT max(kv) FROM (SELECT kv, row_number() OVER (ORDER BY kv ASC) AS rk
       |                          FROM (SELECT DISTINCT kv FROM sk WHERE f = 'R')) WHERE rk = $k) AS kth_r,
       |    (SELECT max(kv) FROM (SELECT kv, row_number() OVER (ORDER BY kv ASC) AS rk
       |                          FROM (SELECT DISTINCT kv FROM sk WHERE f = 'A')) WHERE rk = $k) AS kth_a),
       |ex AS (SELECT COUNT(*) AS exact_union,
       |    CAST(SUM(CASE WHEN nf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS exact_intersect
       |  FROM (SELECT v, COUNT(DISTINCT f) AS nf FROM vals GROUP BY v))
       |SELECT
       |  ${estExpr("counts.n_r", "stats.kth_r")} AS est_r,
       |  ${estExpr("counts.n_a", "stats.kth_a")} AS est_a,
       |  ${estExpr("stats.n_m", "stats.kth_m")} AS est_union,
       |  ex.exact_union,
       |  CAST(floor((CAST(stats.common AS DOUBLE) / stats.k_eff)
       |    * CAST(${estExpr("stats.n_m", "stats.kth_m")} AS DOUBLE) + 0.5) AS BIGINT) AS est_intersect,
       |  ex.exact_intersect,
       |  CAST(stats.common AS DOUBLE) / stats.k_eff AS kmv_jaccard
       |FROM counts CROSS JOIN stats CROSS JOIN ex""".stripMargin
  }

  /** Sketch-driven JOIN-SIZE estimation — what a cost-based planner
    * does before committing to a join strategy at 100 TB: estimate
    * |orders ⋈ customer| from two 2 KB KMV sketches plus the row
    * counts the catalog already has, never running the join. The
    * estimator is the classic distinct-value model: |L ⋈ R| ≈
    * D̂(∩) · (|L|/D̂(L)) · (|R|/D̂(R)), with D̂(∩) from the KMV set
    * algebra ([[qKmvSetOps]], Beyer et al. SIGMOD'07). Every estimate
    * is floored to BIGINT before feeding the next term, so the double
    * chain stays short and bit-identical in the oracle (which
    * replicates the sketch hash in HUGEINT splitmix64). The exact
    * join count rides along to grade the estimate.
    */
  def qJoinSizeEst(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExpressions.register(s)
    val k = 256
    val ord = Tables(s, dir, "orders")
    val cust = Tables(s, dir, "customer")
    val skO = ord.agg(expr(s"graft_kmv_values(o_custkey, $k)").as("sko"),
      count(lit(1)).as("n_rows_o"))
    val skC = cust.agg(expr(s"graft_kmv_values(c_custkey, $k)").as("skc"),
      count(lit(1)).as("n_rows_c"))
    val exact = ord.join(cust, ord("o_custkey") === cust("c_custkey"))
      .agg(count(lit(1)).as("exact_join_rows"))
    def est(arr: Column): Column =
      when(size(arr) < k, size(arr).cast(LongType))
        .otherwise(floor(lit((k - 1).toDouble) * lit(9.223372036854776e18)
          / element_at(arr, k).cast(DoubleType) + 0.5).cast(LongType))
    val merged = array_sort(array_union(col("sko"), col("skc")))
    val kEff = least(size(merged), lit(k))
    val common = size(array_intersect(
      array_intersect(slice(merged, lit(1), kEff), col("sko")), col("skc")))
    val jac = common.cast(DoubleType) / greatest(kEff, lit(1))
    skO.crossJoin(skC).crossJoin(exact)
      .select(col("sko"), col("skc"), col("n_rows_o"), col("n_rows_c"),
        col("exact_join_rows"),
        est(col("sko")).as("est_keys_o"), est(col("skc")).as("est_keys_c"),
        floor(jac * est(merged).cast(DoubleType) + 0.5).cast(LongType)
          .as("est_key_overlap"))
      .select(col("n_rows_o"), col("n_rows_c"),
        col("est_keys_o"), col("est_keys_c"), col("est_key_overlap"),
        floor(col("est_key_overlap").cast(DoubleType)
          * (col("n_rows_o").cast(DoubleType) /
             greatest(col("est_keys_o"), lit(1L)).cast(DoubleType))
          * (col("n_rows_c").cast(DoubleType) /
             greatest(col("est_keys_c"), lit(1L)).cast(DoubleType)) + 0.5)
          .cast(LongType).as("est_join_rows"),
        col("exact_join_rows"))
      .withColumn("rel_err",
        round(abs(col("est_join_rows") - col("exact_join_rows")).cast(DoubleType) /
          greatest(col("exact_join_rows"), lit(1L)).cast(DoubleType), 6))
  }

  private val qJoinSizeEstSql = {
    val c1 = BigInt("9e3779b97f4a7c15", 16)
    val c2 = BigInt("bf58476d1ce4e5b9", 16)
    val c3 = BigInt("94d049bb133111eb", 16)
    val k = 256
    val estExpr = (n: String, kv: String) =>
      s"CASE WHEN $n < $k THEN CAST($n AS BIGINT) ELSE CAST(floor(${k - 1}.0 * 9.223372036854776e18 / CAST($kv AS DOUBLE) + 0.5) AS BIGINT) END"
    s"""WITH vals AS (
       |  SELECT DISTINCT 'O' AS f, CAST(o_custkey AS HUGEINT) AS v
       |  FROM orders WHERE o_custkey IS NOT NULL
       |  UNION
       |  SELECT DISTINCT 'C' AS f, CAST(c_custkey AS HUGEINT) AS v
       |  FROM customer WHERE c_custkey IS NOT NULL),
       |s0 AS (SELECT f, (v + $c1) % $M64 AS u FROM vals),
       |s1 AS (SELECT f, ${xor64("u", "divide(u, 1073741824)")} AS x FROM s0),
       |s2 AS (SELECT f, ${mulMod("x", c2)} AS u2 FROM s1),
       |s3 AS (SELECT f, ${xor64("u2", "divide(u2, 134217728)")} AS x2 FROM s2),
       |s4 AS (SELECT f, ${mulMod("x2", c3)} AS u3 FROM s3),
       |s5 AS (SELECT f, ${xor64("u3", "divide(u3, 2147483648)")} AS h FROM s4),
       |sk AS (SELECT f, kv FROM (
       |    SELECT f, divide(h, 2) AS kv,
       |      row_number() OVER (PARTITION BY f ORDER BY divide(h, 2) ASC) AS rk
       |    FROM (SELECT DISTINCT f, h FROM s5)) WHERE rk <= $k),
       |counts AS (SELECT
       |    (SELECT COUNT(*) FROM sk WHERE f = 'O') AS n_o,
       |    (SELECT COUNT(*) FROM sk WHERE f = 'C') AS n_c),
       |m AS (SELECT kv, row_number() OVER (ORDER BY kv ASC) AS rk,
       |             COUNT(*) OVER () AS n
       |      FROM (SELECT DISTINCT kv FROM sk)),
       |mk AS (SELECT kv, n FROM m WHERE rk <= least(n, $k)),
       |stats AS (SELECT
       |    (SELECT max(n) FROM m) AS n_m,
       |    (SELECT max(kv) FROM m WHERE rk = $k) AS kth_m,
       |    (SELECT COUNT(*) FROM mk
       |       WHERE kv IN (SELECT kv FROM sk WHERE f = 'O')
       |         AND kv IN (SELECT kv FROM sk WHERE f = 'C')) AS common,
       |    (SELECT least(max(n), $k) FROM m) AS k_eff,
       |    (SELECT max(kv) FROM (SELECT kv, row_number() OVER (ORDER BY kv ASC) AS rk
       |                          FROM (SELECT DISTINCT kv FROM sk WHERE f = 'O')) WHERE rk = $k) AS kth_o,
       |    (SELECT max(kv) FROM (SELECT kv, row_number() OVER (ORDER BY kv ASC) AS rk
       |                          FROM (SELECT DISTINCT kv FROM sk WHERE f = 'C')) WHERE rk = $k) AS kth_c),
       |rows_tab AS (SELECT
       |    (SELECT COUNT(*) FROM orders) AS n_rows_o,
       |    (SELECT COUNT(*) FROM customer) AS n_rows_c,
       |    (SELECT COUNT(*) FROM orders JOIN customer ON o_custkey = c_custkey)
       |      AS exact_join_rows),
       |ests AS (SELECT
       |    ${estExpr("counts.n_o", "stats.kth_o")} AS est_keys_o,
       |    ${estExpr("counts.n_c", "stats.kth_c")} AS est_keys_c,
       |    CAST(floor((CAST(stats.common AS DOUBLE) / greatest(stats.k_eff, 1))
       |      * CAST(${estExpr("stats.n_m", "stats.kth_m")} AS DOUBLE) + 0.5) AS BIGINT)
       |      AS est_key_overlap
       |  FROM counts CROSS JOIN stats)
       |SELECT r.n_rows_o, r.n_rows_c, e.est_keys_o, e.est_keys_c, e.est_key_overlap,
       |  CAST(floor(CAST(e.est_key_overlap AS DOUBLE)
       |    * (CAST(r.n_rows_o AS DOUBLE) / CAST(greatest(e.est_keys_o, 1) AS DOUBLE))
       |    * (CAST(r.n_rows_c AS DOUBLE) / CAST(greatest(e.est_keys_c, 1) AS DOUBLE))
       |    + 0.5) AS BIGINT) AS est_join_rows,
       |  r.exact_join_rows,
       |  round(CAST(abs(CAST(floor(CAST(e.est_key_overlap AS DOUBLE)
       |      * (CAST(r.n_rows_o AS DOUBLE) / CAST(greatest(e.est_keys_o, 1) AS DOUBLE))
       |      * (CAST(r.n_rows_c AS DOUBLE) / CAST(greatest(e.est_keys_c, 1) AS DOUBLE))
       |      + 0.5) AS BIGINT) - r.exact_join_rows) AS DOUBLE)
       |    / CAST(greatest(r.exact_join_rows, 1) AS DOUBLE), 6) AS rel_err
       |FROM rows_tab r CROSS JOIN ests e""".stripMargin
  }

  /** Distinct-count family: exact distinct (shuffle on key) — the
    * scale-path approximate variant is qApproxDistinctKmv (KMV sketch).
    */
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  private val qDistinctSql =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Argmin/argmax + ordered string aggregation. Deterministic: the
    * min_by/max_by ordering key (o_orderkey) is unique per group, and
    * the status concatenation sorts the collected values first
    * (value-sorted — the shared-dialect spelling, so the oracle runs
    * on spark.sql too).
    */
  def qAggMisc(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(
        max_by(col("o_orderpriority"), col("o_orderkey")).as("latest_priority"),
        min_by(col("o_orderpriority"), col("o_orderkey")).as("first_priority"),
        max(col("o_orderkey")).as("max_key"),
        concat_ws(",", sort_array(collect_list(col("o_orderstatus")))).as("statuses"))
      .orderBy("o_custkey")

  private val qAggMiscSql =
    """SELECT o_custkey,
      |  max_by(o_orderpriority, o_orderkey) AS latest_priority,
      |  min_by(o_orderpriority, o_orderkey) AS first_priority,
      |  max(o_orderkey) AS max_key,
      |  array_to_string(list_sort(array_agg(o_orderstatus)), ',') AS statuses
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Statistical aggregates. Both engines accumulate these in running
    * double state (order-sensitive in the last ulps), so outputs are
    * rounded at 6 — absorbing ~1e-13 relative noise, far inside the
    * rounding grid.
    */
  def qStatsAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"))
      .orderBy("l_returnflag")

  private val qStatsAggSql =
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 6) AS sd_qty,
      |  round(var_samp(l_quantity), 6) AS var_qty,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |  round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ROLLUP: hierarchical subtotals (year ⊃ priority ⊃ grand total). */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")).cast(LongType))
      .rollup("o_year", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(dec2(col("o_totalprice"))).as("total"))
      .orderBy(asc_nulls_first("o_year"), asc_nulls_first("o_orderpriority"))

  private val qRollupSql =
    """SELECT year(o_orderdate) AS o_year, o_orderpriority,
      |  COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP (year(o_orderdate), o_orderpriority)
      |ORDER BY o_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** CUBE: all grouping combinations. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(dec2(col("l_quantity"))).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private val qCubeSql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** GROUPING SETS via the SQL frontend (views registered on the fly). */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  private val qGroupingSetsSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // Join family
  // ---------------------------------------------------------------------

  /** TPC-H Q3-shaped: selective dim filter → fact join → agg → top-k.
    * Scale: customer side is filtered then joined — Catalyst broadcasts
    * it under the threshold; at 100 TB AQE would pick broadcast from
    * runtime stats. Top-k is TakeOrderedAndProject (no full sort).
    */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
    val li = Tables(s, dir, "lineitem")
    val price = dec2(col("l_extendedprice"))
    val oneMinus = (lit(1) - dec42(col("l_discount"))).cast(DecimalType(4, 2))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(dsum(price * oneMinus).as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  private val q3Sql =
    """SELECT l_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  /** 5-way join through the dimension chain (lineitem→orders→customer→
    * nation→region). nation/region are tiny → broadcast joins; only the
    * fact-fact join shuffles.
    */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val ord = Tables(s, dir, "orders")
    val cust = Tables(s, dir, "customer")
    val nat = broadcast(Tables(s, dir, "nation"))
    val reg = broadcast(Tables(s, dir, "region"))
    val price = dec2(col("l_extendedprice"))
    val oneMinus = (lit(1) - dec42(col("l_discount"))).cast(DecimalType(4, 2))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(dsum(price * oneMinus).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  private val q5Sql =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Left-semi join (EXISTS): customers that placed at least one order. */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_active"))
      .orderBy("c_mktsegment")

  private val qSemiSql =
    """SELECT c_mktsegment, COUNT(*) AS n_active FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no orders. */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")

  private val qAntiSql =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // Sort / limit
  // ---------------------------------------------------------------------

  /** Top-k: Catalyst plans TakeOrderedAndProject — per-partition heap +
    * driver merge, no global sort. The plan to want at 100 TB.
    */
  def q2TopkOrders(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(15)

  private val q2Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15""".stripMargin

  // ---------------------------------------------------------------------
  // Set operations
  // ---------------------------------------------------------------------

  def qSetIntersect(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    c.filter(col("c_mktsegment") === "BUILDING").select("c_nationkey")
      .intersect(c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_nationkey"))
      .orderBy("c_nationkey")
  }

  private val qIntersectSql =
    """SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |INTERSECT
      |SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      |ORDER BY c_nationkey""".stripMargin

  def qSetExcept(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    c.filter(col("c_mktsegment") === "BUILDING").select("c_nationkey")
      .except(c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_nationkey"))
      .orderBy("c_nationkey")
  }

  private val qExceptSql =
    """SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      |ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // Window functions
  // ---------------------------------------------------------------------

  /** Ranking family. row_number gets a full tiebreak (determinism);
    * rank/dense_rank rank on the value alone (tie semantics exercised).
    */
  def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    val byBal = Window.partitionBy("c_mktsegment").orderBy(desc("c_acctbal"))
    val byBalKey = Window.partitionBy("c_mktsegment").orderBy(desc("c_acctbal"), asc("c_custkey"))
    Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        row_number().over(byBalKey).as("rn"),
        rank().over(byBal).as("rnk"),
        dense_rank().over(byBal).as("drnk"))
      .orderBy(asc("c_mktsegment"), desc("c_acctbal"), asc("c_custkey"))
  }

  private val qWindowRankSql =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      |  CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS rn,
      |  CAST(rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS INT) AS rnk,
      |  CAST(dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS INT) AS drnk
      |FROM customer
      |ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC""".stripMargin

  /** Distribution window family: percent_rank / cume_dist / ntile /
    * nth_value (full-frame).
    */
  def qWindowDist(s: SparkSession, dir: String): DataFrame = {
    val byBal = Window.partitionBy("c_mktsegment").orderBy(desc("c_acctbal"))
    val byBalKey = Window.partitionBy("c_mktsegment")
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    val fullFrame = byBalKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        percent_rank().over(byBal).as("pct_rank"),
        cume_dist().over(byBal).as("cume"),
        ntile(4).over(byBalKey).cast(LongType).as("quartile"),
        nth_value(col("c_custkey"), 2).over(fullFrame).as("second_richest"))
      .orderBy(asc("c_mktsegment"), desc("c_acctbal"), asc("c_custkey"))
  }

  private val qWindowDistSql =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      |  percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS pct_rank,
      |  cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS cume,
      |  CAST(ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS quartile,
      |  nth_value(c_custkey, 2) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_richest
      |FROM customer
      |ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC""".stripMargin

  /** lag/lead analytics over each customer's order history. */
  def qWindowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(asc("o_orderdate"), asc("o_orderkey"))
    Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val qWindowLagSql =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price,
      |  lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_price
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Frame specs: running total + the reference's M1 sliding mean
    * (mean over the trailing 50 rows — averageTime.ts:3-23) as real
    * window ops, decimal-exact then cast for the oracle.
    */
  def qWindowFrame(s: SparkSession, dir: String): DataFrame = {
    // l_quantity tiebreak: the synthetic lineitem contains duplicate
    // (suppkey, shipdate, orderkey, linenumber) combinations, and rows
    // still tied after quantity are output-identical, so this makes the
    // frame order total up to indistinguishable rows
    val ord = Window.partitionBy("l_suppkey")
      .orderBy(asc("l_shipdate"), asc("l_orderkey"), asc("l_linenumber"), asc("l_quantity"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = ord.rowsBetween(-49, Window.currentRow)
    Tables(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        sum(dec2(col("l_quantity"))).over(run).cast(DoubleType).as("running_qty"),
        (sum(dec2(col("l_quantity"))).over(sliding).cast(DoubleType) /
          count(lit(1)).over(sliding)).as("sliding_mean_qty"))
      .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
      .drop("l_shipdate")
  }

  private val qWindowFrameSql =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER w_run AS DOUBLE) AS running_qty,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER w_slide AS DOUBLE)
      |    / COUNT(*) OVER w_slide AS sliding_mean_qty
      |FROM lineitem
      |WINDOW
      |  w_run AS (PARTITION BY l_suppkey ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_quantity ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  w_slide AS (PARTITION BY l_suppkey ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_quantity ASC ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
      |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity""".stripMargin

  // ---------------------------------------------------------------------
  // Scalar function families
  // ---------------------------------------------------------------------

  def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .filter(col("p_name").like("%a%"))
      .select(col("p_partkey"),
        lower(col("p_brand")).as("lo_brand"),
        upper(col("p_name")).as("up_name"),
        substring(col("p_name"), 1, 8).as("name8"),
        length(col("p_name")).cast(LongType).as("name_len"),
        concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "[aeiou]", "*").as("starred"),
        lpad(col("p_brand"), 12, "*").as("padded"))
      .orderBy("p_partkey")

  private val qStringSql =
    """SELECT p_partkey, lower(p_brand) AS lo_brand, upper(p_name) AS up_name,
      |  substring(p_name, 1, 8) AS name8, CAST(length(p_name) AS BIGINT) AS name_len,
      |  concat(p_brand, '-', p_type) AS brand_type,
      |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS starred,
      |  lpad(p_brand, 12, '*') AS padded
      |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin

  def qDateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("yr"),
        month(col("o_orderdate")).cast(LongType).as("mo"),
        quarter(col("o_orderdate")).cast(LongType).as("qtr"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        last_day(col("o_orderdate").cast(DateType)).as("month_end"),
        date_add(col("o_orderdate").cast(DateType), 30).as("plus30"),
        datediff(col("o_orderdate").cast(DateType), lit("1995-01-01").cast(DateType))
          .cast(LongType).as("days_since"))
      .orderBy("o_orderkey")

  private val qDateSql =
    """SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      |  quarter(o_orderdate) AS qtr, day(o_orderdate) AS dom,
      |  CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS TIMESTAMP) AS month_start,
      |  last_day(o_orderdate) AS month_end,
      |  CAST(o_orderdate AS DATE) + 30 AS plus30,
      |  divide(epoch_ms(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)), 86400000) - 9131 AS days_since
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Math family: exact ops stay raw; transcendentals (libm differs in
    * the last ulp across engines) are rounded to 6 decimals both sides.
    */
  def qMathFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        // scale 4: a 2-dec × 2-dec product has ≤4 true decimals, so no
        // rounding ties — Spark (BigDecimal string repr) and DuckDB
        // (multiply-and-round) disagree on shortest-repr .xx5 ties at
        // scale 2, but at 4 both recover the exact product.
        round(col("l_extendedprice") * col("l_discount"), 4).as("disc_amt"),
        floor(col("l_extendedprice")).as("floor_price"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        abs(col("l_discount") - lit(0.05)).as("abs_dev"),
        sqrt(col("l_extendedprice")).as("sqrt_price"),
        round(log(col("l_extendedprice") + lit(1.0)), 6).as("ln_price"),
        round(exp(col("l_discount")), 6).as("exp_disc"),
        (col("l_partkey") % 7).as("mod7"))
      // (orderkey, linenumber) is NOT unique in the synthetic lineitem —
      // value-column tiebreaks make the order total up to identical rows
      .orderBy("l_orderkey", "l_linenumber", "sqrt_price", "mod7", "disc_amt")

  private val qMathSql =
    """SELECT l_orderkey, l_linenumber,
      |  round(l_extendedprice * l_discount, 4) AS disc_amt,
      |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
      |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
      |  abs(l_discount - 0.05) AS abs_dev,
      |  sqrt(l_extendedprice) AS sqrt_price,
      |  round(ln(l_extendedprice + 1.0), 6) AS ln_price,
      |  round(exp(l_discount), 6) AS exp_disc,
      |  l_partkey % 7 AS mod7
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, sqrt_price, mod7, disc_amt""".stripMargin

  def qCondFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "supplier")
      .select(col("s_suppkey"),
        when(col("s_acctbal") < 0, "neg")
          .when(col("s_acctbal") < 1000, "low")
          .otherwise("high").as("bal_bucket"),
        coalesce(nullif(col("s_name"), col("s_name")), lit("redacted")).as("masked"),
        greatest(col("s_acctbal"), lit(0.0)).as("bal_floor0"),
        least(col("s_acctbal"), lit(5000.0)).as("bal_cap5k"))
      .orderBy("s_suppkey")

  private val qCondSql =
    """SELECT s_suppkey,
      |  CASE WHEN s_acctbal < 0 THEN 'neg' WHEN s_acctbal < 1000 THEN 'low' ELSE 'high' END AS bal_bucket,
      |  COALESCE(NULLIF(s_name, s_name), 'redacted') AS masked,
      |  GREATEST(s_acctbal, 0.0) AS bal_floor0,
      |  LEAST(s_acctbal, 5000.0) AS bal_cap5k
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** JSON extraction over the events props column. */
  def qJsonFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .orderBy("event_id")

  private val qJsonSql =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin

  /** Array/higher-order functions over the embedding column: the exact
    * fold the similarity ops build on (sequential double accumulation,
    * identical on both engines).
    */
  def qArrayFuncs(s: SparkSession, dir: String): DataFrame = {
    val asDouble = transform(col("embedding"), x => x.cast(DoubleType))
    Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        size(col("embedding")).cast(LongType).as("dim"),
        element_at(col("embedding"), 1).as("first_val"),
        round(sqrt(aggregate(asDouble, lit(0.0), (acc, x) => acc + x * x)), 6).as("l2_norm"),
        round(aggregate(asDouble, lit(0.0), (acc, x) => acc + x), 6).as("sum_vals"))
      .orderBy("vec_id")
  }

  private val qArraySql =
    """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
      |  embedding[1] AS first_val,
      |  round(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2_norm,
      |  round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 6) AS sum_vals
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Tumbling-window aggregation. */
  def qTumblingWindow(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(dec2(col("value"))).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  private val qTumblingSql =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
      |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  /** Lateral/generator family: posexplode of the embedding arrays
    * (1-based positions to match SQL convention).
    */
  def qExplode(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .where(col("vec_id") < 20)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("pos"), col("col").as("val"))
      .orderBy("vec_id", "pos")

  private val qExplodeSql =
    """SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
      |  unnest(embedding) AS val
      |FROM embeddings WHERE vec_id < 20 ORDER BY vec_id, pos""".stripMargin

  /** Bitwise family (over key columns; exact integer ops). */
  def qBitwiseFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_orderkey").bitwiseAND(lit(255L)).as("and255"),
        col("l_orderkey").bitwiseOR(lit(4096L)).as("or4096"),
        col("l_orderkey").bitwiseXOR(col("l_partkey")).as("xor_part"),
        shiftright(col("l_orderkey"), 4).as("shr4"),
        shiftleft(col("l_linenumber").cast(LongType), 2).as("shl2"),
        bit_count(col("l_orderkey")).cast(LongType).as("popcount"))
      // non-unique (orderkey, linenumber): xor_part adds the partkey
      // dimension, making the order total up to identical rows
      .orderBy("l_orderkey", "l_linenumber", "xor_part")

  private val qBitwiseSql =
    """SELECT l_orderkey, l_linenumber,
      |  l_orderkey & 255 AS and255,
      |  l_orderkey | 4096 AS or4096,
      |  xor(l_orderkey, l_partkey) AS xor_part,
      |  l_orderkey >> 4 AS shr4,
      |  CAST(l_linenumber AS BIGINT) << 2 AS shl2,
      |  CAST(bit_count(l_orderkey) AS BIGINT) AS popcount
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, xor_part""".stripMargin

  /** Trig/transcendental family (rounded at 6 — libm last-ulp). */
  def qTrigFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "supplier")
      .select(col("s_suppkey"),
        round(sin(col("s_acctbal") / lit(1000.0)), 6).as("sin_bal"),
        round(cos(col("s_acctbal") / lit(1000.0)), 6).as("cos_bal"),
        round(atan2(col("s_acctbal"), lit(100.0)), 6).as("atan2_bal"),
        round(degrees(atan(col("s_acctbal") / lit(1000.0))), 6).as("deg_atan"),
        round(pow(abs(col("s_acctbal")) + lit(1.0), lit(0.25)), 6).as("pow_q"))
      .orderBy("s_suppkey")

  private val qTrigSql =
    """SELECT s_suppkey,
      |  round(sin(s_acctbal / 1000.0), 6) AS sin_bal,
      |  round(cos(s_acctbal / 1000.0), 6) AS cos_bal,
      |  round(atan2(s_acctbal, 100.0), 6) AS atan2_bal,
      |  round(degrees(atan(s_acctbal / 1000.0)), 6) AS deg_atan,
      |  round(pow(abs(s_acctbal) + 1.0, 0.25), 6) AS pow_q
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** Correlated scalar subquery through the SQL frontend. */
  def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders")
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT o_orderkey, o_totalprice,
        |  (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |   FROM lineitem WHERE l_orderkey = o_orderkey) AS total_qty
        |FROM orders ORDER BY o_orderkey""".stripMargin)
  }

  private val qScalarSubquerySql =
    """SELECT o_orderkey, o_totalprice,
      |  (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
      |   FROM lineitem WHERE l_orderkey = o_orderkey) AS total_qty
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary(_, _)),
    "q2_topk_orders" -> (q2TopkOrders(_, _)),
    "q3_shipping_priority" -> (q3ShippingPriority(_, _)),
    "q5_region_revenue" -> (q5RegionRevenue(_, _)),
    "q_distinct_agg" -> (qDistinctAgg(_, _)),
    "q_agg_misc" -> (qAggMisc(_, _)),
    "q_stats_agg" -> (qStatsAgg(_, _)),
    "q_approx_distinct_kmv" -> (qApproxDistinctKmv(_, _)),
    "q_kmv_set_ops" -> (qKmvSetOps(_, _)),
    "q_join_size_est" -> (qJoinSizeEst(_, _)),
    "q_rollup" -> (qRollup(_, _)),
    "q_cube" -> (qCube(_, _)),
    "q_grouping_sets" -> (qGroupingSets(_, _)),
    "q_semi_join" -> (qSemiJoin(_, _)),
    "q_anti_join" -> (qAntiJoin(_, _)),
    "q_set_intersect" -> (qSetIntersect(_, _)),
    "q_set_except" -> (qSetExcept(_, _)),
    "q_window_rank" -> (qWindowRank(_, _)),
    "q_window_dist" -> (qWindowDist(_, _)),
    "q_window_lag" -> (qWindowLag(_, _)),
    "q_window_frame" -> (qWindowFrame(_, _)),
    "q_string_funcs" -> (qStringFuncs(_, _)),
    "q_date_funcs" -> (qDateFuncs(_, _)),
    "q_math_funcs" -> (qMathFuncs(_, _)),
    "q_cond_funcs" -> (qCondFuncs(_, _)),
    "q_json_funcs" -> (qJsonFuncs(_, _)),
    "q_array_funcs" -> (qArrayFuncs(_, _)),
    "q_explode" -> (qExplode(_, _)),
    "q_bitwise_funcs" -> (qBitwiseFuncs(_, _)),
    "q_trig_funcs" -> (qTrigFuncs(_, _)),
    "q_scalar_subquery" -> (qScalarSubquery(_, _)),
    "q_tumbling_window" -> (qTumblingWindow(_, _)))

  def oracles: Map[String, String] = Map(
    "q_approx_distinct_kmv" -> qApproxDistinctKmvSql,
    "q_kmv_set_ops" -> qKmvSetOpsSql,
    "q_join_size_est" -> qJoinSizeEstSql,
    "q1_pricing_summary" -> q1Sql,
    "q2_topk_orders" -> q2Sql,
    "q3_shipping_priority" -> q3Sql,
    "q5_region_revenue" -> q5Sql,
    "q_distinct_agg" -> qDistinctSql,
    "q_agg_misc" -> qAggMiscSql,
    "q_stats_agg" -> qStatsAggSql,
    "q_rollup" -> qRollupSql,
    "q_cube" -> qCubeSql,
    "q_grouping_sets" -> qGroupingSetsSql,
    "q_semi_join" -> qSemiSql,
    "q_anti_join" -> qAntiSql,
    "q_set_intersect" -> qIntersectSql,
    "q_set_except" -> qExceptSql,
    "q_window_rank" -> qWindowRankSql,
    "q_window_dist" -> qWindowDistSql,
    "q_window_lag" -> qWindowLagSql,
    "q_window_frame" -> qWindowFrameSql,
    "q_string_funcs" -> qStringSql,
    "q_date_funcs" -> qDateSql,
    "q_math_funcs" -> qMathSql,
    "q_cond_funcs" -> qCondSql,
    "q_json_funcs" -> qJsonSql,
    "q_array_funcs" -> qArraySql,
    "q_explode" -> qExplodeSql,
    "q_bitwise_funcs" -> qBitwiseSql,
    "q_trig_funcs" -> qTrigSql,
    "q_scalar_subquery" -> qScalarSubquerySql,
    "q_tumbling_window" -> qTumblingSql)
}
