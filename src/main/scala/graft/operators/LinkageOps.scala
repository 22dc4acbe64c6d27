package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.PortableHash
import graft.sources.Tables

/** Record linkage (entity resolution) — the blocking + fuzzy-match +
  * best-assignment pass a data platform runs to reconcile a dirty
  * external registry against its master table. Reference scope: the
  * reference engine (an ETL loader) has no such operator; this extends
  * the curation surface the way the dedup family does, but across two
  * heterogeneous record sets rather than within one corpus.
  *
  * Scale design: the quadratic candidate space is never materialized.
  * Blocking is the FastSS / symmetric-delete scheme (Bocek, Hunt &
  * Stiller, "Fast Similarity Search in Large Dictionaries", 2007; the
  * same neighborhood SymSpell popularized): every name emits its full
  * ≤k-deletion neighborhood as 64-bit variant keys, and two strings
  * within edit distance k ALWAYS share a variant (delete the aligned
  * edit columns from each side), so the equi-join on
  * (nation, variant) is recall-exact for the threshold while key
  * volume stays LINEAR in the corpus — 1 + L(L+1)/2 variants per
  * record of length L, `array_distinct`-collapsed (runs of repeated
  * characters share deletion variants). Block population is bounded
  * by [[BlockCap]] on the master side (the DedupOps.ShingleDfCap
  * pattern): a block larger than the cap can only arise from
  * mass-duplicate names, where the pair output itself is quadratic —
  * those keys are dropped and the trade is documented here rather
  * than discovered at 100×. Unlike coarse attribute blocks (nation
  * alone, length buckets), per-block population does NOT grow with
  * corpus size: a variant key pins all but k characters of the name,
  * so its block holds only genuine near-matches. Candidates are then
  * verified with the banded 3-arg `levenshtein`; the best-match pick
  * is two map-side-combinable aggregates (min distance, then min key
  * at that distance) — no windows, no driver state.
  */
object LinkageOps {

  private val LevThreshold = 2

  /** Hot-block population cap per (nation, variant) master block.
    * Observed max block population: 10 at sf0.001, 24 at sf0.01, 42
    * at sf0.1 (99.9% of keys are population ≤ 4 at every scale) —
    * growth tracks the DENSITY of the name value domain (how many
    * names sit within 2 deletions of a variant), not corpus size,
    * because a variant key pins all but k characters of the name.
    * SecondWaveSpec pins max ≪ cap at the test scale, so the output
    * is byte-identical to the uncapped query; blocks above the cap
    * are mass-duplicate-name degenerations whose pair output is
    * itself quadratic, and dropping their keys is the standard
    * curation trade (see DedupOps.ShingleDfCap).
    */
  private[graft] val BlockCap = 128

  /** Name of the per-execution observed metric ([[qEntityResolve]]
    * attaches it via `Dataset.observe`) that makes a capped run
    * distinguishable from an exact one: `dropped_blocks` counts blocks
    * the [[BlockCap]] guard removed whole (0 ⇒ the output is
    * byte-identical to the uncapped query), `max_block_pop` is the
    * largest block population seen. Surfaced on every execution through
    * `QueryExecution.observedMetrics` and to any registered
    * `QueryExecutionListener` — no extra pass over the data.
    */
  private[graft] val CapMetric = "graft.linkage.block_cap"

  /** The synthetic "dirty registry": a deterministic perturbation of
    * the customer master keyed on the portable hash, computed
    * identically in the oracle. ~1/7 of names get an unmatchable
    * prefix mangle ('Customer#' → 'Cst#', edit distance 5), ~2/7 a
    * single character deletion (edit distance 1), the rest pass
    * through clean — so the resolver sees all three outcomes.
    */
  private def dirtyNames(df: DataFrame): DataFrame = {
    val keyStr = col("c_custkey").cast(StringType)
    val cls = PortableHash.hash64(keyStr, 11) % 7
    val len = length(col("c_name"))
    val pos = PortableHash.hash64(keyStr, 13) % greatest(len - 1, lit(1)) + 1
    val deleted = concat(
      col("c_name").substr(lit(1), (pos - 1).cast(IntegerType)),
      col("c_name").substr((pos + 1).cast(IntegerType), len))
    val mangled = concat(lit("Cst#"), col("c_name").substr(lit(10), len))
    df.select(col("c_custkey").as("dirty_id"), col("c_nationkey"),
      when(cls === 0, mangled).when(cls <= 2, deleted)
        .otherwise(col("c_name")).as("dirty_name"))
  }

  /** The ≤[[LevThreshold]]-deletion neighborhood of `name` as distinct
    * 64-bit variant keys — the codegen'd [[graft.functions.DelHood]]
    * kernel (one streamed hash per variant, no variant string ever
    * materialized). A hash collision only ADDS a candidate, which the
    * levenshtein verify then rejects, so recall is unaffected.
    */
  private[graft] def delNeighborhood(name: Column): Column =
    call_function("graft_del_hood", name, lit(LevThreshold))

  /** Resolve the dirty registry against the customer master: generate
    * candidates via deletion-neighborhood blocking within nation (see
    * object doc — recall-exact for edit distance ≤ [[LevThreshold]],
    * linear key volume, [[BlockCap]]-bounded blocks), verify with the
    * banded levenshtein, assign each dirty record its lowest-distance
    * (ties: lowest-key) master, and grade the assignment against the
    * known identity.
    */
  def qEntityResolve(s: SparkSession, dir: String): DataFrame =
    qEntityResolveCapped(s, dir, BlockCap)

  private[graft] def qEntityResolveCapped(
      s: SparkSession, dir: String, cap: Int): DataFrame = {
    // NOTES #27 (variant GENERATION over a byte-small customer scan)
    // is handled by the planner now: graft.plans.SpreadHeavyKernels
    // inserts the round-robin spread below each deletion-neighborhood
    // explode mechanically — no hand-placed repartition here, and
    // PlanAuditSpec's file-split gate proves the rule fired
    val master = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_name"))
    val dirty = dirtyNames(Tables(s, dir, "customer"))
    val mKeys = master.withColumn("vk", explode(delNeighborhood(col("c_name"))))
    val dKeys = dirty
      .withColumn("vk", explode(delNeighborhood(col("dirty_name"))))
    // ONE pass over the master keys builds the blocks as bounded
    // arrays: the size(...) filter IS the hot-block guard (ShingleDfCap
    // pattern) — a block larger than the cap can only arise from
    // mass-duplicate names and is dropped whole, so per-key join
    // fan-out is bounded by the cap. Never fires at the test scales
    // (max observed population 42 at sf0.1; SecondWaveSpec pins it).
    // The observe() makes a capped run DISTINGUISHABLE from an exact
    // one at any scale: dropped_blocks/max_block_pop ride the existing
    // aggregate's output rows as an observed metric (no extra pass) and
    // reach every QueryExecutionListener.
    val mBlocks = mKeys.groupBy("c_nationkey", "vk")
      .agg(collect_list(struct(col("c_custkey"), col("c_name"))).as("blk"))
      .observe(CapMetric,
        sum(when(size(col("blk")) > cap, 1L).otherwise(0L)).as("dropped_blocks"),
        max(size(col("blk"))).as("max_block_pop"))
      .where(size(col("blk")) <= cap)
    // |len(a) - len(b)| is a levenshtein lower bound: the guard drops
    // accidental cross-length hash collisions before any DP runs; the
    // 3-arg levenshtein then runs the BANDED O(n·k) computation with
    // early exit (-1 past the threshold) instead of the full O(n²)
    // matrix — same distances for every kept pair. Scoring runs
    // BEFORE the match election on purpose: a true match is
    // rediscovered under each of its ~60 shared variants, and
    // re-running the O(L·k) banded kernel per rediscovery is far
    // cheaper than shuffling the multiplied wide candidate rows
    // through a distinct — the election aggregates only the narrow
    // (ids, lev) survivors, inside the same stage as the join via
    // partial aggregation.
    val cand = dKeys.join(mBlocks, Seq("c_nationkey", "vk"))
      .select(col("dirty_id"), col("dirty_name"),
        explode(col("blk")).as("m"))
      .where(abs(length(col("dirty_name")) - length(col("m.c_name"))) <= LevThreshold)
      .withColumn("lev",
        levenshtein(col("dirty_name"), col("m.c_name"), LevThreshold).cast(LongType))
      .where(col("lev") >= 0 && col("lev") <= LevThreshold)
      .select(col("dirty_id"), col("m.c_custkey").as("c_custkey"), col("lev"))
    // r16: the match election is ONE map-side-combinable argmax —
    // min(struct(lev, custkey)) picks the lowest distance and breaks
    // ties on the lowest key, exactly the old distinct → min(lev) →
    // lev=min self-join → min(custkey) chain, which re-executed the
    // whole blocking+levenshtein subtree (Spark shares no subplans
    // without materialization: 2 full candidate passes, +1 distinct
    // exchange, measured 2× the query). Duplicate (dirty_id, custkey,
    // lev) rows from shared variants cannot move a min, so the
    // distinct is subsumed by the aggregate.
    val pick = cand.groupBy("dirty_id")
      .agg(min(struct(col("lev"), col("c_custkey"))).as("b"))
      .select(col("dirty_id"), col("b.lev").as("edit_dist"),
        col("b.c_custkey").as("matched_key"))
    dirty.join(pick, Seq("dirty_id"), "left_outer")
      .select(col("dirty_id"), col("dirty_name"), col("matched_key"),
        col("edit_dist"),
        coalesce(col("matched_key") === col("dirty_id"), lit(false)).as("correct"))
      .orderBy("dirty_id")
  }

  private val qEntityResolveSql = {
    val cls = s"${PortableHash.sql("CAST(c_custkey AS STRING)", 11)} % 7"
    val pos = s"${PortableHash.sql("CAST(c_custkey AS STRING)", 13)}" +
      " % greatest(length(c_name) - 1, 1) + 1"
    s"""WITH dirty AS (
       |  SELECT c_custkey AS dirty_id, c_nationkey,
       |    CASE WHEN $cls = 0 THEN 'Cst#' || substr(c_name, 10)
       |         WHEN $cls <= 2 THEN substr(c_name, 1, CAST($pos AS INTEGER) - 1)
       |                             || substr(c_name, CAST($pos AS INTEGER) + 1)
       |         ELSE c_name END AS dirty_name
       |  FROM customer),
       |cand AS (
       |  SELECT d.dirty_id, m.c_custkey,
       |    CAST(levenshtein(d.dirty_name, m.c_name) AS BIGINT) AS lev
       |  FROM dirty d JOIN customer m ON m.c_nationkey = d.c_nationkey
       |  WHERE levenshtein(d.dirty_name, m.c_name) <= $LevThreshold),
       |best AS (SELECT dirty_id, min(lev) AS edit_dist FROM cand GROUP BY dirty_id),
       |pick AS (
       |  SELECT c.dirty_id, b.edit_dist, min(c.c_custkey) AS matched_key
       |  FROM cand c JOIN best b ON b.dirty_id = c.dirty_id AND c.lev = b.edit_dist
       |  GROUP BY c.dirty_id, b.edit_dist)
       |SELECT d.dirty_id, d.dirty_name, p.matched_key, p.edit_dist,
       |  coalesce(p.matched_key = d.dirty_id, false) AS correct
       |FROM dirty d LEFT JOIN pick p ON p.dirty_id = d.dirty_id
       |ORDER BY d.dirty_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_entity_resolve" -> (qEntityResolve(_, _)))

  def oracles: Map[String, String] = Map(
    "q_entity_resolve" -> qEntityResolveSql)
}
