package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main (Bench, Verify, HfpLoadJob, Dev)
  * and the test suites build their `SparkSession` here, so the session
  * a run measures is the session the CLI ships.
  *
  * Cores ([[cores]]): `SPARK_GRAFT_CPUS` when set, else the host's
  * cores capped at 32 (Bench's reference host runs local[32]). A value
  * that is not a positive integer fails naming the variable. The count
  * sets both the local thread count and the shuffle partitions.
  *
  * The session (one posture for every caller):
  *  - `local[cores]` (a caller may pass a deployment master instead)
  *    with `cores` shuffle partitions
  *  - cached-plan output coalescing (see the conf below)
  *  - a whole-registry codegen class cache (see the conf below)
  *  - UTC session timezone (the engine's determinism contract assumes
  *    it), nanos-as-long for the TIMESTAMP(NANOS) events parquet, UI
  *    off
  *  - AQE with partition coalescing and skew-join splitting, and
  *    128 MiB scan splits, are Spark 4's defaults and are not restated
  *
  * Kernels are installed at runtime: a table read registers the
  * graft_* functions and the custom operators' strategies on the
  * session (`GraftExpressions.register`, via `Tables`). A deployment
  * that wants them at session build instead, plus the self-dot
  * optimizer rule, sets the one extension conf named on
  * [[graft.functions.GraftExtensions]] at submit; this factory never
  * sets it, because `RewriteSelfDot`'s float rewrite could move
  * oracle-exact results.
  */
object GraftSession {

  /** Local cores for a session, from `env` and the host's `available`
    * cores (see the object doc).
    */
  def cores(env: Map[String, String] = sys.env,
      available: Int = Runtime.getRuntime.availableProcessors): Int =
    env.get("SPARK_GRAFT_CPUS") match {
      case None => math.min(available, 32)
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** The session. `master` replaces `local[cores]` for a deployment.
    * If the JVM already has a session it is returned with the runtime
    * confs applied; static ones (the codegen cache size) keep the values
    * it was built with.
    */
  def build(cores: Int = GraftSession.cores(),
      master: Option[String] = None): SparkSession =
    SparkSession.builder()
      .appName("graft")
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      // cached plans keep their shuffle-declared partitioning unless
      // this is on, so every .cache()'d shared relation (co-purchase
      // pairs, shingle hashes, trigram counts) pins
      // shuffle.partitions-many tiny partitions and every downstream
      // stage pays per-task overhead ∝ partition count, not data size.
      // With it on, AQE right-sizes cached outputs too — measured
      // 2-3× on the iterative graph/text families at local[32]
      // (ta_dsir 1.1→0.4 s, ta_textrank 2.2→0.9 s at sf0.1), and on a
      // real cluster size-aware partitioning is equally what you want.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // the whole-stage codegen class cache defaults to 100 entries;
      // with Bench's decorrelated sweeps a query's two executions are
      // 351 queries apart, so at the default every pass-B run re-pays
      // Janino compilation (~0.1 s/query × 352 ≈ a uniform +25% that
      // is measurement artifact, not plan cost). Sized to hold the
      // whole registry.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
