package graft.jobs

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.{DaySink, FsUtil, HfpCsvSource, ParquetDaySink}

/** The reference's whole day-load orchestration (hfpTask.ts:13-151) as
  * one idempotent batch job: per event group — scan the group+date CSV
  * prefix, cast, key-filter, route, anti-join against the sink's
  * existing keys for that operating day, append.
  *
  * Faithful behaviors (SURVEY.md §3):
  *  - groups processed in the fixed order StopEvent, OtherEvent,
  *    VehiclePosition (hfpTask.ts:83-86)
  *  - VehiclePosition rows with `journey_type != 'journey'` route to
  *    `unsignedevent` (insertHfpFromBlobStream.ts:62-70)
  *  - the VP dedup build side is the UNION of vehicleposition and
  *    unsignedevent keys (hfpTask.ts:100-103)
  *  - dedup keys are read BEFORE the group's write starts (read
  *    isolation, hfpTask.ts:97-111)
  *  - re-running a day inserts nothing new (idempotency,
  *    hfpStorage.ts:15-16) — at-least-once within a run, healed by
  *    re-run dedup; no transactions, same as the reference
  *
  * Scale: each group is scan → narrow ops → one broadcast/shuffled
  * anti-join → partitioned append; the sink layout (`oday=` partitions)
  * makes the next run's key scan partition-pruned.
  */
object HfpLoadJob {

  /** X2 — CLI date validation (reference index.ts:9-21): the job takes
    * one operating-day argument, which must be a real `YYYY-MM-DD`
    * calendar date; anything else aborts before any Spark work. Returns
    * the normalized ISO date or a Left(reason).
    */
  def validateDate(arg: String): Either[String, String] =
    if (!arg.matches("\\d{4}-\\d{2}-\\d{2}"))
      Left(s"invalid date '$arg': expected YYYY-MM-DD")
    else
      try Right(java.time.LocalDate.parse(arg).toString)
      catch { case e: java.time.format.DateTimeParseException =>
        Left(s"invalid date '$arg': ${e.getMessage}") }

  /** Build the sink from the CLI's sink argument: a `jdbc:` URL selects
    * the reference's actual sink shape (Postgres), anything else is a
    * warehouse directory for the parquet twin. Credentials and batching
    * come from the secrets-resolved environment (X1,
    * [[graft.sources.SecretsConfig]]) with the reference's exact keys:
    * PGUSER/PGPASSWORD, EVENT_BATCH_SIZE, INSERT_CONCURRENCY
    * (constants.ts:35-52). INSERT_CONCURRENCY caps the concurrent insert
    * connections, like the reference's PQueue ([[graft.sources.JdbcSink]]).
    */
  private[graft] def sinkFor(arg: String,
      env: Map[String, String] = sys.env,
      secretsPath: String = graft.sources.SecretsConfig.DefaultSecretsPath): DaySink =
    if (arg.startsWith("jdbc:")) {
      val e = graft.sources.SecretsConfig.resolve(env, secretsPath)
      // fail FAST on missing credentials, like the reference's
      // required-config resolution (constants.ts:35-43) — a silent ""
      // default would surface only at connect time (or connect
      // unauthenticated if the server allows it)
      val missing = Seq("PGUSER", "PGPASSWORD")
        .filterNot(k => e.get(k).exists(_.trim.nonEmpty))
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"jdbc sink requires ${missing.mkString(" and ")} in the " +
            "environment or /run/secrets")
      def num(key: String, dflt: Int): Int =
        e.get(key).flatMap(_.trim.toIntOption).getOrElse(dflt)
      // the USED values must be the VALIDATED values: the user is
      // trimmed (identifiers never legitimately carry edge whitespace —
      // a secrets file preserving a trailing space would pass the
      // presence check yet send " app " to the driver, failing auth at
      // connect time, exactly the late failure the fail-fast check
      // exists to avoid). The password only sheds the trailing
      // newline a secrets FILE appends — interior/edge spaces can be a
      // legitimate part of a password, so they pass through verbatim.
      graft.sources.JdbcDaySink(
        url = arg,
        user = e("PGUSER").trim,
        password = e("PGPASSWORD").replaceAll("[\r\n]+$", ""),
        batchSize = num("EVENT_BATCH_SIZE", 1000),
        numPartitions = num("INSERT_CONCURRENCY", 100),
        // engine extension (no reference analog — the reference applies
        // postgres_schema.sql by out-of-band migration): opt-in
        // create-if-absent bootstrap so a load pointed at an empty
        // database gets the migration's column types
        bootstrapDdl = e.get("GRAFT_BOOTSTRAP_DDL")
          .exists(v => Set("1", "true", "yes").contains(v.trim.toLowerCase)))
    } else ParquetDaySink(arg)

  /** CLI entry: `HfpLoadJob <csvRoot> <sinkDirOrJdbcUrl> <date>` —
    * validates the date (X2), then runs [[loadDay]] and prints
    * per-table row counts.
    */
  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println("usage: HfpLoadJob <csvRoot> <sinkDirOrJdbcUrl> <YYYY-MM-DD>")
      sys.exit(2)
    }
    validateDate(args(2)) match {
      case Left(reason) =>
        System.err.println(reason)
        sys.exit(2)
      case Right(date) =>
        // resolve the sink BEFORE any Spark work so a misconfigured
        // jdbc: run is a usage error, not a late connect failure
        val sink =
          try sinkFor(args(1))
          catch { case e: IllegalArgumentException =>
            System.err.println(e.getMessage)
            sys.exit(2)
          }
        val spark = SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
          .config("spark.sql.session.timeZone", "UTC")
          .getOrCreate()
        try loadDay(spark, args(0), sink, date).toSeq.sorted
          .foreach { case (t, n) => println(s"$t: $n") }
        finally spark.stop()
    }
  }

  /** Fixed group order and group→table map (utils/hfp.ts:54-58). */
  val groups: Seq[(String, String)] = Seq(
    "StopEvent" -> "stopevent",
    "OtherEvent" -> "otherevent",
    "VehiclePosition" -> "vehicleposition")

  /** The traffic-light-priority route — schema-declared but dead in the
    * reference (postgres_schema.sql:1-61 declares the table; no code
    * path routes to it), so it is opt-in here: `loadDay(...,
    * includeLightPriority = true)` appends this group after the fixed
    * three.
    */
  val lightPriorityGroup: (String, String) =
    "LightPriorityEvent" -> "lightpriorityevent"

  /** Load one day from `csvRoot/csv/<group>/<date>*` into
    * `sinkDir/<table>/oday=...` parquet. Returns rows appended per
    * table.
    */
  def loadDay(spark: SparkSession, csvRoot: String, sinkDir: String,
      date: String): Map[String, Long] =
    loadDay(spark, csvRoot, ParquetDaySink(sinkDir), date)

  /** Run independent per-day chains overlapped (guide §2.6): Spark's
    * scheduler happily runs several jobs at once; the chains here are
    * sequences of small (often single-task) jobs, so overlapping them
    * back-fills the idle cores each chain's serial links leave behind.
    * Threads are created by the submitting thread, so Spark's
    * inheritable local properties (job description/group) propagate.
    * The first failure aborts the batch (remaining chains are
    * interrupted) — the load is idempotent and a re-run heals a partial
    * day, the same failure contract as the sequential shape.
    */
  private def runOverlapped[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.lengthCompare(1) <= 0) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(items.size)
      try {
        val futures = items.map { i =>
          pool.submit(new java.util.concurrent.Callable[B] {
            override def call(): B = f(i)
          })
        }
        futures.map { fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        }
      } finally pool.shutdownNow()
    }

  /** Sink-parameterized day load: same orchestration against either the
    * parquet warehouse twin or a real JDBC database ([[DaySink]]). All
    * path probes go through the Hadoop FileSystem API ([[FsUtil]]) —
    * `java.io.File` would be always-false on `hdfs://`/`abfss://` URIs,
    * silently loading nothing.
    *
    * r17 (guide §2.6): the per-group chains execute OVERLAPPED.
    * Submission keeps the reference's fixed group order (hfpTask.ts:
    * 83-86; FIFO scheduling gives the earlier group's jobs priority),
    * and every observable of the sequential orchestration is preserved
    * because the groups are independent: each group writes only its own
    * table(s), and each group's dedup snapshot reads only those same
    * tables (VP reads vehicleposition+unsignedevent — both written by
    * VP alone), so no group can observe another group's appends in
    * either order. Rows-per-table and idempotency are byte-identical to
    * the sequential shape (pinned by HfpLoadJobSpec, incl. the
    * cross-group same-uuid case).
    */
  def loadDay(spark: SparkSession, csvRoot: String, sink: DaySink,
      date: String, includeLightPriority: Boolean = false): Map[String, Long] = {
    val dayGroups =
      if (includeLightPriority) groups :+ lightPriorityGroup else groups
    // S1 blob-list analog, probed up front in the fixed group order:
    // does each group have any files for the date prefix? (globStatus,
    // not a local-FS directory probe — driver metadata only). The fixed
    // prefix is escaped so a csvRoot containing glob metacharacters
    // ([, {, *) stays literal — only the trailing `*` is pattern
    // syntax. The same escaped pattern feeds the CSV reader, which
    // resolves paths with the same glob grammar. Probing first means
    // only the chains with real work enter the overlapped region — a
    // day with a single populated group takes exactly the sequential
    // path (runOverlapped short-circuits on one item).
    val present = dayGroups.map { case (group, table) =>
      (group, table, FsUtil.escapeGlob(s"$csvRoot/csv/$group/$date") + "*")
    }.filter { case (_, _, pattern) => FsUtil.globNonEmpty(spark, pattern) }
    runOverlapped(present) { case (group, table, pattern) =>
      // Hash-spreading the wire rows on uuid before the cast layer was
      // A/B'd (the single-split day CSV makes every route stage one
      // task, event-log profiled) and measured 2× SLOWER end-to-end
      // (warm-fixture subset bench 4.1 → 8.9 s): shuffling 44 raw string
      // columns costs more than the serial cast it parallelizes at this
      // file size. At 100 TB the day files exceed maxPartitionBytes and
      // split naturally, so the serial-scan shape is a test-scale
      // artifact the data itself fixes. Kept serial deliberately.
      val typed =
        if (group == lightPriorityGroup._1)
          HfpCsvSource.castAllLightPriority(HfpCsvSource.readLightPriority(spark, pattern))
        else HfpCsvSource.castAll(HfpCsvSource.read(spark, pattern))
      loadGroup(typed, group, table, sink, Seq(date), s"$group/$date")
    }.flatten.toMap
  }

  /** The load core both loaders run for one event group: C4 key filter,
    * C5 routing, the dedup anti-join against a key snapshot frozen
    * before any write, and the append. `days` scopes the snapshot
    * ([[DaySink.existingKeys]]); `what` names the group and its unit of
    * work (day or micro-batch) in failures. Returns rows appended per
    * table.
    *
    * Within the group the two VP routes overlap: both anti-join the SAME
    * pinned key snapshot (frozen before either write starts, exactly the
    * read isolation the reference's sequential writes rely on), and they
    * append to different tables. Concurrent inserts are reference
    * behavior, not a liberty — the reference itself writes with
    * INSERT_CONCURRENCY=100 (constants.ts:35-52).
    */
  private[graft] def loadGroup(typed0: DataFrame, group: String, table: String,
      sink: DaySink, days: Seq[String], what: String): Map[String, Long] = {
    val spark = typed0.sparkSession
    val isVp = group == "VehiclePosition"
    val keyed = typed0.where(col("uuid").isNotNull && col("uuid") =!= "") // C4
    // the VP group feeds TWO routes — persist so the CSV scan+cast runs
    // once for both, not once per route; a caller's already-cached input
    // (the stream's micro-batch) serves both routes as it is
    val pin = isVp && typed0.storageLevel == StorageLevel.NONE
    val typed = if (pin) keyed.persist() else keyed
    // C5 routing: only the VP group splits
    val routes: Seq[(String, DataFrame)] =
      if (isVp)
        Seq(
          "vehicleposition" -> typed.where(col("journey_type") === "journey"),
          "unsignedevent" -> typed.where(
            col("journey_type").isNull || col("journey_type") =!= "journey"))
      else Seq(table -> typed)
    // A1 build side, read BEFORE writes start; VP unions both tables.
    // PINNED (eager localCheckpoint) so the key set is frozen at group
    // start, matching the reference's snapshot-then-write order
    // (hfpTask.ts:97-111): a lazy frame would re-run the key scan at
    // route 2's action and observe route 1's just-appended keys,
    // dropping a uuid that appears in BOTH VP routes within one run (the
    // reference inserts both rows) — see [[pinnedBuildSide]] for why a
    // persist+count pin is not enough against the parquet sink.
    val rawBuild = routes.map { case (t, _) => sink.existingKeys(spark, t, days: _*) }
      .reduce(_ union _)
    try {
      val (buildSide, unpin) = pinnedBuildSide(rawBuild, s"the key snapshot ($what)")
      try runOverlapped(routes) { case (targetTable, df) =>
        // ONE action per route: the appended-row count rides the write
        // itself as an observed metric, so the scan+cast+anti-join
        // streams straight into the sink. Counting first would run two
        // jobs per route, and caching the fresh rows for it would be a
        // full extra copy of the day. A zero-row route issues a zero-row
        // append (a no-op INSERT on JDBC; a _SUCCESS-only dir on parquet,
        // which the `oday=*` existence probes already handle — NOTES #56b).
        val fresh = df.join(buildSide, Seq("uuid"), "left_anti")
        val obs = Observation()
        sink.append(fresh.observe(obs, count(lit(1)).as("n")), targetTable)
        targetTable -> observedCount(obs, s"route '$targetTable' ($what)")
      }.toMap
      finally unpin()
    } finally if (pin) typed.unpersist(blocking = false)
  }

  /** The row count an action observed as `n`. The wait is bounded: an
    * action that completed without executing the observed plan fails
    * loudly naming `what`; a healthy metric arrives ~immediately.
    */
  private def observedCount(obs: Observation, what: String): Long =
    try scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(60, "s")).getAs[Long]("n")
    catch { case _: java.util.concurrent.TimeoutException =>
      throw new IllegalStateException(s"observed row count for $what " +
        "never arrived: the action completed without executing the " +
        "observed plan")
    }

  /** Estimated broadcast bytes per key row: a 36-char uuid is ~56 bytes
    * as an UnsafeRow (8B null bits + 8B offset/len word + padded
    * string), and the driver-collected BroadcastHashJoin relation
    * (hashed relation map + object headers) typically carries 3-4× that
    * — so ~224 bytes end to end. Sizing by raw string bytes alone would
    * let a "40 MB" key set pressure a default driver heap with the real
    * ~160 MB relation.
    */
  private[graft] val BroadcastKeyRowBytes = 224L

  /** One day's keys broadcast below this many rows; above it the
    * anti-join shuffles. Derived from the session's own
    * `autoBroadcastJoinThreshold` over [[BroadcastKeyRowBytes]] — the
    * same budget Spark applies when a source DOES report statistics
    * (default 10 MB → ~46k keys), so disabling auto-broadcast (-1)
    * disables this hint too. Spark can never pick the broadcast itself
    * here: a JDBC relation reports no statistics, so without the
    * count-derived hint even a 100-row key side sort-merges (SURVEY §7
    * hard part 2).
    */
  private[graft] def broadcastKeyRows(spark: SparkSession): Long = {
    val thresholdBytes = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (thresholdBytes <= 0) 0L else thresholdBytes / BroadcastKeyRowBytes
  }

  /** Materialize the dedup build side once and apply the broadcast hint
    * when the counted size allows. Returns the frame to join against
    * plus a cleanup to run after the routes loop.
    *
    * This must be `localCheckpoint()` (eager), NOT persist+count: a
    * cached plan that still reads the sink path is INVALIDATED by the
    * first route's own append — `InsertIntoHadoopFsRelation` runs
    * `refreshByPath` over every cached plan touching the written path —
    * and the recompute re-lists the directory, so route 2 would observe
    * route 1's just-appended keys after all (dropping a uuid that
    * arrives in both VP routes within one run; the reference inserts
    * both, hfpTask.ts:97-111). The checkpoint cuts lineage: the key set
    * becomes materialized rows with no file source left in the plan for
    * the refresh to touch. The row count, observed on the checkpoint's
    * own job, doubles as the build-side statistic a JDBC relation never
    * has, so small key sets get an explicit broadcast for the anti-join.
    */
  private[graft] def pinnedBuildSide(raw: DataFrame,
      what: String = "the key snapshot"): (DataFrame, () => Unit) = {
    // Failure-mode trade, chosen deliberately: a checkpoint block lost
    // to executor decommissioning (e.g. dynamic allocation) ABORTS the
    // group instead of recomputing — and that is the correct side,
    // because a recompute would observe the routes' own appends and
    // silently drop rows (wrong results), while the load is idempotent
    // and a re-run heals an abort.
    val obs = Observation()
    // eager: materializes, cuts lineage, and delivers the row count
    val pinned = raw.observe(obs, count(lit(1)).as("n")).localCheckpoint()
    val n = observedCount(obs, what)
    // free the checkpointed blocks once the routes are written — safe
    // because nothing reads the frame afterwards (a checkpointed RDD
    // cannot be recomputed once its blocks are gone)
    val cleanup: () => Unit = () => pinned.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
    val limit = broadcastKeyRows(raw.sparkSession)
    (if (limit > 0 && n <= limit) broadcast(pinned) else pinned, cleanup)
  }
}
