package graft.jobs

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.{DaySink, FsUtil, HfpCsvSource, ParquetDaySink}

/** The reference's whole day-load orchestration (hfpTask.ts:13-151) as
  * one idempotent batch job: per event group — scan the group+date CSV
  * prefix, cast, key-filter, anti-join once against the sink's existing
  * keys for that operating day, route, append.
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
  * Scale: each group is scan → C4 key filter → one broadcast/shuffled
  * anti-join on the wire `uuid` → 44-column cast → route split →
  * partitioned append. The cast runs on the join's survivors only, so a
  * re-run casts the few rows it keeps, not the whole day, and a
  * shuffled join exchanges wire strings; the VP group's two routes
  * share that one join (its cast output is cached for both), and the
  * sink layout (`oday=` partitions) makes the next run's key scan
  * partition-pruned.
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
    * warehouse directory for the parquet twin. The URL carries host,
    * port, database and ssl settings; credentials and batching come from
    * the secrets-resolved environment (X1,
    * [[graft.sources.SecretsConfig]]) with the reference's exact keys:
    * PGUSER/PGPASSWORD, EVENT_BATCH_SIZE, INSERT_CONCURRENCY
    * (constants.ts:35-52). Missing credentials, or a batch size or
    * concurrency that is set but not a positive integer, throw
    * `IllegalArgumentException` before any Spark work. INSERT_CONCURRENCY
    * caps the concurrent insert connections, like the reference's PQueue
    * ([[graft.sources.JdbcDaySink]]).
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
      // unset or blank keeps the reference default; anything else must
      // be a positive integer, checked here, not at the first route's
      // write (after the key snapshots, maybe after other groups' appends)
      def num(key: String, dflt: Int): Int =
        e.get(key).map(_.trim).filter(_.nonEmpty) match {
          case None => dflt
          case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
            throw new IllegalArgumentException(
              s"$key must be a positive integer, got '${e(key)}'"))
        }
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
        // SPARK_MASTER is the deployment override of local[cores]
        val spark = graft.GraftSession.build(master = sys.env.get("SPARK_MASTER"))
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
    // S1 blob-list analog, listed up front in the fixed group order:
    // which files does each group have for the date prefix? (globStatus,
    // not a local-FS directory probe — driver metadata only). The fixed
    // prefix is escaped so a csvRoot containing glob metacharacters
    // ([, {, *) stays literal — only the trailing `*` is pattern
    // syntax. The reader gets the listed files, each escaped again:
    // handed the pattern it would glob a second time and log a
    // FileStreamSink WARN with a stack trace per read (its
    // metadata-directory probe stats the pattern as a path). Listing
    // first means only the chains with real work enter the overlapped
    // region — a day with a single populated group takes exactly the
    // sequential path (runOverlapped short-circuits on one item).
    val present = dayGroups.map { case (group, table) =>
      (group, table, FsUtil.glob(spark, FsUtil.escapeGlob(s"$csvRoot/csv/$group/$date") + "*"))
    }.filter { case (_, _, files) => files.nonEmpty }
    runOverlapped(present) { case (group, table, files) =>
      // Hash-spreading the wire rows on uuid before the cast layer was
      // A/B'd (the single-split day CSV makes every route stage one
      // task, event-log profiled) and measured 2× SLOWER end-to-end
      // (warm-fixture subset bench 4.1 → 8.9 s): shuffling 44 raw string
      // columns costs more than the serial cast it parallelizes at this
      // file size. At 100 TB the day files exceed maxPartitionBytes and
      // split naturally, so the serial-scan shape is a test-scale
      // artifact the data itself fixes. Kept serial deliberately.
      val paths = files.map(FsUtil.escapeGlob)
      val wire =
        if (group == lightPriorityGroup._1) HfpCsvSource.readLightPriority(spark, paths: _*)
        else HfpCsvSource.read(spark, paths: _*)
      loadGroup(wire, group, table, sink, Seq(date), s"$group/$date")
    }.flatten.toMap
  }

  /** The load core both loaders run for one event group's WIRE frame
    * ([[HfpCsvSource.read]] output): C4 key filter, the dedup anti-join
    * against a key snapshot frozen before any write, the C3×K2 cast,
    * C5 routing, and the append. `days` scopes the snapshot
    * ([[DaySink.existingKeys]]); `what` names the group and its unit of
    * work (day or micro-batch) in failures. Returns rows appended per
    * table.
    *
    * The cast runs AFTER the anti-join, the reverse of the reference's
    * cast-then-probe (transformHfpItem.ts:54-107, then
    * insertHfpFromBlobStream.ts:75), because Catalyst never pushes a
    * `left_anti` below the 44-column cast `Project` (it cannot prove the
    * cast keeps `uuid`): casting first would cast every row a re-run
    * then drops. The two orders keep the same rows. The reader trims
    * every field, and `castString` is the identity on a non-empty
    * string, so C4 (`uuid` non-NULL, non-empty) means the same on the
    * wire column as on the cast one, and a surviving wire `uuid` equals
    * its cast value; the key side holds cast uuids, which are those
    * same strings. Routing reads the cast `journey_type`, as before.
    *
    * The group runs ONE anti-join: the VP build side is the union of
    * both route tables' keys, the same for both routes, and the route
    * filter reads only left-side columns, so it commutes with the
    * anti-join. The routes split after the join and overlap: both
    * read the same pinned snapshot (frozen before either write starts,
    * exactly the read isolation the reference's sequential writes rely
    * on), and they append to different tables. Concurrent inserts are
    * reference behavior, not a liberty — the reference itself writes
    * with INSERT_CONCURRENCY=100 (constants.ts:35-52).
    */
  private[graft] def loadGroup(wire: DataFrame, group: String, table: String,
      sink: DaySink, days: Seq[String], what: String): Map[String, Long] = {
    val spark = wire.sparkSession
    val isVp = group == "VehiclePosition"
    val tables = if (isVp) Seq("vehicleposition", "unsignedevent") else Seq(table)
    // A1 build side, read BEFORE writes start; VP unions both tables.
    // PINNED (eager localCheckpoint) so the key set is frozen at group
    // start, matching the reference's snapshot-then-write order
    // (hfpTask.ts:97-111): a lazy frame would re-run the key scan at
    // route 2's action and observe route 1's just-appended keys,
    // dropping a uuid that appears in BOTH VP routes within one run (the
    // reference inserts both rows) — see [[pinnedBuildSide]] for why a
    // persist+count pin is not enough against the parquet sink.
    val rawBuild = tables.map(t => sink.existingKeys(spark, t, days: _*)).reduce(_ union _)
    val (buildSide, unpin) = pinnedBuildSide(rawBuild, s"the key snapshot ($what)")
    try {
      val keyed = wire.where(col("uuid").isNotNull && col("uuid") =!= "") // C4
      val survivors = keyed.join(buildSide, Seq("uuid"), "left_anti")
      val fresh =
        if (group == lightPriorityGroup._1) HfpCsvSource.castAllLightPriority(survivors)
        else HfpCsvSource.castAll(survivors)
      // the VP group feeds TWO routes — persist the cast survivors so
      // the scan, join and cast run once for both (on a re-run that is
      // the few surviving rows, not the group); a caller's already-cached
      // input (the stream's micro-batch) is not copied a second time
      val pin = isVp && wire.storageLevel == StorageLevel.NONE
      val routed = if (pin) fresh.persist() else fresh
      // C5 routing: only the VP group splits
      val routes: Seq[(String, DataFrame)] =
        if (isVp)
          Seq(
            "vehicleposition" -> routed.where(col("journey_type") === "journey"),
            "unsignedevent" -> routed.where(
              col("journey_type").isNull || col("journey_type") =!= "journey"))
        else Seq(table -> routed)
      try runOverlapped(routes) { case (targetTable, df) =>
        // ONE action per route: the appended-row count rides the write
        // itself as an observed metric, so the rows stream straight into
        // the sink. Counting first would run two jobs per route. A
        // zero-row route issues a zero-row append (a no-op INSERT on
        // JDBC; a _SUCCESS-only dir on parquet, which the `oday=*`
        // existence probes already handle — NOTES #56b).
        val obs = Observation()
        sink.append(df.observe(obs, count(lit(1)).as("n")), targetTable)
        targetTable -> observedCount(obs, s"route '$targetTable' ($what)")
      }.toMap
      finally if (pin) routed.unpersist(blocking = false)
    } finally unpin()
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
    // cannot be recomputed once its blocks are gone, which is what
    // `RDD.unpersist` would WARN about)
    val cleanup: () => Unit = () => pinned.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.graftbridge.Bridge.unpersistRDD(l.rdd.sparkContext, l.rdd.id)
      case _ => ()
    }
    val limit = broadcastKeyRows(raw.sparkSession)
    (if (limit > 0 && n <= limit) broadcast(pinned) else pinned, cleanup)
  }
}
