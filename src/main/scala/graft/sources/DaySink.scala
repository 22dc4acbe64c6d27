package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Where a load reads its dedup keys and appends rows — the seam
  * between the load core ([[graft.jobs.HfpLoadJob.loadGroup]]: routing,
  * read-isolated build side, anti-join), which both the day job and
  * [[graft.streaming.HfpStreamLoader]] run, and the storage backing it.
  * The reference's sink is Postgres (upsert.ts:6-55 writes,
  * getEvents.ts:9-16 key scans); the harness twin is a partitioned
  * parquet warehouse. Both implement the same two-method contract, so
  * both loaders run — and are tested — against each.
  */
trait DaySink {

  /** S3: the "already inserted" key set — the uuids whose `oday` is one
    * of `days` (the day job passes its one day, a micro-batch the days
    * it carries) or is NULL, with projection and predicate pushed to
    * the store. NULL-`oday` keys are always read: a row whose `oday`
    * casts to NULL is stored under no day, and without them every
    * re-run would append it again (the reference reads `oday = $1`
    * only, getEvents.ts:13). Must return an empty one-column frame when
    * the table has no data yet.
    */
  def existingKeys(spark: SparkSession, table: String, days: String*): DataFrame

  /** K1/K2: append the freshly-deduped rows to the table. */
  def append(df: DataFrame, table: String): Unit
}

object DaySink {
  /** Parquet key-read schema: no footer-inference job, and `oday` stays
    * a partition column, so day filters still prune.
    */
  private[graft] val keySchema = StructType.fromDDL("uuid STRING, oday DATE")

  /** Empty `uuid` frame for sinks whose table doesn't exist yet. */
  private[graft] def emptyKeys(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], keySchema)
      .select("uuid")

  /** The [[DaySink.existingKeys]] rule as a predicate on `oday`. A
    * one-day `IN` is optimized to `=`, so the day job's key read keeps
    * its single-day shape plus the NULL clause.
    */
  private[graft] def onDays(days: Seq[String]): Column =
    col("oday").isin(days: _*) || col("oday").isNull
}

/** Parquet warehouse twin: one directory per table, `oday=` partitioned
  * so the key scan is partition-pruned. Existence probes go through the
  * Hadoop FileSystem API ([[FsUtil]]) so the sink works against
  * `file://`, `hdfs://` and object-store URIs alike — `java.io.File`
  * would silently report "missing" on any non-local scheme and degrade
  * the dedup build side to empty (duplicates on re-run).
  */
final case class ParquetDaySink(dir: String) extends DaySink {

  override def existingKeys(spark: SparkSession, table: String,
      days: String*): DataFrame = {
    // escape the warehouse prefix so a dir containing glob
    // metacharacters stays literal in both the probe pattern and the
    // reader (Spark resolves read paths with the same glob grammar)
    val path = FsUtil.escapeGlob(s"$dir/$table")
    // probe for actual day partitions, not the bare directory: a
    // zero-row append leaves a _SUCCESS-only dir that exists but has no
    // schema to infer
    if (FsUtil.globNonEmpty(spark, s"$path/oday=*"))
      spark.read.schema(DaySink.keySchema).parquet(path)
        .where(DaySink.onDays(days)) // partition-pruned
        .select("uuid")
    else DaySink.emptyKeys(spark)
  }

  /** One directory per target table, partitioned by operating day so
    * the next run's key scan is partition-pruned (the `oday` layout the
    * reference keys its dedup scans on).
    */
  override def append(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append)
      .partitionBy("oday")
      .parquet(s"$dir/$table")
}

/** The reference's actual sink shape: a JDBC database (Postgres there,
  * embedded Derby in the test harness). By default tables are expected
  * to pre-exist (the reference applies postgres_schema.sql by migration
  * before any load runs); with `bootstrapDdl = true` the sink creates
  * each missing table on first touch from [[JdbcSink.createTableDdl]] —
  * the reference migration's own column types against Postgres
  * ([[JdbcSink.dialectFor]]), the Derby-safe mapping elsewhere. Key
  * scans push projection+predicate down (getEvents.ts:9-16); writes are
  * plain batched INSERT appends (upsert.ts:6-55 — the "upsert" never
  * updates).
  *
  * The mapping that replaces the reference's hand-rolled machinery
  * (hfpTask.ts:53-80):
  *  - `INSERT_CONCURRENCY` (bounded PQueue) → `numPartitions`, an upper
  *    bound: a `coalesce`, one JDBC connection per partition, no shuffle.
  *    More upstream splits run scan+cast+insert in `numPartitions` tasks,
  *    the trade Spark's own JDBC writer makes; inserts are database-bound
  *  - `EVENT_BATCH_SIZE` (rows per INSERT) → `batchSize`, the writer's
  *    `batchsize` option (executeBatch under the hood)
  *  - `item[key] || null` falsy→NULL netting → already folded into the
  *    cast layer (HfpCasts), so the sink writes values as-is
  *  - fail-fast on insert error (hfpTask.ts:46-49) → task failure fails
  *    the job (retries configurable, idempotent thanks to dedup)
  */
final case class JdbcDaySink(
    url: String,
    user: String = "",
    password: String = "",
    batchSize: Int = 1000, // EVENT_BATCH_SIZE default, constants.ts:52
    numPartitions: Int = 100, // INSERT_CONCURRENCY default, constants.ts:51
    bootstrapDdl: Boolean = false) extends DaySink {

  /** Tables already probed this sink instance — the existence check is
    * one metadata round trip per table per run, not per call.
    */
  @transient private lazy val ensured =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def connect(): java.sql.Connection =
    if (user.nonEmpty)
      java.sql.DriverManager.getConnection(url, user, password)
    else java.sql.DriverManager.getConnection(url)

  /** Create-if-absent bootstrap (opt-in): one `CREATE TABLE` from the
    * dialect mapping when the table is missing. Runs on the driver
    * before any Spark read/write of the table — the engine-side analog
    * of applying the reference migration.
    */
  private def ensureTable(table: String): Unit =
    if (bootstrapDdl && !ensured.contains(table)) {
      val conn = connect()
      try {
        val meta = conn.getMetaData
        // scope the probe to the CONNECTION's schema (where an
        // unqualified CREATE/SELECT resolves): an unscoped getTables
        // would find a same-named table in another schema, skip the
        // create, and the load would then fail on the missing relation
        val schema =
          try Option(conn.getSchema).filter(_.nonEmpty).orNull
          catch { case _: Throwable => null }
        def exists(n: String): Boolean = {
          val rs = meta.getTables(null, schema, n, null)
          try rs.next() finally rs.close()
        }
        // Derby folds unquoted identifiers to upper case, Postgres to
        // lower — probe both spellings of the created name
        if (!exists(table) && !exists(table.toUpperCase)) {
          val (cols, types) = JdbcSink.tableColumns(table)
          try conn.createStatement().execute(JdbcSink.createTableDdl(
            table, cols, types, JdbcSink.dialectFor(url)))
          catch { case e: java.sql.SQLException =>
            // concurrent first-touch (another thread/process created it
            // between probe and create) is fine; anything else is real
            if (!exists(table) && !exists(table.toUpperCase)) throw e
          }
        }
      } finally conn.close()
      ensured.add(table)
    }

  private def props: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("user", user)
    p.setProperty("password", password)
    p
  }

  /** Spark's JDBC source pushes both the `where` and the `select` down
    * to the database: the reference's `SELECT uuid WHERE oday = ?`, plus
    * `OR oday IS NULL` ([[DaySink.onDays]]).
    */
  override def existingKeys(spark: SparkSession, table: String,
      days: String*): DataFrame = {
    ensureTable(table)
    spark.read.jdbc(url, table, props)
      .where(DaySink.onDays(days))
      .select("uuid")
  }

  /** Batched INSERT append on at most `numPartitions` connections. Not
    * the writer's `numPartitions` option: it probes `df.rdd` in a
    * separate execution, from which an `Observation` on `df` fires 0.
    */
  override def append(df: DataFrame, table: String): Unit = {
    ensureTable(table)
    df.coalesce(numPartitions)
      .write
      .mode(SaveMode.Append)
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, props)
  }
}
