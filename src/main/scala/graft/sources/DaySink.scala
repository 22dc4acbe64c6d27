package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Where a day-load reads its per-day dedup keys and appends rows —
  * the seam between [[graft.jobs.HfpLoadJob.loadDay]]'s orchestration
  * (fixed group order, read-isolated build side, routing) and the
  * storage backing it. The reference's sink is Postgres (upsert.ts:6-55
  * writes, getEvents.ts:9-16 key scans); the harness twin is a
  * partitioned parquet warehouse. Both implement the same two-method
  * contract so the flagship job composition is identical — and tested —
  * against each.
  */
trait DaySink {

  /** S3: the "already inserted for this operating day" key set —
    * projection (`uuid`) and predicate (`oday = date`) pushed to the
    * store. Must return an empty one-column frame when the table has
    * no data yet.
    */
  def existingKeys(spark: SparkSession, table: String, date: String): DataFrame

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
      date: String): DataFrame = {
    // escape the warehouse prefix so a dir containing glob
    // metacharacters stays literal in both the probe pattern and the
    // reader (Spark resolves read paths with the same glob grammar)
    val path = FsUtil.escapeGlob(s"$dir/$table")
    // probe for actual day partitions, not the bare directory: a
    // zero-row append leaves a _SUCCESS-only dir that exists but has no
    // schema to infer
    if (FsUtil.globNonEmpty(spark, s"$path/oday=*"))
      spark.read.schema(DaySink.keySchema).parquet(path)
        .where(col("oday") === lit(date)) // partition-pruned
        .select("uuid")
    else DaySink.emptyKeys(spark)
  }

  override def append(df: DataFrame, table: String): Unit =
    JdbcSink.writeParquet(df, dir, table)
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
  */
final case class JdbcDaySink(
    url: String,
    user: String = "",
    password: String = "",
    batchSize: Int = 1000,
    numPartitions: Int = 100,
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

  private def cfg(table: String): JdbcSink.Config =
    JdbcSink.Config(url, table, user, password, batchSize, numPartitions)

  override def existingKeys(spark: SparkSession, table: String,
      date: String): DataFrame = {
    ensureTable(table)
    JdbcSink.readKeys(spark, cfg(table), date)
  }

  override def append(df: DataFrame, table: String): Unit = {
    ensureTable(table)
    JdbcSink.write(df, cfg(table))
  }
}
