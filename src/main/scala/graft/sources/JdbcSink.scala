package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The reference's Postgres surface re-expressed as Spark JDBC I/O.
  *
  * Source side (S3 — getEvents.ts:9-16): the dedup-key scan with
  * projection and predicate pushed down to the database. Sink side
  * (K1/K2 — hfpTask.ts:53-80 + upsert.ts:6-55): batched multi-row
  * INSERTs with bounded concurrency.
  *
  * The mapping that replaces the reference's hand-rolled machinery:
  *  - `INSERT_CONCURRENCY` (bounded PQueue)  → `numPartitions`, an upper
  *    bound: a `coalesce`, one JDBC connection per partition, no shuffle.
  *    More upstream splits run scan+cast+insert in `numPartitions` tasks,
  *    the trade Spark's own JDBC writer makes; inserts are database-bound
  *  - `EVENT_BATCH_SIZE` (rows per INSERT)   → `batchsize` option
  *    (executeBatch under the hood)
  *  - `item[key] || null` falsy→NULL netting → already folded into the
  *    cast layer (HfpCasts), so the sink writes values as-is
  *  - "upsert" that is really plain INSERT   → SaveMode.Append
  *  - fail-fast on insert error (hfpTask.ts:46-49) → task failure fails
  *    the job (retries configurable, idempotent thanks to dedup)
  *
  * No database runs in the test harness, so this module is exercised at
  * the API level (plan construction) and by the parquet twin below,
  * which the driver-facing queries use.
  */
object JdbcSink {

  final case class Config(
    url: String,
    table: String,
    user: String = "",
    password: String = "",
    batchSize: Int = 1000, // EVENT_BATCH_SIZE default, constants.ts:52
    numPartitions: Int = 100) // INSERT_CONCURRENCY default, constants.ts:51

  private def props(cfg: Config): java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("user", cfg.user)
    p.setProperty("password", cfg.password)
    p
  }

  /** S3: key scan with pushed projection + predicate. Spark's JDBC
    * source pushes both `where` and `select` down to the database —
    * the same `SELECT uuid WHERE oday = ?` the reference issues.
    */
  def readKeys(spark: SparkSession, cfg: Config, oday: String): DataFrame =
    spark.read.jdbc(cfg.url, cfg.table, props(cfg))
      .where(org.apache.spark.sql.functions.col("oday") === oday)
      .select("uuid")

  /** K1/K2: batched INSERT append on at most `numPartitions` connections.
    * Not the writer's `numPartitions` option: it probes `df.rdd` in a
    * separate execution, from which an `Observation` on `df` fires 0.
    */
  def write(df: DataFrame, cfg: Config): Unit =
    df.coalesce(cfg.numPartitions)
      .write
      .mode(SaveMode.Append)
      .option("batchsize", cfg.batchSize.toString)
      .jdbc(cfg.url, cfg.table, props(cfg))

  /** DDL dialects for [[createTableDdl]]: `Derby` (default) maps the
    * cast-type table to what the engine actually writes through Spark's
    * JDBC sink; `Postgres` reproduces the reference migration's own
    * column types so a user running the generated DDL against Postgres
    * gets byte-identical columns to the reference's schema.
    */
  sealed trait Dialect
  case object Derby extends Dialect
  case object Postgres extends Dialect

  /** Dialect from the JDBC URL: `jdbc:postgresql:` gets the reference
    * migration's own types; anything else the Derby-safe mapping (which
    * is also what Spark's JDBC sink writes through).
    */
  def dialectFor(url: String): Dialect =
    if (url.startsWith("jdbc:postgresql")) Postgres else Derby

  /** Wire columns + cast-type table per sink table — the inputs
    * [[createTableDdl]] needs to bootstrap that table.
    * `lightpriorityevent` is the 57-column TLP superset
    * (postgres_schema.sql:44-56); the four event tables share the
    * 44-column wire schema.
    */
  def tableColumns(table: String): (Seq[String], String => String) =
    if (table == "lightpriorityevent")
      (HfpCsvSource.lightPriorityEventColumns, HfpCsvSource.lightPriorityCastTypes)
    else (HfpCsvSource.columns, HfpCsvSource.castTypes)

  /** The reference migration's column types, keyed by column name
    * (postgres_schema.sql:65-112 — identical across the five event
    * tables; the TLP-only columns come from :44-56). NOT derivable from
    * the cast-type table: e.g. the faithful `vehicle_int` typo leaves
    * `vehicle_number` a string in the cast layer while the DDL says
    * `integer`, and `journey_start_time`/`start` stay strings while the
    * DDL says `time` — Postgres coerces text parameters to the column
    * type on INSERT (upsert.ts:49-54), which is how the reference gets
    * away with the same mismatch.
    */
  private val postgresTypes: Map[String, String] = (
    Seq("owner_operator_id", "direction_id", "geohash_level", "dir",
      "oper", "hdg", "line", "occu", "seq", "dr_type")
      .map(_ -> "smallint") ++
    Seq("vehicle_number", "veh", "dl", "jrn", "stop", "tlp_requestid",
      "tlp_att_seq", "sid", "signal_groupid", "tlp_signalgroupnbr",
      "tlp_line_configid", "tlp_point_configid", "tlp_frequency")
      .map(_ -> "integer") ++
    Seq("tsi", "version").map(_ -> "bigint") ++
    Seq("acc", "spd", "lat", "long", "odo", "topic_latitude",
      "topic_longitude", "id").map(_ -> "double precision") ++
    Seq("is_ongoing", "drst").map(_ -> "boolean") ++
    Seq("journey_start_time", "start").map(_ -> "time") ++
    Seq("tst", "received_at").map(_ -> "timestamp with time zone") ++
    Seq("oday" -> "date", "uuid" -> "uuid")
  ).toMap.withDefault(_ => "varchar(255)")

  /** DDL for a sink table — the engine-side analog of the reference's
    * migration schema (postgres_schema.sql:1-61, applied before any
    * load runs).
    *
    * `Derby` dialect follows what the cast layer produces: int→BIGINT,
    * float→DOUBLE PRECISION, boolean→BOOLEAN, date→DATE,
    * isodate→TIMESTAMP, string→VARCHAR (explicit VARCHAR, not the
    * dialect default, because Derby maps StringType to CLOB which
    * can't sit in comparisons). `Postgres` emits the reference
    * migration's exact per-column types instead.
    */
  def createTableDdl(table: String, columns: Seq[String],
      castTypes: String => String, dialect: Dialect = Derby): String = {
    val cols = columns.map { c =>
      val sqlType = dialect match {
        case Postgres => postgresTypes(c)
        case Derby => castTypes(c) match {
          case "int" => "BIGINT"
          case "float" => "DOUBLE PRECISION"
          case "boolean" => "BOOLEAN"
          case "date" => "DATE"
          case "isodate" => "TIMESTAMP"
          case _ => "VARCHAR(255)"
        }
      }
      s"$c $sqlType"
    }
    s"CREATE TABLE $table (${cols.mkString(", ")})"
  }

  /** Parquet twin of the sink for harness runs (same routing shape:
    * one directory per target table, partitioned by operating day for
    * partition-pruned re-reads — the `oday` layout the reference keys
    * its dedup scans on).
    */
  def writeParquet(df: DataFrame, baseDir: String, table: String): Unit =
    df.write.mode(SaveMode.Append)
      .partitionBy("oday")
      .parquet(s"$baseDir/$table")
}
