package graft.sources

/** The reference's Postgres schema re-expressed as DDL
  * (postgres_schema.sql:1-61): the sink table's columns and types per
  * dialect. The JDBC I/O itself (key scan, batched append) lives on
  * [[JdbcDaySink]]; this object only says what a table looks like, for
  * `JdbcDaySink`'s opt-in bootstrap and for callers that create the
  * tables themselves (the Derby specs, the day-load benchmark's seed).
  */
object JdbcSink {

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
}
