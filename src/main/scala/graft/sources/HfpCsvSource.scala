package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.HfpCasts._

/** The reference's CSV wire format (C1) as a Spark source.
  *
  * Faithful to the reference's parser options (reference:
  * utils/parseCsv.ts:1-11 + utils/hfpColumns.ts:1-47):
  *  - headerless, positional — the 44-column order is baked into the
  *    read schema (all strings at the wire layer)
  *  - delimiter `,`, quote `"`
  *  - fields trimmed (ignoreLeading/TrailingWhiteSpace)
  *  - lines whose values are all empty are skipped
  *    (csv-parse `skip_lines_with_empty_values` semantics;
  *    `skip_empty_lines` falls out of Spark's reader for free)
  *
  * Scale notes: Spark's CSV reader splits large files by range and
  * parallelizes across executors; schema is fixed (no inference pass);
  * a `csv/<group>/<date>*` path layout gives partition pruning by
  * prefix exactly like the reference's blob-list scan (S1,
  * hfpStorage.ts:26). Against the real archive the same reader runs
  * over `abfss://container@account.dfs.core.windows.net/csv/...`
  * (hadoop-azure on the classpath + account credentials in the Hadoop
  * conf) — the path string is the only change; snapshot isolation on
  * reads (azureStorage.ts:38-45) is unnecessary for immutable archive
  * blobs and is dropped (SURVEY.md §4).
  */
object HfpCsvSource {

  /** The 44 wire columns, in exact hfpColumns.ts order. */
  val columns: Seq[String] = Seq(
    "acc", "desi", "dir", "direction_id", "dl", "dr_type", "drst",
    "event_type", "geohash_level", "hdg", "headsign",
    "is_ongoing", "journey_start_time", "journey_type", "jrn", "lat",
    "line", "loc", "long", "mode", "next_stop_id", "occu", "oday",
    "odo", "oper", "owner_operator_id", "received_at", "route_id",
    "route", "seq", "spd", "start", "stop", "topic_latitude",
    "topic_longitude", "topic_prefix", "topic_version", "tsi", "tst",
    "unique_vehicle_id", "uuid", "veh", "vehicle_number", "version")

  /** Wire schema: everything nullable string (SURVEY.md §1.2 layer 1). */
  val rawSchema: StructType =
    StructType(columns.map(StructField(_, StringType, nullable = true)))

  /** The reference schema also declares `lightpriorityevent`
    * (reference: postgres_schema.sql:1-61): the 44 wire columns plus 13
    * traffic-light-priority fields. NO reference code path reads or
    * writes that table — the event-group map (utils/hfp.ts:54-58) only
    * routes StopEvent/OtherEvent/VehiclePosition — so the route is
    * opt-in: [[graft.jobs.HfpLoadJob.lightPriorityGroup]], loaded by
    * `loadDay(..., includeLightPriority = true)` with this column list.
    * It is not in [[graft.jobs.HfpLoadJob.groups]], so the stream loader
    * rejects the group.
    */
  val lightPriorityEventColumns: Seq[String] = columns ++ Seq(
    "tlp_requestid", "tlp_requesttype", "tlp_prioritylevel", "tlp_reason",
    "tlp_att_seq", "tlp_decision", "sid", "signal_groupid",
    "tlp_signalgroupnbr", "tlp_line_configid", "tlp_point_configid",
    "tlp_frequency", "tlp_protocol")

  /** Cast types for the extra TLP fields (postgres_schema.sql:44-56):
    * integers except the varchar request/priority/reason/decision/
    * protocol fields.
    */
  lazy val lightPriorityCastTypes: Map[String, String] = (castTypes ++ Seq(
    "tlp_requestid", "tlp_att_seq", "sid", "signal_groupid",
    "tlp_signalgroupnbr", "tlp_line_configid", "tlp_point_configid",
    "tlp_frequency").map(_ -> "int").toMap)
    .withDefault(_ => "string") // concat does not preserve withDefault

  /** Per-column cast type (transformHfpItem.ts:5-51, with the typo'd
    * `vehicle_int` key faithfully leaving `vehicle_number` a string and
    * `journey_start_time`/`start` staying strings; SURVEY.md §1.2).
    */
  val castTypes: Map[String, String] = Map(
    "acc" -> "float", "dir" -> "int", "direction_id" -> "int",
    "dl" -> "int", "dr_type" -> "int", "drst" -> "boolean",
    "geohash_level" -> "int", "hdg" -> "int", "is_ongoing" -> "boolean",
    "jrn" -> "int", "lat" -> "float", "line" -> "int", "long" -> "float",
    "occu" -> "int", "oday" -> "date", "odo" -> "float", "oper" -> "int",
    "owner_operator_id" -> "int", "received_at" -> "isodate",
    "seq" -> "int", "spd" -> "float", "stop" -> "int",
    "topic_latitude" -> "float", "topic_longitude" -> "float",
    "tsi" -> "int", "tst" -> "isodate", "veh" -> "int", "version" -> "int")
    .withDefault(_ => "string")

  /** Wire schema for the TLP route (everything nullable string). */
  val lightPriorityRawSchema: StructType =
    StructType(lightPriorityEventColumns.map(
      StructField(_, StringType, nullable = true)))

  /** Read one group+date's CSV files into the wire-layer DataFrame.
    * Each path is reader path syntax: a glob, or a file escaped with
    * [[FsUtil.escapeGlob]].
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    read(spark, paths, columns, rawSchema)

  /** TLP-route variant: 57-column wire layer. */
  def readLightPriority(spark: SparkSession, paths: String*): DataFrame =
    read(spark, paths, lightPriorityEventColumns, lightPriorityRawSchema)

  /** Streaming twin of [[read]]: every CSV file that arrives in `dir`,
    * with the same options and the same all-empty-row filter.
    */
  private[graft] def readStream(spark: SparkSession, dir: String): DataFrame =
    nonEmptyRows(spark.readStream.schema(rawSchema).options(options).csv(dir), columns)

  private val options = Map(
    "header" -> "false",
    "sep" -> ",",
    "quote" -> "\"",
    "ignoreLeadingWhiteSpace" -> "true",
    "ignoreTrailingWhiteSpace" -> "true",
    "mode" -> "PERMISSIVE")

  private def read(spark: SparkSession, paths: Seq[String], cols: Seq[String],
      schema: StructType): DataFrame =
    nonEmptyRows(spark.read.schema(schema).options(options).csv(paths: _*), cols)

  /** skip_lines_with_empty_values: drop rows where every field is
    * NULL/empty (all-empty record). Spark already drops fully-empty
    * physical lines.
    */
  private def nonEmptyRows(raw: DataFrame, cols: Seq[String]): DataFrame =
    raw.where(cols.map(c => col(c).isNotNull && col(c) =!= "").reduce(_ || _))

  /** The C3×K2 cast projection over the wire layer → typed DataFrame
    * (the HfpCasts builders applied per the cast-type table).
    */
  def castAll(raw: DataFrame): DataFrame =
    castAll(raw, columns, castTypes)

  /** TLP-route variant of the cast projection. */
  def castAllLightPriority(raw: DataFrame): DataFrame =
    castAll(raw, lightPriorityEventColumns, lightPriorityCastTypes)

  private def castAll(raw: DataFrame, cols: Seq[String],
      types: Map[String, String]): DataFrame = {
    val casted = cols.map { c =>
      (types(c) match {
        case "int" => castInt(col(c))
        case "float" => castFloat(col(c))
        case "boolean" => castBool(col(c))
        case "isodate" => castTimestamp(col(c))
        case "date" => castDate(col(c))
        case _ => castString(col(c))
      }).as(c)
    }
    raw.select(casted: _*)
  }
}
