package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.HfpCasts.castDate
import graft.jobs.HfpLoadJob
import graft.sources.{DaySink, FsUtil, HfpCsvSource, ParquetDaySink}

/** The reference's loader as a continuous service: the batch day job's
  * load core ([[HfpLoadJob.loadGroup]]) run on every micro-batch of
  * Structured Streaming's file source (which IS the incremental
  * blob-archive scan: new CSV files are discovered per micro-batch,
  * processed exactly once per run, and tracked in the checkpoint),
  * against any [[DaySink]] — the parquet twin or a JDBC database.
  *
  * Idempotency is the same anti-join the day job uses — re-delivered or
  * re-uploaded files dedup against the sink's existing keys, so the
  * stream can be restarted from scratch (or the batch job re-run over
  * the same days) without double inserts. This is the reference's
  * "re-run the day" late-data model (hfpStorage.ts:15-16) upgraded to
  * continuous arrival.
  */
object HfpStreamLoader {

  /** [[start]] into the parquet warehouse at `sinkDir` (the layout
    * HfpLoadJob writes).
    */
  def start(spark: SparkSession, csvRoot: String, sinkDir: String,
      group: String, checkpoint: String): StreamingQuery =
    start(spark, csvRoot, ParquetDaySink(sinkDir), group, checkpoint)

  /** Start loading one event group's directory into `sink`. Returns the
    * query; caller owns lifecycle. Only the groups of
    * [[HfpLoadJob.groups]] are accepted: any other would be read with
    * the wrong wire schema.
    */
  def start(spark: SparkSession, csvRoot: String, sink: DaySink,
      group: String, checkpoint: String): StreamingQuery = {
    val table = HfpLoadJob.groups.toMap.getOrElse(group,
      throw new IllegalArgumentException(s"unknown event group '$group': " +
        s"the stream loads ${HfpLoadJob.groups.map(_._1).mkString(", ")}"))
    // escaped like the batch path: a csvRoot containing glob
    // metacharacters is literal directory naming to the file source
    HfpCsvSource.readStream(spark, FsUtil.escapeGlob(s"$csvRoot/csv/$group"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // pin the wire batch: the oday probe and the routes would
        // otherwise each re-run the CSV scan (the load core casts)
        val batch = batch0.persist()
        try {
          // the batch's operating days scope the sink key scan, like the
          // day job's one day: a micro-batch spans at most a few days
          // (bounded collect), and an unscoped scan would pay a
          // full-history key read + anti-join every micro-batch once the
          // sink holds months of days. The probe casts `oday` as the
          // load core will, so it names the days the cast rows carry.
          val odays = batch.select(castDate(col("oday")).cast("string")).distinct().collect()
          if (odays.nonEmpty)
            HfpLoadJob.loadGroup(batch, group, table, sink,
              odays.flatMap(r => Option(r.getString(0))).toSeq,
              s"$group, micro-batch $batchId")
        } finally batch.unpersist(blocking = false)
        () // a Unit body picks the Scala overload of foreachBatch
      }
      .start()
  }
}
