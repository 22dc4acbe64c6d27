package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.{DaySink, HfpCsvSource, JdbcSink}

/** The reference's loader as a continuous service: the same wire
  * schema, cast layer, key filter, and routing as the batch
  * HfpLoadJob, fed by Structured Streaming's file source (which IS the
  * incremental blob-archive scan: new CSV files are discovered per
  * micro-batch, processed exactly once per run, and tracked in the
  * checkpoint).
  *
  * Idempotency is the same anti-join-per-batch the day-job uses —
  * re-delivered or re-uploaded files dedup against the sink's existing
  * keys, so the stream can be restarted from scratch (or the batch job
  * re-run over the same days) without double inserts. This is the
  * reference's "re-run the day" late-data model (hfpStorage.ts:15-16)
  * upgraded to continuous arrival.
  */
object HfpStreamLoader {

  /** Start loading one event group's directory. Returns the query;
    * caller owns lifecycle. `sinkDir` layout matches HfpLoadJob.
    */
  def start(spark: SparkSession, csvRoot: String, sinkDir: String,
      group: String, checkpoint: String): StreamingQuery = {
    val raw = spark.readStream
      .schema(HfpCsvSource.rawSchema)
      .option("header", "false")
      .option("sep", ",")
      .option("quote", "\"")
      .option("ignoreLeadingWhiteSpace", "true")
      .option("ignoreTrailingWhiteSpace", "true")
      // escaped like the batch path: a csvRoot containing glob
      // metacharacters is literal directory naming to the file source
      .csv(graft.sources.FsUtil.escapeGlob(s"$csvRoot/csv/$group"))
    val anyValue = HfpCsvSource.columns
      .map(c => col(c).isNotNull && col(c) =!= "")
      .reduce(_ || _)
    val typed = HfpCsvSource.castAll(raw.where(anyValue))
      .where(col("uuid").isNotNull && col("uuid") =!= "")

    typed.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val s = batch0.sparkSession
        // pin the batch: the oday probe, each route's anti-join and the
        // write would otherwise each re-run the CSV scan + cast
        val batch = batch0.persist()
        try {
          // the batch's operating days scope the sink key scan. A
          // micro-batch spans at most a few days (bounded collect); the
          // batch path's scan is partition-pruned the same way
          // (DaySink), and the reference reads keys `WHERE oday = $1`
          // (getEvents.ts:13) — an unscoped scan would pay a
          // full-history key read + anti-join every micro-batch once
          // the sink holds months of days.
          val odayRows = batch.select("oday").distinct().collect()
          val odays = odayRows.collect {
            case r if !r.isNullAt(0) => r.getDate(0)
          }.toSeq
          val withNullOday = odayRows.exists(_.isNullAt(0))
          if (odayRows.nonEmpty) {
            val routes: Seq[(String, DataFrame)] =
              if (group == "VehiclePosition")
                Seq(
                  "vehicleposition" -> batch.where(col("journey_type") === "journey"),
                  "unsignedevent" -> batch.where(
                    col("journey_type").isNull || col("journey_type") =!= "journey"))
              else Seq(graft.jobs.HfpLoadJob.groups.toMap.getOrElse(group, group.toLowerCase) -> batch)
            val rawBuild =
              if (group == "VehiclePosition")
                existingKeys(s, sinkDir, "vehicleposition", odays, withNullOday)
                  .union(existingKeys(s, sinkDir, "unsignedevent", odays, withNullOday))
              else existingKeys(s, sinkDir, routes.head._1, odays, withNullOday)
            // pinned like the batch path (see pinnedBuildSide): route 1's
            // append would otherwise refresh a lazy key scan, and route 2
            // would drop a uuid that arrives in both VP routes
            val (buildSide, unpin) = graft.jobs.HfpLoadJob.pinnedBuildSide(
              rawBuild, s"the key snapshot ($group, micro-batch $batchId)")
            try routes.foreach { case (table, df) =>
              val fresh = df.join(buildSide, Seq("uuid"), "left_anti")
              if (!fresh.isEmpty) JdbcSink.writeParquet(fresh, sinkDir, table)
            } finally unpin()
          }
        } finally batch.unpersist(blocking = false)
      }
      .start()
  }

  /** The sink's key set for the given operating days only — the filter
    * is on the partition column, so only those `oday=` directories are
    * scanned (same pruning as the batch path's per-day scan). Rows the
    * cast layer left with a NULL oday land in the default partition;
    * they join the build side only when the batch itself carries such
    * rows.
    */
  private[graft] def existingKeys(spark: SparkSession, sinkDir: String,
      table: String, odays: Seq[java.sql.Date],
      includeNullOday: Boolean = false): DataFrame = {
    // escaped so a sinkDir containing glob metacharacters stays literal
    val path = graft.sources.FsUtil.escapeGlob(s"$sinkDir/$table")
    // Hadoop FS probe, not java.io.File — the latter is always false on
    // hdfs://-style URIs, which would silently empty the dedup build
    // side (duplicates on every restart). Probe for day partitions, not
    // the bare dir: a zero-row append leaves a _SUCCESS-only dir with
    // no schema to infer.
    if (graft.sources.FsUtil.globNonEmpty(spark, s"$path/oday=*")) {
      val dayFilter = if (odays.nonEmpty)
        col("oday").isin(odays: _*) else lit(false)
      val keyFilter = if (includeNullOday)
        dayFilter || col("oday").isNull else dayFilter
      spark.read.schema(DaySink.keySchema).parquet(path)
        .where(keyFilter).select("uuid")
    } else DaySink.emptyKeys(spark)
  }
}
