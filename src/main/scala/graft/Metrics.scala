package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver-side observability for `Dataset.observe` metrics. Of the
  * reference's monitoring utilities (M3 duration logging logTime.ts,
  * M4/M5 rate-limited and periodic status hfpTask.ts:27-31, M1 tumbling
  * mean averageTime.ts) only the M1 mean has a counterpart, as a window
  * op (Analytics.qWindowFrame's sliding_mean_qty).
  */
object Metrics {

  /** Collects the `Dataset.observe(...)` metrics of every successful
    * execution (latest row per metric name) and WARNS whenever an
    * observed row carries a non-zero `dropped_blocks` field — the
    * signal operators like LinkageOps emit when a hot-key cap removed
    * input, so a capped (approximate) run is distinguishable from an
    * exact one in the driver log and programmatically via [[latest]].
    */
  final class ObservationListener extends QueryExecutionListener {
    private val rows =
      new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    private val log = org.slf4j.LoggerFactory.getLogger(classOf[ObservationListener])

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        rows.put(name, row)
        val i = row.schema.fieldNames.indexOf("dropped_blocks")
        if (i >= 0 && !row.isNullAt(i) && row.getLong(i) > 0)
          log.warn(s"$name: cap dropped ${row.getLong(i)} hot blocks — " +
            "output is approximate (blocked keys lost their candidates)")
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** Latest observed row for `name`, if any execution emitted it. */
    def latest(name: String): Option[org.apache.spark.sql.Row] = Option(rows.get(name))
  }

  def attachObservations(spark: SparkSession): ObservationListener = {
    val l = new ObservationListener
    spark.listenerManager.register(l)
    l
  }

  def removeObservations(spark: SparkSession, l: ObservationListener): Unit =
    spark.listenerManager.unregister(l)
}
