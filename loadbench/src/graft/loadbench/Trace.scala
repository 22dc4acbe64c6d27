package graft.loadbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side work counted between two points in time. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    singleTaskStages: Long = 0, shuffleBytes: Long = 0, bytesWritten: Long = 0,
    recordsRead: Long = 0, busyMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, singleTaskStages - o.singleTaskStages,
    shuffleBytes - o.shuffleBytes, bytesWritten - o.bytesWritten,
    recordsRead - o.recordsRead, busyMs - o.busyMs)
}

/** Counts jobs, stages, tasks, single-task stages, shuffle bytes
  * written, output bytes, input records and task busy time.
  */
final class CountingListener extends SparkListener {
  private val jobs, stages, tasks, single, shuffle, written, read, busy = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    if (e.stageInfo.numTasks == 1) single.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      written.addAndGet(m.outputMetrics.bytesWritten)
      read.addAndGet(m.inputMetrics.recordsRead)
      busy.addAndGet(m.executorRunTime)
    }
  }

  def snapshot(): Counters = Counters(jobs.get, stages.get, tasks.get,
    single.get, shuffle.get, written.get, read.get, busy.get)
}

/** One traced call: `base` names a span whose work this one re-executes
  * (a decomposed layer re-runs its upstream prefix), subtracted from its
  * self time and counts.
  */
final case class Span(id: Int, name: String, group: String, parent: Int,
    run: String, startNs: Long, endNs: Long, counters: Counters,
    base: Option[Int]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans around the benchmark's calls into each layer, with
  * listener counts attached at the same boundaries.
  */
final class Tracer(spark: SparkSession, val run: String) {
  private val sc = spark.sparkContext
  private val listener = new CountingListener
  sc.addSparkListener(listener)
  private val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Int] = List(0)

  def span[A](name: String, group: String = "", base: Option[Span] = None)(
      body: => A): (A, Span) = {
    BenchBus.drain(sc)
    val c0 = listener.snapshot()
    nextId += 1
    val id = nextId
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    val a = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    BenchBus.drain(sc)
    val s = Span(id, name, group, parent, run, t0, t1, listener.snapshot() - c0,
      base.map(_.id))
    spans += s
    (a, s)
  }

  /** Duration minus the time child spans cover and minus the re-executed
    * base span's duration (never below zero).
    */
  def selfSeconds(s: Span): Double = {
    val children = spans.filter(_.parent == s.id).map(_.seconds).sum
    val base = s.base.map(b => byId(b).seconds).getOrElse(0.0)
    math.max(0.0, s.seconds - children - base)
  }

  def selfCounters(s: Span): Counters =
    s.base.map(b => s.counters - byId(b).counters).getOrElse(s.counters)

  private def byId(id: Int): Span = spans.find(_.id == id).get

  def close(): Unit = sc.removeSparkListener(listener)

  def writeJson(path: java.nio.file.Path): Unit = {
    def c(x: Counters) =
      s""""jobs":${x.jobs},"stages":${x.stages},"tasks":${x.tasks},""" +
        s""""single_task_stages":${x.singleTaskStages},"shuffle_bytes":${x.shuffleBytes},""" +
        s""""bytes_written":${x.bytesWritten},"records_read":${x.recordsRead},"busy_ms":${x.busyMs}"""
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","group":"${s.group}","parent":${s.parent},""" +
        s""""run":"${s.run}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${selfSeconds(s)},${c(s.counters)}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Listener-only tracing of one whole call (no spans inside it). */
object Listened {
  def apply[A](spark: SparkSession)(body: => A): (A, Counters) = {
    val sc = spark.sparkContext
    val l = new CountingListener
    sc.addSparkListener(l)
    try {
      val a = body
      BenchBus.drain(sc)
      (a, l.snapshot())
    } finally sc.removeSparkListener(l)
  }
}
