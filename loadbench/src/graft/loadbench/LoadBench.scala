package graft.loadbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.HfpLoadJob
import graft.sources.{DaySink, FsUtil, HfpCsvSource, JdbcDaySink, ParquetDaySink}
import graft.streaming.HfpStreamLoader

/** Closed-loop day-load benchmark: one client, one load at a time, the
  * way the operator's daily CLI runs.
  *
  * `LoadBench --workload W --seed N --dir DIR --seconds S --trace 0|1
  * --cores C [--rows R]` first has [[DayGen]] write the seeded day into
  * DIR (in a session of its own, stopped before any measurement), then
  * runs the workload against it. Every load starts from
  * the pristine sink (restored off the timed path) and its per-table
  * counts are checked against the generator's expected counts.
  *
  *  - `--trace 0`: end-to-end metrics with no tracing attached.
  *  - `--trace 1`: each layer's public call timed on its own under
  *    spans, plus whole loads under a listener only, for the per-layer
  *    metrics and the tracing overhead.
  *
  * Prints one detail JSON line (percentiles, sample counts, window
  * health, self-time shares) and then the result line.
  */
object LoadBench {

  // ---- window health -------------------------------------------------

  private def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split(" ").take(3).toSeq.map(_.toDouble)
    catch { case NonFatal(_) => Seq.empty }

  /** The machine's CPU ticks so far, all and stolen by the hypervisor,
    * from the first line of `/proc/stat`.
    */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case NonFatal(_) => (0L, 0L) }

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  /** Milliseconds the JIT compilers have spent so far in this JVM. */
  private def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Whole-stage and expression classes compiled so far in this JVM. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.getName.contains("Old"))

  /** Old-generation occupancy after its most recent full collection, in
    * MB.
    */
  private def oldGenAfterGcMb(): Double =
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1048576.0)
      .getOrElse(0.0)

  // ---- the sink under test, restorable between loads ------------------

  final class BenchSink(w: Workload, dir: Path) {
    val sinkDir: Path = dir.resolve("sink")
    val sink: DaySink =
      if (w.jdbc) JdbcDaySink(DayGen.derbyUrl(dir), batchSize = 1000, numPartitions = 100)
      else ParquetDaySink(sinkDir.toString)
    private val ckptRoot = dir.resolve("ckpt")
    private var ckpts = 0

    private def walk(p: Path): Set[Path] =
      if (!Files.exists(p)) Set.empty
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.toSet finally s.close()
      }

    private val pristine = walk(sinkDir)

    def nextCheckpoint(): String = {
      ckpts += 1
      ckptRoot.resolve(ckpts.toString).toString
    }

    /** Undo every append since generation. On Derby the rows whose uuid
      * was not seeded are deleted; a table that still differs from its
      * seed in size is rebuilt from the seed copy.
      */
    def restore(): Unit =
      if (w.jdbc)
        DayGen.withConnection(DayGen.derbyUrl(dir)) { conn =>
          val st = conn.createStatement()
          def rows(t: String) = {
            val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t")
            try { rs.next(); rs.getLong(1) } finally rs.close()
          }
          DayGen.tables.foreach { t =>
            st.execute(s"DELETE FROM $t WHERE NOT EXISTS " +
              s"(SELECT 1 FROM seed_$t s WHERE s.uuid = $t.uuid)")
            if (rows(t) != rows(s"seed_$t")) {
              st.execute(s"TRUNCATE TABLE $t")
              st.execute(s"INSERT INTO $t SELECT * FROM seed_$t")
            }
          }
        }
      else
        (walk(sinkDir) -- pristine ++ walk(ckptRoot)).toSeq
          .sortBy(-_.getNameCount).foreach(Files.deleteIfExists)

    /** Rows per table in the sink right now. */
    def rowCounts(spark: SparkSession): Map[String, Long] =
      DayGen.tables.map { t =>
        t -> (if (Files.exists(sinkDir.resolve(t))) spark.read.parquet(sinkDir.resolve(t).toString).count()
          else 0L)
      }.toMap
  }

  private val groupOf: Map[String, String] =
    (HfpLoadJob.groups :+ ("VehiclePosition" -> "unsignedevent")).map(_.swap).toMap

  // ---- one load and its correctness gate -------------------------------

  final class Runner(spark: SparkSession, w: Workload, dir: Path,
      expected: DayGen.Counts) {
    val csvRoot: String = dir.toString
    val sink = new BenchSink(w, dir)

    /** Runs one load; returns the per-table rows it appended (batch) or
      * the sink's rows per table afterwards (stream).
      */
    def load(): Map[String, Long] =
      if (w.stream) {
        catchUp()
        Map.empty
      } else HfpLoadJob.loadDay(spark, csvRoot, sink.sink, DayGen.Date)

    /** One AvailableNow query per group, all running at once like the
      * loader service, each with a fresh checkpoint; returns the queries
      * once all have ended.
      */
    def catchUp(): Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
      val qs = HfpLoadJob.groups.map { case (group, _) =>
        HfpStreamLoader.start(spark, csvRoot, sink.sinkDir.toString, group,
          sink.nextCheckpoint())
      }
      try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
      qs
    }

    /** A mismatch message naming workload, group and table, if any. */
    def check(result: Map[String, Long]): Option[String] = {
      val (actual, want, what) =
        if (w.stream) (sink.rowCounts(spark),
          DayGen.tables.map(t => t -> (expected.seeded(t) + expected.appended(t))).toMap,
          "sink rows")
        else (result, expected.appended, "appended rows")
      val bad = (want.keySet ++ actual.keySet).toSeq.sorted.collect {
        case t if actual.getOrElse(t, 0L) != want.getOrElse(t, 0L) =>
          s"${w.name}: group ${groupOf.getOrElse(t, "?")} table $t: $what " +
            s"${actual.getOrElse(t, 0L)}, expected ${want.getOrElse(t, 0L)}"
      }
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }

    var attempted = 0
    var failed = 0

    /** Restore the sink, collect garbage, then one timed and checked
      * load, with a counting listener attached around the load alone
      * when `listen` is set.
      */
    def timedLoad(listen: Boolean = false): Loaded = {
      sink.restore()
      System.gc()
      attempted += 1
      val gc0 = gcMillis()
      val jit0 = jitMillis()
      val cg0 = codegenCompiles()
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      val outcome =
        try Right(if (listen) Listened(spark)(load()) else (load(), Counters()))
        catch { case NonFatal(e) => Left(s"${w.name}: load threw ${e.getClass.getName}: ${e.getMessage}") }
      val loaded = Loaded((System.nanoTime() - t0) / 1e9, (cpuNanos() - c0) / 1e9,
        (gcMillis() - gc0) / 1e3, (jitMillis() - jit0) / 1e3, codegenCompiles() - cg0,
        outcome.map(_._2).getOrElse(Counters()))
      outcome.fold(Some(_), r => check(r._1)).foreach { m =>
        failed += 1
        System.err.println(s"[loadbench] FAILED $m")
      }
      loaded
    }
  }

  /** One load's wall, process CPU, GC and JIT seconds, and listener
    * counts.
    */
  final case class Loaded(wall: Double, cpu: Double, gc: Double, jit: Double,
      compiles: Long, counters: Counters)

  // ---- statistics and output -----------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples above
    * it, as (percentile, value).
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10).map { p =>
      val s = xs.sorted
      p -> s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def timing(xs: Seq[Double]): String = obj(Seq(
    "median" -> num(median(xs)), "n" -> xs.size.toString,
    "samples" -> xs.map(num).mkString("[", ",", "]")) ++
    tail(xs).toSeq.flatMap { case (p, v) => Seq("percentile" -> p.toString, "value" -> num(v)) })

  // ---- main ---------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val opts = Cli.parse(args)
    val w = Workloads(opts("workload"))
    val dir = Paths.get(opts("dir")).toAbsolutePath
    val seconds = opts("seconds").toDouble
    val cores = opts("cores").toInt
    val traced = opts("trace") == "1"
    val load0 = loadavg()
    val g0 = System.nanoTime()
    val expected = DayGen.generate(w, opts("seed").toLong,
      opts.get("rows").map(_.toLong).getOrElse(w.rows), dir, cores)
    val generateS = (System.nanoTime() - g0) / 1e9

    val cpu0 = cpuNanos()
    val ticks0 = cpuTicks()
    val wall0 = System.nanoTime()
    val (metrics, detail, runner) =
      if (traced) TracedRun(w, dir, seconds, cores, expected, opts("seed"))
      else endToEnd(w, dir, seconds, cores, expected)
    val wall = (System.nanoTime() - wall0) / 1e9
    val health = obj(Seq(
      "nproc" -> cores.toString, "master" -> str(s"local[$cores]"),
      "loadavg_start" -> load0.map(num).mkString("[", ",", "]"),
      "loadavg_end" -> loadavg().map(num).mkString("[", ",", "]"),
      "effective_cores" -> num((cpuNanos() - cpu0) / 1e9 / wall),
      // a share above a few percent means other guests took the cores
      "steal_share" -> num {
        val (all, stolen) = cpuTicks()
        if (all > ticks0._1) (stolen - ticks0._2).toDouble / (all - ticks0._1) else 0.0
      },
      "heap_flag" -> str(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-Xm")).mkString(" ")),
      "wire_rows" -> expected.wireRows.toString,
      "generate_s" -> num(generateS),
      "failed_ratio" -> num(runner.failed.toDouble / runner.attempted)))
    SparkSession.getActiveSession.foreach(_.stop())
    if (w.jdbc) DayGen.shutdownDerby()
    println(obj(Seq("workload" -> str(w.name), "trace" -> (if (traced) "1" else "0"),
      "window" -> health) ++ detail))
    println(obj(Seq(
      "correct" -> (runner.failed == 0).toString,
      "attempted" -> runner.attempted.toString,
      "failed" -> runner.failed.toString,
      "metrics" -> obj(metrics.map { case (name, (v, unit)) =>
        name -> obj(Seq("value" -> num(v), "unit" -> str(unit)))
      }))))
  }

  type Metrics = Seq[(String, (Double, String))]

  /** Unmeasured loads between the first (cold) load and the measured
    * ones, while the JIT compiles the load's hottest paths.
    */
  val WarmupLoads = 2

  /** Measured loads per run at the least, enough that `--seconds` never
    * binds on these workloads. The JIT keeps compiling for a dozen loads,
    * so a load's time is still falling after the warm-up; a run on a slow
    * machine that fitted fewer loads in `--seconds` would take its median
    * earlier on that slope.
    */
  val MinMeasured = 3

  /** Measured session builds per run: a cold one before the loads, the
    * rest after them on a warm JVM, so the median does not ride the JIT's
    * warm-up. The loads do not exercise the rebuild's own paths, so the
    * first few rebuilds after them are unmeasured warm-up.
    */
  val Setups = 7
  val SetupWarmups = 3

  /** Old-generation occupancy right after a load, after full collections
    * on both sides of a pause in which Spark's cleaner frees the blocks
    * of broadcasts the first collection found dead, so the figure does
    * not depend on when the collector or the cleaner happened to run.
    */
  private def retainedMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    oldGenAfterGcMb()
  }

  /** Builds the session and runs its first trivial job; returns seconds. */
  private def setup(cores: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Workloads.session(cores)
    spark.range(1).count()
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  private def endToEnd(w: Workload, dir: Path, seconds: Double, cores: Int,
      expected: DayGen.Counts): (Metrics, Seq[(String, String)], Runner) = {
    val (spark, coldSetup) = setup(cores)
    val runner = new Runner(spark, w, dir, expected)
    val firstLoad = runner.timedLoad()
    // the JIT is still compiling the load's hot paths for a few loads
    (1 to WarmupLoads).foreach(_ => runner.timedLoad())
    val measured = Seq.newBuilder[Loaded]
    val retained = Seq.newBuilder[Double]
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinMeasured || (System.nanoTime() - t0) / 1e9 < seconds) {
      measured += runner.timedLoad()
      retained += retainedMb()
      n += 1
    }
    runner.sink.restore()
    def rebuild(): Double = {
      SparkSession.active.stop()
      System.gc()
      setup(cores)._2
    }
    (1 to SetupWarmups).foreach(_ => rebuild())
    val setups = coldSetup +: (2 to Setups).map(_ => rebuild())
    val loads = measured.result()
    val walls = loads.map(_.wall)
    val cpus = loads.map(_.cpu)
    val loadS = median(walls)
    val metrics: Metrics = Seq(
      "setup_s" -> (median(setups), "s"),
      "load_s" -> (loadS, "s"),
      "rows_per_s" -> (expected.wireRows / loadS, "1/s"),
      "load_cpu_s" -> (median(cpus), "s"),
      "heap_after_load_mb" -> (median(retained.result()), "MB"))
    // one cold sample per JVM: too noisy on a shared host to gate on
    val detail = Seq(
      "first_load_s" -> num(firstLoad.wall),
      "setup_s" -> timing(setups), "load_s" -> timing(walls),
      "load_cpu_s" -> timing(cpus), "jit_s" -> timing(loads.map(_.jit)),
      "heap_after_load_mb" -> timing(retained.result()))
    (metrics, detail, runner)
  }

  // ---- traced run ---------------------------------------------------------

  private object TracedRun {

    private def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    private def observed(df: DataFrame): (DataFrame, Observation) = {
      val o = Observation()
      (df.observe(o, count(lit(1)).as("n")), o)
    }

    private def n(o: Observation): Long = o.get("n").asInstanceOf[Long]

    def apply(w: Workload, dir: Path, seconds: Double, cores: Int,
        expected: DayGen.Counts, seed: String): (Metrics, Seq[(String, String)], Runner) = {
      val (spark, _) = setup(cores)
      val runner = new Runner(spark, w, dir, expected)
      // the cold load and the JIT's warm-up, outside the spans
      val firstLoad = runner.timedLoad()
      (1 to WarmupLoads).foreach(_ => runner.timedLoad())
      runner.sink.restore()

      val tr = new Tracer(spark, s"${w.name}-$seed-${System.currentTimeMillis()}")
      val m = scala.collection.mutable.LinkedHashMap[String, Double]()
      def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
      val date = DayGen.Date
      val sink = runner.sink.sink
      var keySides = 0L

      for ((group, table) <- HfpLoadJob.groups) tr.span("group", group) {
        val pattern = FsUtil.escapeGlob(s"${runner.csvRoot}/csv/$group/$date") + "*"
        val (present, list) = tr.span("list", group)(FsUtil.globNonEmpty(spark, pattern))
        add("list.s", tr.selfSeconds(list))
        val files = {
          val p = new org.apache.hadoop.fs.Path(pattern)
          Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(p))
            .map(_.toSeq).getOrElse(Nil)
        }
        add("list.files", files.size.toDouble)
        add("list.bytes", files.map(_.getLen).sum.toDouble)
        if (present) {
          val (scanDf, scanObs) = observed(HfpCsvSource.read(spark, pattern))
          val (_, scan) = tr.span("scan", group)(noop(scanDf))
          val sc = tr.selfCounters(scan)
          add("scan.s", tr.selfSeconds(scan))
          // the reader applies the all-empty filter while parsing, so its
          // input-record metric already excludes those lines: count the
          // wire lines off the span instead
          add("scan.rows_in", spark.read.text(pattern).count().toDouble)
          add("scan.rows_out", n(scanObs).toDouble)
          add("scan.tasks", sc.tasks.toDouble)

          def typedFrame() = HfpCsvSource.castAll(HfpCsvSource.read(spark, pattern))
            .where(col("uuid").isNotNull && col("uuid") =!= "")
          val (castDf, castObs) = observed(typedFrame())
          val (_, cast) = tr.span("cast", group, base = Some(scan))(noop(castDf))
          add("cast.s", tr.selfSeconds(cast))
          add("cast.rows_out", n(castObs).toDouble)
          // values non-empty on the wire but NULL after the cast: the
          // cast never turns an empty value into a non-NULL one, so the
          // per-column difference of the two counts is exactly that
          val raw = HfpCsvSource.read(spark, pattern)
          val cols = HfpCsvSource.columns
          val wire = raw.select(cols.map(c => count(when(col(c) =!= "", 1))): _*).head()
          val typed = HfpCsvSource.castAll(raw).select(cols.map(c => count(col(c))): _*).head()
          add("cast.values_nulled",
            cols.indices.map(i => wire.getLong(i) - typed.getLong(i)).sum.toDouble)

          val ((buildSide, unpin), keys) = tr.span("keys", group) {
            val rawBuild =
              if (group == "VehiclePosition")
                sink.existingKeys(spark, "vehicleposition", date)
                  .union(sink.existingKeys(spark, "unsignedevent", date))
              else sink.existingKeys(spark, table, date)
            HfpLoadJob.pinnedBuildSide(rawBuild)
          }
          add("keys.s", tr.selfSeconds(keys))
          add("keys.rows", buildSide.count().toDouble)
          keySides += 1

          val typedCached = typedFrame().persist()
          noop(typedCached)
          val routes =
            if (group == "VehiclePosition")
              Seq("vehicleposition" -> typedCached.where(col("journey_type") === "journey"),
                "unsignedevent" -> typedCached.where(
                  col("journey_type").isNull || col("journey_type") =!= "journey"))
            else Seq(table -> typedCached)
          try routes.foreach { case (target, df) =>
            val (aIn, inObs) = observed(df)
            val (aOut, outObs) = observed(aIn.join(buildSide, Seq("uuid"), "left_anti"))
            val (_, anti) = tr.span("antijoin", group)(noop(aOut))
            add("antijoin.s", tr.selfSeconds(anti))
            add("antijoin.rows_in", n(inObs).toDouble)
            add("antijoin.rows_out", n(outObs).toDouble)
            add("antijoin.shuffle_bytes", tr.selfCounters(anti).shuffleBytes.toDouble)
            val (fresh, freshObs) = observed(df.join(buildSide, Seq("uuid"), "left_anti"))
            val (_, app) = tr.span("append", group, base = Some(anti))(sink.append(fresh, target))
            val ac = tr.selfCounters(app)
            add("append.s", tr.selfSeconds(app))
            add("append.rows", n(freshObs).toDouble)
            add("append.bytes_written", ac.bytesWritten.toDouble)
            add("append.shuffle_bytes", ac.shuffleBytes.toDouble)
            add("append.tasks", ac.tasks.toDouble)
          } finally {
            unpin()
            typedCached.unpersist(blocking = true)
          }
        }
      }
      runner.sink.restore()

      // the streaming twin over the same day, on every parquet workload
      // (it has no JDBC sink); a batch workload's load does not include it
      if (!w.jdbc) {
        val (qs, s) = tr.span("stream", "all")(runner.catchUp())
        val progress = qs.flatMap(_.recentProgress)
        add("stream.s", tr.selfSeconds(s))
        add("stream.batches", progress.size.toDouble)
        add("stream.batch_ms_total", progress.map(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)).sum)
        add("stream.jobs", s.counters.jobs.toDouble)
      }
      runner.sink.restore()
      tr.close()
      tr.writeJson(dir.resolve("spans.json"))

      // whole loads, untraced and listener-traced alternately
      val plain, listened = Seq.newBuilder[Double]
      val loads = Seq.newBuilder[Loaded]
      val t0 = System.nanoTime()
      var pairs = 0
      // alternate which side goes first, so the JIT's progress between
      // loads favours neither
      def listenedLoad(): Unit = {
        val l = runner.timedLoad(listen = true)
        listened += l.wall
        loads += l
      }
      while (pairs < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
        if (pairs % 2 == 1) listenedLoad()
        plain += runner.timedLoad().wall
        if (pairs % 2 == 0) listenedLoad()
        pairs += 1
      }
      runner.sink.restore()

      val lc = loads.result()
      def med(f: Loaded => Double) = median(lc.map(f))
      val limit = HfpLoadJob.broadcastKeyRows(spark).toDouble
      val g = m.withDefaultValue(0.0)
      val layers = Seq("list", "scan", "cast", "keys", "antijoin", "append", "stream")
      // shares of the layers this workload's own load runs through
      val loadLayers = if (w.stream) layers else layers.init
      val totalSelf = loadLayers.map(l => g(s"$l.s")).sum
      val batches = g("stream.batches")
      def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
      val metrics: Metrics = Seq(
        "list.s" -> (g("list.s"), "s"),
        "list.files" -> (g("list.files"), "count"),
        "list.bytes" -> (g("list.bytes"), "bytes"),
        "scan.s" -> (g("scan.s"), "s"),
        "scan.rows_in" -> (g("scan.rows_in"), "count"),
        "scan.rows_dropped_empty" -> (g("scan.rows_in") - g("scan.rows_out"), "count"),
        "scan.tasks" -> (g("scan.tasks"), "count"),
        "scan.rows_per_s" -> (ratio(g("scan.rows_in"), g("scan.s")), "1/s"),
        "cast.s" -> (g("cast.s"), "s"),
        "cast.rows_per_s" -> (ratio(g("scan.rows_out"), g("cast.s")), "1/s"),
        "cast.values_nulled" -> (g("cast.values_nulled"), "count"),
        "cast.rows_dropped_key" -> (g("scan.rows_out") - g("cast.rows_out"), "count"),
        "keys.s" -> (g("keys.s"), "s"),
        "keys.rows" -> (g("keys.rows"), "count"),
        "keys.broadcast" -> (if (g("keys.rows") <= limit) 1.0 else 0.0, "count"),
        "antijoin.s" -> (g("antijoin.s"), "s"),
        "antijoin.rows_in" -> (g("antijoin.rows_in"), "count"),
        "antijoin.rows_out" -> (g("antijoin.rows_out"), "count"),
        "antijoin.kept_ratio" -> (ratio(g("antijoin.rows_out"), g("antijoin.rows_in")), "ratio"),
        "antijoin.shuffle_bytes" -> (g("antijoin.shuffle_bytes"), "bytes"),
        "append.s" -> (g("append.s"), "s"),
        "append.rows" -> (g("append.rows"), "count"),
        "append.rows_per_s" -> (ratio(g("append.rows"), g("append.s")), "1/s"),
        "append.bytes_written" -> (g("append.bytes_written"), "bytes"),
        "append.shuffle_bytes" -> (g("append.shuffle_bytes"), "bytes"),
        "append.tasks" -> (g("append.tasks"), "count"),
        "load.jobs" -> (med(_.counters.jobs.toDouble), "count"),
        "load.stages" -> (med(_.counters.stages.toDouble), "count"),
        "load.tasks" -> (med(_.counters.tasks.toDouble), "count"),
        "load.single_task_stages" -> (med(_.counters.singleTaskStages.toDouble), "count"),
        "load.effective_cores" -> (med(l => l.cpu / l.wall), "cores"),
        "load.core_idle_share" -> (med(l => 1 - l.counters.busyMs / 1e3 / (cores * l.wall)), "ratio"),
        "load.gc_s" -> (med(_.gc), "s"),
        "load.codegen_compiles" -> (med(_.compiles.toDouble), "count"),
        "load.first_s" -> (firstLoad.wall, "s"),
        "stream.s" -> (g("stream.s"), "s"),
        "stream.batches" -> (batches, "count"),
        "stream.batch_s" -> (ratio(g("stream.batch_ms_total") / 1e3, batches), "s"),
        "stream.jobs_per_batch" -> (ratio(g("stream.jobs"), batches), "count"),
        "trace.overhead_ratio" -> (median(listened.result()) / median(plain.result()), "ratio"))
      val shares = obj(loadLayers.map(l => l -> num(ratio(g(s"$l.s"), totalSelf))))
      val detail = Seq(
        "self_time_share" -> shares,
        "layer_self_s" -> obj(layers.map(l => l -> num(g(s"$l.s")))),
        "key_sides" -> keySides.toString,
        "broadcast_key_rows" -> num(limit),
        "load_s_untraced" -> timing(plain.result()),
        "load_s_listened" -> timing(listened.result()),
        "spans" -> str(dir.resolve("spans.json").toString))
      (metrics, detail, runner)
    }
  }
}
