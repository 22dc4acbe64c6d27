package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev entry point (not part of the Bench/Verify contract): one main whose
  * modes all run on the plain [[GraftSession]] that Bench times, so
  * what they show is what the bench measures.
  *
  * {{{
  * graft.Dev profile <sfDir> <runs> <q1,q2,...>
  * graft.Dev diag    <sfDir> [q1,q2,...]
  * graft.Dev plan    <sfDir> <q1,q2,...> [<outDir> <suffix>]
  * graft.Dev parity  <sfDir> [q1,q2,...]
  * }}}
  *
  *  - `profile`: every run's wall time of each named query. Bench
  *    reports only the min, which hides whether the steady state is
  *    cache-hit or re-built.
  *  - `diag`: one sweep of the registry (or the named queries) after
  *    `SparkEntry.warmup`, the block-store picture after the warmup and
  *    after the sweep (persisted RDDs, memory vs disk residency, the
  *    largest blocks), and GC totals. It answers how much of the heap a
  *    sweep's caches and localCheckpoints pin, the mechanism behind
  *    pass-B cache-miss inflation in loaded windows.
  *  - `plan`: for each named query in order, its optimized and physical
  *    plans; then it runs and its AQE-final plan prints, the only place
  *    stage and exchange reuse show. Earlier queries in the list run
  *    first, so they warm the shared caches a later query's plan sees,
  *    as in a plan gate's shared session. With `<outDir> <suffix>`,
  *    each query's `explain("formatted")` (taken before it runs) is also
  *    written to `<outDir>/<query>_<suffix>.txt`, the plan evidence
  *    committed under plans/.
  *  - `parity`: each oracle's SQL through `spark.sql` against its
  *    DataFrame twin, reporting PARITY, DIFFER (with the first
  *    differing row) or ERR. Its output feeds SqlParitySpec's list.
  */
object Dev {

  def main(args: Array[String]): Unit = {
    def names(csv: String): Seq[String] = csv.split(",").toSeq
    val mode: Option[SparkSession => Unit] = args.toSeq match {
      case Seq("profile", sf, runs, qs) if runs.toIntOption.exists(_ > 0) =>
        Some(profile(_, sf, runs.toInt, names(qs)))
      case Seq("diag", sf, qs @ _*) if qs.size <= 1 =>
        Some(diag(_, sf, qs.headOption.map(names(_).toSet)))
      case Seq("plan", sf, qs) => Some(plan(_, sf, names(qs), None))
      case Seq("plan", sf, qs, dir, suffix) => Some(plan(_, sf, names(qs), Some(dir -> suffix)))
      case Seq("parity", sf, qs @ _*) if qs.size <= 1 =>
        Some(parity(_, sf, qs.headOption.map(names(_).toSet)))
      case _ => None
    }
    mode match {
      case None =>
        System.err.println("usage: graft.Dev profile <sfDir> <runs> <q1,...>\n" +
          "       graft.Dev diag <sfDir> [q1,...]\n" +
          "       graft.Dev plan <sfDir> <q1,...> [<outDir> <suffix>]\n" +
          "       graft.Dev parity <sfDir> [q1,...]")
        sys.exit(2)
      case Some(run) =>
        val spark = GraftSession.build()
        spark.sparkContext.setLogLevel("WARN")
        try run(spark) finally spark.stop()
    }
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Untimed JIT warm-up, as Bench runs before its sweeps. */
  private def warmJvm(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()

  private def profile(spark: SparkSession, sfDir: String, runs: Int,
      queries: Seq[String]): Unit = {
    warmJvm(spark)
    queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        seconds(t0)
      }
      println(s"[profile] $name: " + times.map(t => f"$t%.2f").mkString(" "))
    }
  }

  private def diag(spark: SparkSession, sfDir: String,
      only: Option[Set[String]]): Unit = {
    warmJvm(spark)
    SparkEntry.warmup(spark, sfDir)
    def dump(tag: String): Unit = {
      val infos = spark.sparkContext.getRDDStorageInfo
      val mem = infos.map(_.memSize).sum
      val disk = infos.map(_.diskSize).sum
      val parts = infos.map(i => (i.numCachedPartitions, i.numPartitions))
      println(f"[diag:$tag] persistedRdds=${spark.sparkContext.getPersistentRDDs.size} " +
        f"storedRdds=${infos.length} mem=${mem / 1e6}%.1fMB disk=${disk / 1e6}%.1fMB " +
        s"cachedParts=${parts.map(_._1).sum}/${parts.map(_._2).sum}")
      infos.sortBy(-_.memSize).take(12).foreach { i =>
        println(f"[diag:$tag]   rdd=${i.id} ${i.name.takeWhile(_ != '\n')} mem=${i.memSize / 1e6}%.1fMB " +
          f"disk=${i.diskSize / 1e6}%.1fMB parts=${i.numCachedPartitions}/${i.numPartitions} lvl=${i.storageLevel}")
      }
    }
    dump("after-warmup")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[diag] $name FAILED: ${e.getMessage}") }
        val dt = seconds(t0)
        if (dt > 2.0) println(f"[diag] $name took $dt%.2f s")
      }
    dump("after-sweep")
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach(b => println(s"[diag:gc] ${b.getName} count=${b.getCollectionCount} timeMs=${b.getCollectionTime}"))
  }

  private def plan(spark: SparkSession, sfDir: String, queries: Seq[String],
      out: Option[(String, String)]): Unit = {
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    queries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val qe = df.queryExecution
      out.foreach { case (dir, suffix) =>
        val file = Paths.get(dir, s"${name}_$suffix.txt")
        val txt = qe.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(file, txt)
        println(s"[plan] wrote $file (${txt.length} chars)")
      }
      println(s"=== $name OPTIMIZED ===\n${qe.optimizedPlan.treeString}")
      println(s"=== $name PHYSICAL ===\n${qe.sparkPlan.treeString}")
      df.collect()
      println(s"=== $name EXECUTED (AQE final) ===\n${qe.executedPlan.treeString}")
    }
  }

  private def parity(spark: SparkSession, sfDir: String,
      only: Option[Set[String]]): Unit = {
    graft.sources.Tables.registerAll(spark, sfDir)
    graft.functions.SqlCompat.register(spark)
    import graft.functions.SqlCompat.withDialectSession
    SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, sql) =>
        val status =
          try {
            // oracle text parses under the DuckDB dialect settings; the
            // DataFrame twin runs under stock parsing, as in Verify
            val viaSql = withDialectSession(spark)(spark.sql(sql).collect().toSeq)
            val viaDf = SparkEntry.queries(name)(spark, sfDir).collect().toSeq
            if (viaSql == viaDf) "PARITY"
            else {
              val firstDiff = viaSql.zip(viaDf).zipWithIndex
                .collectFirst { case ((a, b), i) if a != b =>
                  s" first diff @$i:\n  sql=$a\n  df =$b" }
                .getOrElse(" (length mismatch only)")
              s"DIFFER ${viaSql.size} vs ${viaDf.size}$firstDiff"
            }
          } catch {
            case e: Exception =>
              "ERR " + Option(e.getMessage).getOrElse("?").linesIterator
                .map(_.trim).find(_.nonEmpty).getOrElse("?").take(160)
          }
        println(s"[parity] $name: $status")
      }
  }
}
