package graft.loadbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload: the day's size, where the sink lives, what it
  * already holds, and which loader drives it.
  */
final case class Workload(name: String, rows: Long, jdbc: Boolean,
    seedMode: DayGen.SeedMode, stream: Boolean)

object Workloads {

  private val all: Seq[Workload] = Seq(
    // first real load: scan, parse, cast and append do the work; the
    // 2 % key side stays under the broadcast limit
    Workload("day_fresh", 30000L, jdbc = false, DayGen.Fraction(0.02), stream = false),
    // re-run after a late file against the reference's sink shape
    // (embedded Derby, batch 1000, concurrency 100): the key side is the
    // whole day and reports no size, so the anti-join shuffles and
    // almost nothing is appended. Below about 61k rows the
    // VehiclePosition key side would fall under broadcastKeyRows.
    Workload("day_rerun", 65000L, jdbc = true, DayGen.AllButLate, stream = false),
    // the streaming twin, one AvailableNow catch-up per group
    Workload("stream_catchup", 15000L, jdbc = false, DayGen.Fraction(0.02), stream = true))

  val names: Seq[String] = all.map(_.name)

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${names.mkString(", ")})"))

  /** The session `HfpLoadJob.main` builds: `local[N]`, N shuffle
    * partitions, UTC. Directories and the UI setting come from `spark.*`
    * system properties set on the JVM command line.
    */
  def session(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
}

/** `--key value` argument pairs. */
object Cli {
  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got: ${args.mkString(" ")}")
    args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap
  }
}
