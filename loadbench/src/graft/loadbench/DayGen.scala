package graft.loadbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import graft.sources.{HfpCsvSource, JdbcSink}

/** Seeded generator of one HFP operating day in the loader's wire format.
  *
  * Every row is a pure function of (seed, group, row index), so the same
  * seed gives byte-identical files. Generation uses no Spark: the CSV
  * files, the parquet sink seed (parquet-mr, one file per source file and
  * table) and the Derby seed (plain JDBC) are written by one task per
  * source file. Output layout under `out`:
  *
  *  - `csv/<group>/<date>-partNN.csv` — headerless, 44 columns in
  *    `HfpCsvSource.columns` order, several files of uneven size per
  *    group, plus one late VehiclePosition file `<date>-late.csv`
  *  - `sink/<table>/oday=<date>/` (parquet workloads) or `derby/` (JDBC
  *    workload) — the pre-seeded sink, with `seed_<table>` copies in
  *    Derby so a load's appends can be undone
  *  - `expected.tsv` — wire rows, and per table the rows already seeded
  *    and the rows a load must append
  *  - `seeded_uuids.txt` — the uuids the sink was seeded with
  */
object DayGen {

  val Date = "2026-10-16"
  private val DayStartMs =
    java.time.LocalDate.parse(Date).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli

  /** Groups with their share of the day and their files' relative sizes.
    * The last VehiclePosition file is the late file (about 2 % of the
    * day).
    */
  val groupShares: Seq[(String, Double, Seq[Double])] = Seq(
    ("StopEvent", 0.12, Seq(0.5, 0.3, 0.2)),
    ("OtherEvent", 0.08, Seq(0.6, 0.25, 0.15)),
    ("VehiclePosition", 0.80, Seq(0.35, 0.25, 0.17, 0.13, 0.075, 0.025)))

  val tables: Seq[String] =
    Seq("stopevent", "otherevent", "vehicleposition", "unsignedevent")

  /** Which rows the sink already holds before a load. */
  sealed trait SeedMode
  /** About `share` of the day's uuids, drawn per row. */
  final case class Fraction(share: Double) extends SeedMode
  /** The whole day except the late file (a re-run after a late file). */
  case object AllButLate extends SeedMode

  final case class FileSpec(group: String, groupIdx: Int, name: String,
      start: Long, count: Long, late: Boolean)

  def layout(rows: Long): Seq[FileSpec] =
    groupShares.zipWithIndex.flatMap { case ((group, share, weights), g) =>
      val groupRows = math.round(rows * share)
      val counts = weights.map(w => math.round(groupRows * w))
      val starts = counts.scanLeft(0L)(_ + _)
      counts.indices.map { i =>
        val late = group == "VehiclePosition" && i == counts.size - 1
        val name = if (late) s"$Date-late.csv" else f"$Date-part$i%02d.csv"
        FileSpec(group, g, name, starts(i), counts(i), late)
      }
    }

  // ---- per-row values ------------------------------------------------

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rowRng(seed: Long, g: Int, idx: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, g.toLong + 1), idx))

  /** Per-row draw for [[Fraction]] seeding, independent of the values. */
  def seededDraw(seed: Long, g: Int, idx: Long): Double =
    (mix(mix(seed ^ 0x5EEDL, g.toLong + 7), idx) >>> 11).toDouble / (1L << 53)

  /** The reference's coercion quirk mix for numeric wire fields. */
  private val Quirks = Array("", "0", "42px", "NaNope", "3.5e2oops")
  private val QuirkShare = 0.06

  private def pick[A](r: SplittableRandom, xs: Array[A]): A = xs(r.nextInt(xs.length))

  private def int(r: SplittableRandom, lo: Int, hi: Int): String =
    if (r.nextDouble() < QuirkShare) pick(r, Quirks)
    else (lo + r.nextInt(hi - lo + 1)).toString

  /** Fixed-point decimal without `String.format` (hot in generation). */
  private def fixed(r: SplittableRandom, lo: Double, hi: Double, decimals: Int): String =
    if (r.nextDouble() < QuirkShare) pick(r, Quirks)
    else {
      val scale = math.pow(10, decimals).toLong
      val v = math.round((lo + r.nextDouble() * (hi - lo)) * scale)
      val a = math.abs(v)
      val frac = (a % scale).toString
      val sb = new java.lang.StringBuilder
      if (v < 0) sb.append('-')
      sb.append(a / scale).append('.')
      var pad = decimals - frac.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(frac).toString
    }

  private def two(n: Int): String = if (n < 10) "0" + n else n.toString

  private val Bools = Array("false", "0", "true", "1", "", "false", "true")
  private val Desi = Array("550", "23N", "102T", "1", "4", "9", "M1", "U", "P", "615")
  private val Headsigns = Array("Rautatientori", "Itäkeskus", "Westendinasema",
    "Espoon keskus", "Kamppi", "Vuosaari", "Lentoasema", "Kauppatori", "Pasila")
  private val Locs = Array("GPS", "GPS", "GPS", "ODO", "MAN", "DR", "N/A")
  private val Modes = Array("bus", "bus", "bus", "tram", "train", "metro", "ferry")
  private val StopEvents = Array("ARS", "DEP", "ARR", "PDE", "PAS", "PAR")
  private val OtherEvents = Array("DOO", "DOC", "TLR", "TLA", "DA", "DOUT", "BA",
    "BOUT", "VJA", "VJOUT")

  /** The 44 wire values of one row, in `HfpCsvSource.columns` order. An
    * all-empty line is 44 empty strings.
    */
  def cells(seed: Long, g: Int, idx: Long): Array[String] = {
    val r = rowRng(seed, g, idx)
    val out = Array.fill(44)("")
    if (r.nextDouble() < 0.005) return out
    val group = groupShares(g)._1
    val tstMs = DayStartMs + r.nextLong(86400000L)
    val hour = r.nextInt(24)
    val lat = 60.1 + r.nextDouble() * 0.2
    val lon = 24.7 + r.nextDouble() * 0.5
    val uuid =
      if (r.nextDouble() < 0.01) ""
      else new java.util.UUID(r.nextLong() & ~0xF000L | 0x4000L,
        r.nextLong() & 0x3FFFFFFFFFFFFFFFL | Long.MinValue).toString
    val jt = r.nextDouble()
    val oper = 6 + r.nextInt(90)
    val veh = 1 + r.nextInt(1500)
    out(0) = fixed(r, -1.5, 1.5, 2) // acc
    out(1) = pick(r, Desi) // desi
    out(2) = int(r, 1, 2) // dir
    out(3) = int(r, 1, 2) // direction_id
    out(4) = int(r, -300, 600) // dl
    out(5) = int(r, 0, 1) // dr_type
    out(6) = pick(r, Bools) // drst
    out(7) = group match { // event_type
      case "VehiclePosition" => "VP"
      case "StopEvent" => pick(r, StopEvents)
      case _ => pick(r, OtherEvents)
    }
    out(8) = int(r, 0, 5) // geohash_level
    out(9) = int(r, 0, 359) // hdg
    out(10) = pick(r, Headsigns) // headsign
    out(11) = pick(r, Bools) // is_ongoing
    out(12) = two(hour) + ":" + two(r.nextInt(60)) + ":00" // journey_start_time
    out(13) = if (jt < 0.9) "journey" else if (jt < 0.97) "deadrun" else "signoff"
    out(14) = int(r, 1, 9999) // jrn
    out(15) = fixed(r, lat, lat, 6) // lat
    out(16) = int(r, 1, 2000) // line
    out(17) = pick(r, Locs) // loc
    out(18) = fixed(r, lon, lon, 6) // long
    out(19) = pick(r, Modes) // mode
    out(20) = if (r.nextInt(20) == 0) "EOL" else (1000000 + r.nextInt(9000000)).toString
    out(21) = if (r.nextInt(10) == 0) "100" else "0" // occu
    out(22) = Date // oday
    out(23) = fixed(r, 0, 50000, 1) // odo
    out(24) = oper.toString // oper
    out(25) = int(r, 6, 95) // owner_operator_id
    out(26) = java.time.Instant.ofEpochMilli(tstMs + r.nextInt(3000)).toString // received_at
    out(27) = (1000 + r.nextInt(9000)).toString // route_id
    out(28) = out(27) // route
    out(29) = int(r, 1, 40) // seq
    out(30) = fixed(r, 0, 25, 2) // spd
    out(31) = two(hour) + ":" + two(r.nextInt(60)) // start
    out(32) = if (r.nextInt(4) == 0) "" else int(r, 1000000, 9999999) // stop
    out(33) = fixed(r, lat, lat, 3) // topic_latitude
    out(34) = fixed(r, lon, lon, 3) // topic_longitude
    out(35) = "/hfp/v2/journey/ongoing/"
    out(36) = "v2" // topic_version
    out(37) = (tstMs / 1000).toString // tsi
    out(38) = // tst: ISO or epoch-ms on the wire
      if (r.nextInt(10) < 7) java.time.Instant.ofEpochMilli(tstMs).toString
      else tstMs.toString
    out(39) = two(oper / 10) + two(oper % 10) + "/" + veh // unique_vehicle_id
    out(40) = uuid
    out(41) = int(r, 1, 1500) // veh
    out(42) = veh.toString // vehicle_number
    out(43) = int(r, 1, 3) // version
    out
  }

  def isAllEmpty(c: Array[String]): Boolean = c.forall(_.isEmpty)

  /** The loader's routing: VehiclePosition splits on `journey_type`. */
  def tableFor(group: String, journeyType: String): String = group match {
    case "StopEvent" => "stopevent"
    case "OtherEvent" => "otherevent"
    case _ => if (journeyType == "journey") "vehicleposition" else "unsignedevent"
  }

  def isSeeded(mode: SeedMode, seed: Long, f: FileSpec, idx: Long): Boolean =
    mode match {
      case Fraction(share) => seededDraw(seed, f.groupIdx, idx) < share
      case AllButLate => !f.late
    }

  // ---- typed sink rows -------------------------------------------------

  private val IntPrefix = "^[+-]?[0-9]+".r
  private val FloatPrefix = "^[+-]?(?:[0-9]+\\.?[0-9]*|\\.[0-9]+)(?:[eE][+-]?[0-9]+)?".r

  private val columns = HfpCsvSource.columns
  private val kinds = columns.map(HfpCsvSource.castTypes)

  /** The value a wire string holds after the loader's documented cast
    * semantics (JS parseInt/parseFloat prefix, 0 → NULL, truthy booleans,
    * dual ISO/epoch-ms timestamps, empty → NULL): a Long, Double,
    * Boolean, Timestamp, Date or String, or null.
    */
  private def typedValue(s: String, kind: String): AnyRef = kind match {
    case _ if s.isEmpty => null
    case "int" => IntPrefix.findPrefixOf(s).map(_.toLong).filter(_ != 0L)
      .map(Long.box).orNull
    case "float" => FloatPrefix.findPrefixOf(s).map(_.toDouble).filter(_ != 0.0)
      .map(Double.box).orNull
    case "boolean" => java.lang.Boolean.TRUE
    case "isodate" =>
      new java.sql.Timestamp(if (s.contains("-")) java.time.Instant.parse(s).toEpochMilli else s.toLong)
    case "date" => java.sql.Date.valueOf(s)
    case _ => s
  }

  def typedRow(c: Array[String]): Array[AnyRef] =
    Array.tabulate(columns.size)(i => typedValue(c(i), kinds(i)))

  /** Parquet schema of a sink table file: the typed columns the cast
    * layer produces, without the `oday` partition column.
    */
  private val parquetSchema: MessageType = {
    val b = Types.buildMessage()
    columns.zip(kinds).filter(_._1 != "oday").foreach { case (c, k) =>
      (k match {
        case "int" => b.optional(PrimitiveTypeName.INT64)
        case "float" => b.optional(PrimitiveTypeName.DOUBLE)
        case "boolean" => b.optional(PrimitiveTypeName.BOOLEAN)
        case "isodate" => b.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case _ => b.optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType())
      }).named(c)
    }
    b.named("spark_schema")
  }

  private def parquetGroup(v: Array[AnyRef], factory: SimpleGroupFactory): Group = {
    val g = factory.newGroup()
    columns.indices.foreach { i =>
      val c = columns(i)
      v(i) match {
        case null => ()
        case _ if c == "oday" => ()
        case x: java.lang.Long => g.append(c, x.longValue)
        case x: java.lang.Double => g.append(c, x.doubleValue)
        case x: java.lang.Boolean => g.append(c, x.booleanValue)
        case x: java.sql.Timestamp => g.append(c, x.getTime * 1000L)
        case x => g.append(c, x.toString)
      }
    }
    g
  }

  private val sqlTypes = kinds.map {
    case "int" => java.sql.Types.BIGINT
    case "float" => java.sql.Types.DOUBLE
    case "boolean" => java.sql.Types.BOOLEAN
    case "isodate" => java.sql.Types.TIMESTAMP
    case "date" => java.sql.Types.DATE
    case _ => java.sql.Types.VARCHAR
  }

  // ---- writing ---------------------------------------------------------

  final case class Counts(wireRows: Long, appended: Map[String, Long],
      seeded: Map[String, Long])

  /** Where a file's seeded rows go. */
  private sealed trait SeedSink extends AutoCloseable {
    def add(table: String, row: Array[AnyRef]): Unit
  }

  /** One parquet file per table, `sink/<table>/oday=<date>/`. */
  private final class ParquetSeed(out: Path, name: String) extends SeedSink {
    private val factory = new SimpleGroupFactory(parquetSchema)
    private val writers = scala.collection.mutable.Map[String, ParquetWriter[Group]]()
    def add(table: String, row: Array[AnyRef]): Unit =
      writers.getOrElseUpdate(table, {
        val dir = out.resolve("sink").resolve(table).resolve(s"oday=$Date")
        Files.createDirectories(dir)
        ExampleParquetWriter.builder(new HPath(dir.resolve(s"seed-$name.parquet").toUri))
          .withType(parquetSchema).withConf(new Configuration()).build()
      }).write(parquetGroup(row, factory))
    def close(): Unit = writers.values.foreach(_.close())
  }

  /** Batched INSERTs on one connection, committed on close. */
  private final class DerbySeed(url: String) extends SeedSink {
    private val conn = java.sql.DriverManager.getConnection(url)
    conn.setAutoCommit(false)
    private val stmts = scala.collection.mutable.Map[String, java.sql.PreparedStatement]()
    private val pending = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def add(table: String, row: Array[AnyRef]): Unit = {
      val st = stmts.getOrElseUpdate(table, conn.prepareStatement(
        s"INSERT INTO $table VALUES (${columns.map(_ => "?").mkString(",")})"))
      row.indices.foreach { i =>
        if (row(i) == null) st.setNull(i + 1, sqlTypes(i)) else st.setObject(i + 1, row(i))
      }
      st.addBatch()
      pending(table) += 1
      if (pending(table) == 1000) { st.executeBatch(); pending(table) = 0 }
    }
    def close(): Unit =
      try {
        stmts.foreach { case (t, st) => if (pending(t) > 0) st.executeBatch() }
        conn.commit()
      } finally conn.close()
  }

  /** Write one CSV file and its seeded sink rows; returns (wire rows,
    * appended per table, seeded uuids per table).
    */
  private def writeFile(out: Path, seed: Long, mode: SeedMode, f: FileSpec,
      jdbc: Boolean): (Long, Map[String, Long], Map[String, Vector[String]]) = {
    val dir = out.resolve("csv").resolve(f.group)
    Files.createDirectories(dir)
    val appended = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val seeded = scala.collection.mutable.Map[String, Vector[String]]()
      .withDefaultValue(Vector.empty)
    val w = Files.newBufferedWriter(dir.resolve(f.name), StandardCharsets.UTF_8)
    val sink: SeedSink =
      if (jdbc) new DerbySeed(derbyUrl(out))
      else new ParquetSeed(out, s"${f.group}-${f.name.stripSuffix(".csv")}")
    try {
      var i = f.start
      while (i < f.start + f.count) {
        val c = cells(seed, f.groupIdx, i)
        w.write(c.mkString(","))
        w.write('\n')
        if (!isAllEmpty(c) && c(40).nonEmpty) {
          val t = tableFor(f.group, c(13))
          if (isSeeded(mode, seed, f, i)) {
            seeded(t) = seeded(t) :+ c(40)
            sink.add(t, typedRow(c))
          } else appended(t) += 1
        }
        i += 1
      }
    } finally {
      w.close()
      sink.close()
    }
    (f.count, appended.toMap, seeded.toMap)
  }

  /** Write the day's CSV files with their seeded sink rows (one task per
    * file) and the expected counts; returns the counts.
    */
  def writeDay(out: Path, seed: Long, rows: Long, mode: SeedMode, jdbc: Boolean,
      threads: Int): Counts = {
    val files = layout(rows)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val parts =
      try files.map(f => pool.submit(() => writeFile(out, seed, mode, f, jdbc))).map(_.get())
      finally pool.shutdownNow()
    def sum(ms: Seq[Map[String, Long]]) =
      tables.map(t => t -> ms.map(_.getOrElse(t, 0L)).sum).toMap
    val seededUuids = tables.flatMap(t => parts.flatMap(_._3.getOrElse(t, Vector.empty)))
    val counts = Counts(parts.map(_._1).sum, sum(parts.map(_._2)),
      sum(parts.map(_._3.map { case (t, u) => t -> u.size.toLong })))
    Files.write(out.resolve("seeded_uuids.txt"),
      seededUuids.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
    val tsv = new StringBuilder(s"wire_rows\t${counts.wireRows}\n")
    tables.foreach { t =>
      tsv ++= s"appended\t$t\t${counts.appended(t)}\n"
      tsv ++= s"seeded\t$t\t${counts.seeded(t)}\n"
    }
    Files.write(out.resolve("expected.tsv"), tsv.toString.getBytes(StandardCharsets.UTF_8))
    counts
  }

  def derbyUrl(out: Path): String =
    s"jdbc:derby:${out.resolve("derby").resolve("hfp").toAbsolutePath};create=true"

  def withConnection[A](url: String)(f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  /** Shut the embedded Derby engine down so its files are consistent. */
  def shutdownDerby(): Unit =
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () } // XJ015: normal shutdown

  /** Writes the workload's day, expected counts and pre-seeded sink into
    * `out`. The Derby tables come from the loader's own DDL; each gets an
    * indexed `seed_<table>` copy so a load's appends can be undone.
    */
  def generate(w: Workload, seed: Long, rows: Long, out: Path, cores: Int): Counts = {
    Files.createDirectories(out)
    if (w.jdbc) withConnection(derbyUrl(out)) { conn =>
      tables.foreach { t =>
        conn.createStatement().execute(JdbcSink.createTableDdl(
          t, HfpCsvSource.columns, HfpCsvSource.castTypes))
      }
    }
    val counts = writeDay(out, seed, rows, w.seedMode, w.jdbc, cores)
    if (w.jdbc) withConnection(derbyUrl(out)) { conn =>
      tables.foreach { t =>
        val st = conn.createStatement()
        st.execute(s"CREATE TABLE seed_$t AS SELECT * FROM $t WITH NO DATA")
        st.execute(s"INSERT INTO seed_$t SELECT * FROM $t")
        st.execute(s"CREATE INDEX seed_${t}_uuid ON seed_$t (uuid)")
      }
    }
    counts
  }

  /** `DayGen --workload W --seed N --out DIR [--rows R] [--cores C]` */
  def main(args: Array[String]): Unit = {
    val opts = Cli.parse(args)
    val w = Workloads(opts("workload"))
    val counts = generate(w, opts("seed").toLong,
      opts.get("rows").map(_.toLong).getOrElse(w.rows), Paths.get(opts("out")),
      opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    if (w.jdbc) shutdownDerby()
    println(s"generated ${w.name}: ${counts.wireRows} wire rows, appended " +
      counts.appended.toSeq.sorted.mkString(",") + ", seeded " +
      counts.seeded.toSeq.sorted.mkString(","))
  }
}
