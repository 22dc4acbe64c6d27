package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.PortableHash
import graft.sources.Tables

/** Geospatial operators — the reference's domain is vehicle positioning
  * (HFP rows carry lat/long: SURVEY.md §1, `hfpColumns.ts` `lat`/`long`),
  * so the spatial patterns a positioning pipeline needs are first-class
  * here:
  *
  *  - `hfp_geo_cells`: grid-cell aggregation (the geohash-bucket
  *    pattern): deterministic portable coordinates derived per event,
  *    bucketed into a fixed-resolution lat/lng grid, per-cell counts +
  *    the haversine distance from the cell center to a fixed city
  *    reference point.
  *  - `q_spatial_join`: radius self-join via cell bucketing — the
  *    spatial twin of LSH: candidates come from the 3×3 neighborhood of
  *    each point's cell (an equi-join on cell keys, never an all-pairs
  *    cross), then the exact haversine test keeps pairs within the
  *    radius. The arithmetic steps (+ − × ÷ sqrt) are IEEE-exact on
  *    both engines; sin/cos/asin are transcendentals whose last-ulp
  *    rounding IEEE 754 does NOT pin down, so boundary classification
  *    additionally relies on JVM Math and DuckDB libm agreeing at the
  *    compared digits — true on this platform (every oracle run is
  *    exact at 3 SFs), documented as a platform assumption rather than
  *    a guarantee (same standing as the ln-based oracles, NOTES.md).
  *
  * Coordinates are synthesized from the portable hash (the events table
  * carries no lat/long) — [60.0, 60.4) × [24.5, 25.0), roughly the
  * Helsinki region box, identically computable in DuckDB.
  *
  * Scale notes: cell aggregation is one map-side-combined shuffle on
  * the cell key (cells, not points, cross the wire); the radius join
  * shuffles each point to its own cell key and probes 9 candidate
  * cells via the replicated-offsets join — candidate volume is bounded
  * by neighborhood occupancy (density × 9 cells), not n². A hot cell
  * (downtown) is an AQE skew split; finer grids trade candidates for
  * more (tiny) cells. The same shape backs nearest-stop matching and
  * map-matching preselection at 100 TB.
  */
object GeoOps {

  private val LatBase = 60.0
  private val LngBase = 24.5
  private val LatModulus = 40000L
  private val LngModulus = 50000L
  private val CoordScale = 1e-5
  private val CellDeg = 0.001 // ~110 m of latitude, ~55 m of longitude at 60°N
  // the 3×3 neighborhood only guarantees completeness while the radius
  // is ≤ the SMALLEST cell extent — longitude cells shrink by cos(lat),
  // so at 60°N the bound is ~55 m, and the radius sits safely under it
  // (GeoOpsSpec pins this against a brute-force sample)
  private val RadiusM = 50.0
  private val EarthR = 6371000.0
  // Helsinki city-center reference point
  private val RefLat = 60.1699
  private val RefLng = 24.9384

  /** Deterministic portable coordinates for an event row. */
  private def withCoords(df: DataFrame): DataFrame =
    df.select(col("event_id"),
      (lit(LatBase) + (PortableHash.hash64(col("event_id").cast(StringType)) % LatModulus)
        .cast(DoubleType) * lit(CoordScale)).as("lat"),
      (lit(LngBase) + (PortableHash.hash64(col("event_id").cast(StringType), 7) % LngModulus)
        .cast(DoubleType) * lit(CoordScale)).as("lng"))

  private def coordsSql = Seq(
    s"$LatBase + CAST(${PortableHash.sql("CAST(event_id AS STRING)")} % 40000 AS DOUBLE) * 1e-5 AS lat",
    s"$LngBase + CAST(${PortableHash.sql("CAST(event_id AS STRING)", 7)} % 50000 AS DOUBLE) * 1e-5 AS lng")

  /** Haversine distance in meters; the expression is written ONCE and
    * rendered into both engines with identical association so every
    * intermediate double matches bit-for-bit.
    */
  private def haversineM(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2.0
    val dLng = radians(lng2 - lng1) / 2.0
    val a = sin(dLat) * sin(dLat) +
      cos(radians(lat1)) * cos(radians(lat2)) * (sin(dLng) * sin(dLng))
    lit(2.0 * EarthR) * asin(sqrt(a))
  }

  private def haversineSqlM(lat1: String, lng1: String, lat2: String, lng2: String): String =
    s"(2.0 * $EarthR) * asin(sqrt(" +
      s"sin(radians($lat2 - $lat1) / 2.0) * sin(radians($lat2 - $lat1) / 2.0) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * " +
      s"(sin(radians($lng2 - $lng1) / 2.0) * sin(radians($lng2 - $lng1) / 2.0))))"

  // ------------------------------------------------------------ grid cells

  def hfpGeoCells(s: SparkSession, dir: String): DataFrame = {
    val pts = withCoords(Tables(s, dir, "events"))
    pts.select(col("event_id"),
      floor((col("lat") - LatBase) / CellDeg).cast(LongType).as("cx"),
      floor((col("lng") - LngBase) / CellDeg).cast(LongType).as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n_points"))
      .select(col("cx"), col("cy"), col("n_points"),
        round(haversineM(
          lit(LatBase) + (col("cx").cast(DoubleType) + 0.5) * CellDeg,
          lit(LngBase) + (col("cy").cast(DoubleType) + 0.5) * CellDeg,
          lit(RefLat), lit(RefLng)), 6).as("center_dist_m"))
      .orderBy("cx", "cy")
  }

  private val hfpGeoCellsSql = {
    val cLat = s"$LatBase + (CAST(cx AS DOUBLE) + 0.5) * $CellDeg"
    val cLng = s"$LngBase + (CAST(cy AS DOUBLE) + 0.5) * $CellDeg"
    s"""WITH pts AS (SELECT event_id, ${coordsSql.mkString(", ")} FROM events),
       |cells AS (
       |  SELECT CAST(floor((lat - $LatBase) / $CellDeg) AS BIGINT) AS cx,
       |         CAST(floor((lng - $LngBase) / $CellDeg) AS BIGINT) AS cy,
       |         COUNT(*) AS n_points
       |  FROM pts GROUP BY 1, 2)
       |SELECT cx, cy, n_points,
       |  round(${haversineSqlM(s"($cLat)", s"($cLng)", RefLat.toString, RefLng.toString)}, 6) AS center_dist_m
       |FROM cells ORDER BY cx, cy""".stripMargin
  }

  // ----------------------------------------------------------- radius join

  def qSpatialJoin(s: SparkSession, dir: String): DataFrame = {
    val pts = withCoords(Tables(s, dir, "events"))
      .select(col("event_id"), col("lat"), col("lng"),
        floor((col("lat") - LatBase) / CellDeg).cast(LongType).as("cx"),
        floor((col("lng") - LngBase) / CellDeg).cast(LongType).as("cy"))
      .cache() // both join sides read it
    // probe side fans out to its 3×3 cell neighborhood (bounded ×9);
    // the build side stays one row per point on its own cell
    val probe = pts.select(col("event_id").as("a"),
        col("lat").as("la"), col("lng").as("qa"), col("cx"), col("cy"))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("a"), col("la"), col("qa"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    val build = pts.select(col("event_id").as("b"),
      col("lat").as("lb"), col("lng").as("qb"), col("cx"), col("cy"))
    probe.join(build, Seq("cx", "cy"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(haversineM(col("la"), col("qa"), col("lb"), col("qb")), 6).as("dist_m"))
      .where(col("dist_m") <= RadiusM)
      .orderBy("a", "b")
  }

  private val qSpatialJoinSql = {
    val hav = haversineSqlM("p.lat", "p.lng", "q.lat", "q.lng")
    s"""WITH pts AS (
       |  SELECT event_id, lat, lng,
       |    CAST(floor((lat - $LatBase) / $CellDeg) AS BIGINT) AS cx,
       |    CAST(floor((lng - $LngBase) / $CellDeg) AS BIGINT) AS cy
       |  FROM (SELECT event_id, ${coordsSql.mkString(", ")} FROM events)),
       |offs AS (SELECT a.x AS dx, b.y AS dy
       |  FROM (VALUES (-1), (0), (1)) a(x), (VALUES (-1), (0), (1)) b(y)),
       |cand AS (
       |  SELECT p.event_id AS a, q.event_id AS b, round($hav, 6) AS dist_m
       |  FROM pts p CROSS JOIN offs o
       |  JOIN pts q ON q.cx = p.cx + o.dx AND q.cy = p.cy + o.dy
       |   AND p.event_id < q.event_id)
       |SELECT a, b, dist_m FROM cand WHERE dist_m <= $RadiusM
       |ORDER BY a, b""".stripMargin
  }

  // ---------------------------------------------------------- nearest stop

  /** Nearest-stop assignment — the map-matching preselection every
    * positioning pipeline runs: each event snaps to its nearest stop
    * (a small dimension, broadcast), reported per stop. The argmin is
    * a map-side-combining `min(struct(dist, stop_id))` — the
    * |events|×|stops| product is scanned in one narrow pass and only
    * |events| rows reach the exchange, never a window over the
    * product. Distances are rounded at 1e-6 BEFORE the argmin so the
    * tie order (then lowest stop_id) is engine-exact.
    */
  /** Deterministic synthetic stop dimension (hash-placed around the
    * reference point) for the nearest-stop query.
    */
  private def stopsDim(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "nation").select(
      col("n_nationkey").as("stop_id"),
      (lit(LatBase) + (PortableHash.hash64(concat(lit("s:"), col("n_nationkey").cast(StringType))) % 40000L)
        .cast(DoubleType) * lit(1e-5)).as("slat"),
      (lit(LngBase) + (PortableHash.hash64(concat(lit("s:"), col("n_nationkey").cast(StringType)), 7) % 50000L)
        .cast(DoubleType) * lit(1e-5)).as("slng"))

  def qNearestStop(s: SparkSession, dir: String): DataFrame = {
    // events is one input split at test scale — spread the trig-heavy
    // |events|×|stops| scoring pass across cores (#27). Explicit
    // partition count: AQE would coalesce a byte-size-based repartition
    // of this small input back to one partition, which is exactly wrong
    // for a compute-bound stage
    val events = withCoords(Tables(s, dir, "events"))
      .repartition(s.sparkContext.defaultParallelism, col("event_id"))
    val stops = stopsDim(s, dir)
    events.crossJoin(broadcast(stops))
      .select(col("event_id"),
        round(haversineM(col("lat"), col("lng"), col("slat"), col("slng")), 6).as("d"),
        col("stop_id"))
      .groupBy("event_id")
      .agg(min(struct(col("d"), col("stop_id"))).as("b"))
      .groupBy(col("b.stop_id").as("stop_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("b.d")).as("min_dist_m"), max(col("b.d")).as("max_dist_m"))
      .orderBy("stop_id")
  }

  private val qNearestStopSql = {
    val hav = haversineSqlM("p.lat", "p.lng", "s.slat", "s.slng")
    s"""WITH pts AS (SELECT event_id, ${coordsSql.mkString(", ")} FROM events),
       |stops AS (SELECT n_nationkey AS stop_id,
       |  $LatBase + CAST(${PortableHash.sql("'s:' || CAST(n_nationkey AS STRING)")} % 40000 AS DOUBLE) * 1e-5 AS slat,
       |  $LngBase + CAST(${PortableHash.sql("'s:' || CAST(n_nationkey AS STRING)", 7)} % 50000 AS DOUBLE) * 1e-5 AS slng
       |  FROM nation),
       |assigned AS (
       |  SELECT event_id, stop_id, d FROM (
       |    SELECT p.event_id, s.stop_id, round($hav, 6) AS d,
       |      row_number() OVER (PARTITION BY p.event_id
       |        ORDER BY round($hav, 6) ASC, s.stop_id ASC) AS rk
       |    FROM pts p CROSS JOIN stops s) WHERE rk = 1)
       |SELECT stop_id, COUNT(*) AS n_events,
       |  min(d) AS min_dist_m, max(d) AS max_dist_m
       |FROM assigned GROUP BY stop_id ORDER BY stop_id""".stripMargin
  }

  // ------------------------------------------------------------ trajectory

  private val TrajQ = 1000000L // 1e-6-rounded meters → exact integer micrometers

  /** Per-vehicle trajectory statistics — the movement analytics a
    * positioning pipeline reports: consecutive events of a user form
    * path segments (lag window ordered by event time), each segment's
    * haversine length is rounded at 1e-6 and quantized to integer
    * micrometers, so the per-user total is an order-independent exact
    * BIGINT sum (NOTES #4b: segments ≤ 2^16/user, lengths < 2^37 µm —
    * far under 2^53). The window partitions by the natural key
    * (user_id), so no global sort exists anywhere.
    */
  def qGeoTrajectory(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pts = Tables(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"),
      (lit(LatBase) + (PortableHash.hash64(col("event_id").cast(StringType)) % 40000L)
        .cast(DoubleType) * lit(1e-5)).as("lat"),
      (lit(LngBase) + (PortableHash.hash64(col("event_id").cast(StringType), 7) % 50000L)
        .cast(DoubleType) * lit(1e-5)).as("lng"))
    val segs = pts
      .select(col("user_id"), col("event_id"), col("ts"), col("lat"), col("lng"),
        lag("lat", 1).over(w).as("plat"), lag("lng", 1).over(w).as("plng"))
      .where(col("plat").isNotNull)
      // floor(x·1e6 + 0.5), not a cast: 1e6 is not a power of two, so
      // the product can land a hair under the integer, and engine CAST
      // tie behavior differs (NOTES #16)
      .select(col("user_id"),
        floor(round(haversineM(col("plat"), col("plng"), col("lat"), col("lng")), 6)
          * TrajQ + 0.5).cast(LongType).as("seg_um"))
    segs.groupBy("user_id")
      .agg(count(lit(1)).as("n_segments"),
        sum("seg_um").as("um"), max("seg_um").as("max_um"))
      .select(col("user_id"), col("n_segments"),
        round(col("um").cast(DoubleType) / TrajQ, 6).as("total_dist_m"),
        round(col("max_um").cast(DoubleType) / TrajQ, 6).as("max_seg_m"))
      .orderBy("user_id")
  }

  private val qGeoTrajectorySql = {
    val hav = haversineSqlM("plat", "plng", "lat", "lng")
    s"""WITH pts AS (
       |  SELECT event_id, user_id, ts, ${coordsSql.mkString(", ")} FROM events),
       |segs AS (
       |  SELECT user_id,
       |    CAST(floor(round($hav, 6) * $TrajQ + 0.5) AS BIGINT) AS seg_um
       |  FROM (
       |    SELECT user_id, lat, lng,
       |      lag(lat, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
       |      lag(lng, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plng
       |    FROM pts)
       |  WHERE plat IS NOT NULL)
       |SELECT user_id, COUNT(*) AS n_segments,
       |  round(CAST(CAST(SUM(seg_um) AS BIGINT) AS DOUBLE) / $TrajQ, 6) AS total_dist_m,
       |  round(CAST(max(seg_um) AS DOUBLE) / $TrajQ, 6) AS max_seg_m
       |FROM segs GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ----------------------------------------------------------- speed gates

  private val SpeedLimitMps = 50.0 // flag threshold (m/s)

  /** Per-vehicle speed profile — the kinematics gate on top of the
    * trajectory segments: segment speed = haversine length over the
    * event-time delta (exact integer microseconds), per-user max speed
    * and count of segments over the limit. dt comes from unix_micros
    * differences (integer-exact), the division is one IEEE op per
    * segment rounded at 1e-6, and the flag compares the ROUNDED value
    * so the boundary classification is engine-exact.
    */
  def qGeoSpeed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pts = Tables(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"),
      (lit(LatBase) + (PortableHash.hash64(col("event_id").cast(StringType)) % 40000L)
        .cast(DoubleType) * lit(1e-5)).as("lat"),
      (lit(LngBase) + (PortableHash.hash64(col("event_id").cast(StringType), 7) % 50000L)
        .cast(DoubleType) * lit(1e-5)).as("lng"))
    val segs = pts
      .select(col("user_id"), col("ts"), col("lat"), col("lng"),
        lag("lat", 1).over(w).as("plat"), lag("lng", 1).over(w).as("plng"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("dt_us"))
      .where(col("plat").isNotNull && col("dt_us") > 0)
      .select(col("user_id"),
        round(round(haversineM(col("plat"), col("plng"), col("lat"), col("lng")), 6)
          / (col("dt_us").cast(DoubleType) / lit(1000000.0)), 6).as("mps"))
    segs.groupBy("user_id")
      .agg(count(lit(1)).as("n_segments"),
        max("mps").as("max_mps"),
        sum(when(col("mps") > SpeedLimitMps, 1L).otherwise(0L)).as("n_over_limit"))
      .orderBy("user_id")
  }

  private val qGeoSpeedSql = {
    val hav = haversineSqlM("plat", "plng", "lat", "lng")
    s"""WITH pts AS (
       |  SELECT event_id, user_id, ts, ${coordsSql.mkString(", ")} FROM events),
       |segs AS (
       |  SELECT user_id,
       |    round(round($hav, 6) / (CAST(dt_us AS DOUBLE) / 1000000.0), 6) AS mps
       |  FROM (
       |    SELECT user_id, lat, lng,
       |      lag(lat, 1) OVER t AS plat,
       |      lag(lng, 1) OVER t AS plng,
       |      epoch_us(ts) - lag(epoch_us(ts), 1) OVER t AS dt_us
       |    FROM pts
       |    WINDOW t AS (PARTITION BY user_id ORDER BY ts, event_id))
       |  WHERE plat IS NOT NULL AND dt_us > 0)
       |SELECT user_id, COUNT(*) AS n_segments,
       |  max(mps) AS max_mps,
       |  CAST(SUM(CASE WHEN mps > $SpeedLimitMps THEN 1 ELSE 0 END) AS BIGINT) AS n_over_limit
       |FROM segs GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hfp_geo_cells" -> (hfpGeoCells(_, _)),
    "q_spatial_join" -> (qSpatialJoin(_, _)),
    "q_nearest_stop" -> (qNearestStop(_, _)),
    "q_geo_trajectory" -> (qGeoTrajectory(_, _)),
    "q_geo_speed" -> (qGeoSpeed(_, _)))

  def oracles: Map[String, String] = Map(
    "hfp_geo_cells" -> hfpGeoCellsSql,
    "q_spatial_join" -> qSpatialJoinSql,
    "q_nearest_stop" -> qNearestStopSql,
    "q_geo_trajectory" -> qGeoTrajectorySql,
    "q_geo_speed" -> qGeoSpeedSql)
}
