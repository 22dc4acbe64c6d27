package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.HfpCasts._

/** Property tests: the Catalyst cast builders agree with a direct
  * Scala model of the reference's JS semantics (SURVEY.md §5 item 3).
  * The int, float and epoch-ms models are the regex grammar the
  * byte scanner replaced, so they stay the oracle for it. Every
  * property runs twice: once folded by the optimizer (interpreted
  * `eval`) and once through generated code.
  * ScalaCheck generators are driven directly (fixed seed — the build
  * has no scalatest/scalacheck bridge artifact).
  */
class CastPropertySpec extends SparkSuite {
  import spark.implicits._

  // model of parseInt×(||null): leading [+-]?digits else NaN; 0 -> null
  private def modelInt(s: String): Option[Long] = {
    val m = "^([+-]?[0-9]+)".r.findFirstMatchIn(s).map(_.group(1))
    m.filter(_.replaceFirst("^[+-]", "").length <= 18)
      .map(BigInt(_)).map(_.toLong).filter(_ != 0L)
  }

  // model of the isodate cast's non-ISO branch: leading digits as
  // epoch-ms, at most 15 of them, else null (0 is a real instant)
  private def modelEpochMicros(s: String): Option[Long] =
    "^([0-9]+)".r.findFirstMatchIn(s).map(_.group(1))
      .filter(_.length <= 15).map(_.toLong * 1000L)

  private def modelBool(s: String): Option[Boolean] =
    if (s.nonEmpty) Some(true) else None

  private def modelString(s: String): Option[String] =
    if (s.isEmpty) None else Some(s)

  private val digitRun: Gen[String] =
    Gen.choose(17, 20).flatMap(n => Gen.listOfN(n, Gen.numChar)).map(_.mkString)

  private val strGen: Gen[String] = Gen.oneOf(
    Gen.numStr, Gen.alphaNumStr, Gen.const(""), Gen.const("0"),
    Gen.const("-0"), Gen.const("false"),
    Gen.chooseNum(-1000000L, 1000000L).map(_.toString),
    Gen.alphaNumStr.map(s => s"12$s"),
    Gen.numStr.map(s => s"-$s"),
    // around the 18-digit int and 15-digit epoch-ms limits
    digitRun, digitRun.map(s => s"-$s"), digitRun.map(s => s"$s.5e3"),
    Gen.oneOf("", "-", "+").map(_ + "0" * 19 + "7"),
    // literal edges of the float grammar
    Gen.oneOf("+", "-", "-0", ".", "1.", ".e5", "1e", "1E+5x", "-.5e-3x",
      "+.5", "1e999", "1e-400", "Infinity", "-Infinity", "NaN", "0x1A"),
    // non-ASCII digits are not digits: Arabic-Indic, full-width, and a
    // multibyte prefix before ASCII digits
    Gen.oneOf("٣٤٥", "１２", "é12", "12٣",
      "4.٢", "０.5"),
    Gen.chooseNum(-1e6, 1e6).map(_.toString))

  private def samples(n: Int): Seq[String] =
    (0 until n).flatMap(i =>
      strGen.apply(Gen.Parameters.default, Seed(42L + i)))

  /** `cast` over `ss` as one column, run once with the projection folded
    * into a local relation (interpreted) and once through whole-stage
    * codegen; both must give the same rows.
    */
  private def run[T](ss: Seq[String], cast: Column)(get: Row => T): Seq[Option[T]] = {
    def collect() = ss.toDF("c").select(cast.as("r")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(get(r))).toSeq
    val key = "spark.sql.optimizer.excludedRules"
    val folded = collect()
    spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val generated = try collect() finally spark.conf.unset(key)
    assert(folded == generated)
    generated
  }

  test("castInt matches the JS parseInt model on 500 generated inputs") {
    val ss = samples(500)
    assert(run(ss, castInt(col("c")))(_.getLong(0)) == ss.map(modelInt))
  }

  test("castBool matches the JS truthiness model") {
    val ss = samples(500)
    assert(run(ss, castBool(col("c")))(_.getBoolean(0)) == ss.map(modelBool))
  }

  // model of parseFloat×(||null): leading decimal/exponent literal; 0 -> null
  private def modelFloat(s: String): Option[Double] = {
    val m = """^([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)""".r
      .findFirstMatchIn(s).map(_.group(1))
    m.map(_.toDouble).filter(_ != 0.0)
  }

  test("castFloat matches the JS parseFloat model") {
    val ss = samples(500) ++ Seq("3.5e2oops", ".5", "-.25", "1e", "1e5x", "0.0", "-0")
    assert(run(ss, castFloat(col("c")))(_.getDouble(0)) == ss.map(modelFloat))
  }

  test("castTimestamp's epoch-ms branch matches the leading-digits model") {
    // strings with a '-' take the ISO branch (try_to_timestamp)
    val ss = samples(500).filterNot(_.contains("-"))
    assert(run(ss, unix_micros(castTimestamp(col("c"))))(_.getLong(0)) ==
      ss.map(modelEpochMicros))
  }

  test("castString matches the empty->NULL model") {
    val ss = samples(500)
    assert(run(ss, castString(col("c")))(_.getString(0)) == ss.map(modelString))
  }
}
