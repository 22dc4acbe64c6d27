package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DuckDB-dialect compatibility pack: registers DuckDB function NAMES
  * as aliases for the native Spark Catalyst expressions with identical
  * semantics, so SQL written against the DuckDB dialect (this repo's
  * oracle statements, a user's existing analytics SQL) runs unchanged
  * through spark.sql. Every alias maps to a codegen'd built-in
  * expression — no UDFs, nothing interpreted — so the aliases cost
  * exactly what the native names cost and stay inside whole-stage
  * codegen.
  *
  * Scope: only name-for-name semantic matches are aliased. Dialect
  * differences that change MEANING (QUALIFY, `range(a,b)`'s exclusive
  * bound, recursive-CTE UNION semantics, quoted `date_diff` units,
  * DuckDB's `CAST('0x…' AS BIGINT)` hex parse) are deliberately NOT
  * papered over — those statements should fail loudly rather than
  * return different rows. `//` integer division is bridged through its
  * NAMED spelling instead: DuckDB's `divide(a, b)` IS `//`
  * (truncation toward zero, verified on negatives), and Spark's `div`
  * has identical semantics, so oracle statements write `divide(a, b)`
  * and run exactly on both engines. SqlParitySpec pins, per query,
  * that the shared text produces row-identical results through both
  * frontends.
  */
object SqlCompat {

  private def lv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))

  /** Ascending inclusive sequence with DuckDB's empty-range semantics:
    * `[]` when start > stop (Spark's Sequence would descend), NULL-in
    * NULL-out. The empty branch slices a one-element sequence to length
    * zero so it carries the coerced element type without naming it.
    */
  private def ascSeq(start: Expression, stop: Expression): Expression =
    CaseWhen(Seq((GreaterThan(start, stop),
      Slice(Sequence(start, start, None), Literal(1), Literal(0)))),
      Some(Sequence(start, stop, None)))

  /** DuckDB's `len` is polymorphic (string length / list cardinality);
    * Spark splits it into `length` and `size`. Type-dispatch must wait
    * until the child resolves, hence a RuntimeReplaceable shim — the
    * analyzer swaps in the native expression, so nothing interpreted
    * survives into the physical plan.
    */
  case class LenCompat(child: Expression) extends UnaryExpression
      with RuntimeReplaceable {
    override lazy val replacement: Expression = child.dataType match {
      case _: ArrayType | _: MapType => Size(child, legacySizeOfNull = false)
      case _ => Length(child)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** DuckDB `epoch_ms` both ways: timestamp → millis, and integer
    * millis → timestamp (Spark spells the latter `timestamp_millis`).
    */
  case class EpochMsCompat(child: Expression) extends UnaryExpression
      with RuntimeReplaceable {
    override lazy val replacement: Expression = child.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        MillisToTimestamp(child)
      case _ => UnixMillis(child)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private val fns: Map[String, Seq[Expression] => Expression] = Map(
    // literal-separator split (Spark's split() is regex; DuckDB's is
    // literal — StringSplitSQL is the literal-split kernel split_part
    // uses)
    "string_split" -> (es => StringSplitSQL(es(0), es(1))),
    // one-column flatten in the select list
    "unnest" -> (es => Explode(es.head)),
    // DuckDB folds the named aggregate over the list; every oracle in
    // this repo uses 'sum' over DOUBLE elements, which is the only
    // combination aliased (others must fail loudly, not approximate)
    "list_aggregate" -> { es =>
      es(1).eval(null).toString match {
        case "sum" =>
          val acc = lv("acc"); val x = lv("x")
          ArrayAggregate(es(0), Literal(0.0d, DoubleType),
            LambdaFunction(Add(acc, x), Seq(acc, x)),
            LambdaFunction(lv("fin"), Seq(lv("fin"))))
        case other =>
          throw new IllegalArgumentException(
            s"list_aggregate alias supports only 'sum', got '$other'")
      }
    },
    "list_transform" -> (es => ArrayTransform(es(0), es(1))),
    "list_zip" -> (es => ArraysZip(es,
      es.indices.map(i => Literal(UTF8String.fromString((i + 1).toString), StringType): Expression))),
    "array_to_string" -> (es => ArrayJoin(es(0), es(1), None)),
    "len" -> (es => LenCompat(es.head)),
    // DuckDB range(a, b) is end-EXCLUSIVE, generate_series(a, b)
    // end-inclusive; Spark's sequence is inclusive — and on an EMPTY
    // range (start > inclusive stop) DuckDB returns an empty list where
    // Spark's Sequence DESCENDS, so a phantom descending row would leak
    // through any downstream filter (ADVICE r12: a corpus where every
    // doc is shorter than one KV block emitted a depth-0 md5('')
    // instance on the parity run only). `ascSeq` pins the DuckDB
    // semantics: empty list when start > stop, NULL when either bound
    // is NULL (the CaseWhen's null predicate falls through to the else
    // branch, where Sequence propagates the NULL). The explicit 3-arg
    // step form keeps raw Sequence — a negative step legitimately
    // descends on both engines.
    "range" -> (es =>
      if (es.size == 1) ascSeq(Literal(0L), Subtract(es(0), Literal(1)))
      else ascSeq(es(0), Subtract(es(1), Literal(1)))),
    "generate_series" -> (es =>
      if (es.size <= 2) ascSeq(es(0), es(1))
      else Sequence(es(0), es(1), es.lift(2))),
    "list_distinct" -> (es => ArrayDistinct(es.head)),
    // DuckDB's optional direction argument: only the literal
    // 'ASC'/'DESC' spellings map (DuckDB also takes a null-order
    // argument — no Spark twin, must fail loudly, not approximate)
    "list_sort" -> { es =>
      val asc = es.lift(1) match {
        case None => true
        case Some(Literal(s: UTF8String, StringType))
            if s.toString.equalsIgnoreCase("ASC") => true
        case Some(Literal(s: UTF8String, StringType))
            if s.toString.equalsIgnoreCase("DESC") => false
        case Some(other) => throw new IllegalArgumentException(
          s"list_sort alias: unsupported direction argument '$other' " +
            "(only literal 'ASC'/'DESC' map to Spark's sort_array)")
      }
      require(es.size <= 2,
        "list_sort alias: DuckDB's null-order argument has no Spark twin")
      SortArray(es.head, Literal(asc))
    },
    "list_filter" -> (es => ArrayFilter(es(0), es(1))),
    "regexp_split_to_array" -> (es => StringSplit(es(0), es(1), Literal(-1))),
    // DuckDB's 1-arg encode(v) is to-UTF-8; pass through to Spark's
    // 2-arg form otherwise
    "encode" -> (es =>
      if (es.size == 1) Encode(es(0), Literal(UTF8String.fromString("UTF-8"), StringType))
      else Encode(es(0), es(1))),
    "ord" -> (es => Ascii(es.head)),
    "strpos" -> (es => StringInstr(es(0), es(1))),
    "sha256" -> (es => Sha2(es.head, Literal(256))),
    "from_base64" -> (es => UnBase64(es.head)),
    "xor" -> (es => BitwiseXor(es(0), es(1))),
    // DuckDB's epoch_ms/epoch_us are POLYMORPHIC: timestamp → integer
    // epoch, and integer → timestamp (the reverse). Type-dispatch waits
    // for the child to resolve, as LenCompat does.
    "epoch_ms" -> (es => EpochMsCompat(es.head)),
    "epoch_us" -> (es => UnixMicros(es.head)),
    // DuckDB bin(x) → binary string; Spark spells it conv(x, 10, 2)
    "bin" -> (es => Conv(Cast(es.head, StringType), Literal(10), Literal(2))),
    "regexp_matches" -> (es => RLike(es(0), es(1))),
    // (No date_diff alias is POSSIBLE: Spark's analyzer resolves
    // builtin names before session temp functions, so the 3-arg quoted
    // DuckDB form can never reach a registered bridge — verified
    // empirically; day-count oracles route through the polymorphic
    // epoch_ms + divide spelling instead.)
    "json_extract_string" -> (es => GetJsonObject(es(0), es(1))),
    // DuckDB's named spelling of `//`: integer division truncating
    // toward zero — exactly Spark's `div` (IntegralDivide). The named
    // form is the one integer-division spelling BOTH parsers accept,
    // so oracle statements use it instead of the `//` operator.
    "divide" -> (es => IntegralDivide(es(0), es(1))),
    "list_contains" -> (es => ArrayContains(es(0), es(1))),
    "list_max" -> (es => ArrayMax(es.head)),
    // NON-NULL-INPUT CONSTRAINT (documented, not papered over): DuckDB's
    // list_concat treats a NULL list as empty and returns the other
    // list; Spark's Concat returns NULL if ANY argument is NULL. The
    // alias maps only the shared non-null-input semantics — a statement
    // feeding a possibly-NULL list must coalesce it explicitly (the one
    // oracle use, q_array_advanced, feeds non-null literals), per the
    // pack's fail-loud-don't-approximate policy.
    "list_concat" -> (es => Concat(es)),
    // DuckDB's list_prepend(value, list); Spark spells it
    // array_insert(list, 1, value)
    "list_prepend" -> (es => ArrayInsert(es(1), Literal(1), es(0), legacyNegativeIndex = false)),
    // DuckDB's list_reduce has NO initial-value form — the repo's
    // oracles supply one by folding over list_prepend(init, l), and
    // ONLY that composition maps exactly: it is Spark's
    // aggregate(l, init, merge). Any other shape (no recoverable
    // init) must fail loudly, not approximate.
    "list_reduce" -> { es =>
      es(0) match {
        case ArrayInsert(arr, Literal(1, _), init, _) =>
          ArrayAggregate(arr, init, es(1),
            LambdaFunction(lv("fin"), Seq(lv("fin"))))
        case other => throw new IllegalArgumentException(
          "list_reduce alias: only the list_prepend(init, l) composition " +
            s"maps to Spark's aggregate(l, init, f); got $other")
      }
    },
    // the shipped DuckDB (1.0) returns 0 for an absent element —
    // exactly Spark's array_position. Newer DuckDB releases switch to
    // NULL-for-absent; that expectation was TRANSCRIBED from DuckDB 1.0
    // (SqlCompatSpec pins only the Spark side of the alias — it runs on
    // spark.sql), so a sandbox DuckDB upgrade would surface in the
    // driver's correctness runs, not in sbt test (ADVICE r12).
    "list_position" -> (es => ArrayPosition(es(0), es(1))),
    // DuckDB's 1-based list subscript, by NAME: `l[i]` itself cannot be
    // bridged (Spark parses [] as 0-based extraction), but DuckDB's
    // named spelling list_extract(l, i) IS Spark's element_at — both
    // 1-based — so oracles index lists through the named form
    // failOnError = false: DuckDB's list_extract yields NULL for an
    // out-of-range index where Spark's ANSI element_at throws — and
    // index 0 (NULL on DuckDB, a hard error on Spark even with
    // failOnError) detours through an out-of-range index so it NULLs
    // the same way
    "list_extract" -> { es =>
      val idx = Add(es(1),
        If(EqualTo(es(1), Literal(0)), Literal(2147483647), Literal(0)))
      ElementAt(es(0), idx, failOnError = false)
    },
    // DuckDB's array_slice(l, a, b) IS the `l[a:b]` slice's named
    // spelling (1-based, END-inclusive, both bounds clamped) — Spark's
    // slice(l, start, LENGTH) has the same 1-based start and the same
    // overrun clamp, so end-inclusive maps to length = b − a + 1,
    // floored at 0 so DuckDB's empty-list result for b < a carries
    // over (Spark's Slice throws on negative length). DuckDB's
    // negative from-the-end bounds have NO Spark twin: literal
    // negative/zero starts fail loudly at bind time; non-literal
    // bounds keep the documented positive-in-range contract. The
    // bracket slice itself parses as VARIANT access on Spark, which is
    // why the cdc/span/subvector oracles spell it through this name.
    "array_slice" -> { es =>
      def litNonPositive(e: Expression, allowZero: Boolean): Boolean = e match {
        case Literal(v: Number, _) =>
          if (allowZero) v.longValue < 0L else v.longValue <= 0L
        case UnaryMinus(Literal(v: Number, _), _) => v.longValue != 0L
        case _ => false
      }
      require(!litNonPositive(es(1), allowZero = false) &&
          !litNonPositive(es(2), allowZero = true),
        "array_slice alias: DuckDB's negative from-the-end bounds have " +
          "no Spark twin — only positive 1-based bounds map")
      Slice(es(0), es(1),
        Greatest(Seq(Literal(0), Add(Subtract(es(2), es(1)), Literal(1)))))
    },
    // DuckDB's named list constructor (the `['a', 'b']` literal's
    // function spelling) IS Spark's array()
    "list_value" -> (es => CreateArray(es)),
    // DuckDB's struct/row constructor ROW(a, b, …) IS Spark's struct()
    "row" -> (es => CreateStruct(es)),
    // DuckDB's 2-arg regexp_extract_all defaults to group 0 (the whole
    // match); Spark's defaults to group 1 — pin the DuckDB default.
    // Explicit 3-arg group indexes mean the same thing on both.
    "regexp_extract_all" -> (es =>
      if (es.size == 2) RegExpExtractAll(es(0), es(1), Literal(0))
      else RegExpExtractAll(es(0), es(1), es(2))),
    // DuckDB's regexp_replace is first-match unless the 'g' flag makes
    // it global; Spark's is ALWAYS global, and its optional 4th arg is
    // a start POSITION. Only the 'g'-flag spelling is aliased (it maps
    // exactly to Spark's 3-arg form); any other string flag must fail
    // loudly, and an integer 4th arg keeps Spark's position meaning.
    "regexp_replace" -> { es =>
      if (es.size == 4) es(3) match {
        case Literal(s: UTF8String, StringType) if s.toString == "g" =>
          RegExpReplace(es(0), es(1), es(2))
        case Literal(s: UTF8String, StringType) =>
          throw new IllegalArgumentException(
            s"regexp_replace alias: unsupported flag '$s' (only 'g' maps to Spark)")
        case pos => RegExpReplace(es(0), es(1), es(2), pos)
      } else RegExpReplace(es(0), es(1), es(2))
    },
    // strftime with a LITERAL C-style format: translated to the Java
    // pattern at bind time (only the directives the oracles use — any
    // other format must fail loudly, not approximate). Everything
    // BETWEEN directives is a literal and must be single-quoted in the
    // Java pattern — alphabetic separators ('T', a literal 'd') would
    // otherwise be reinterpreted as pattern letters or rejected.
    "strftime" -> { es =>
      val fmt = es(1).eval(null).toString
      val known = Map("%Y" -> "yyyy", "%m" -> "MM", "%d" -> "dd",
        "%H" -> "HH", "%M" -> "mm", "%S" -> "ss")
      def quote(lit: String): String =
        if (lit.isEmpty) "" else "'" + lit.replace("'", "''") + "'"
      val out = new StringBuilder
      var i = 0
      var litStart = 0
      while (i < fmt.length) {
        if (fmt.charAt(i) == '%') {
          require(i + 1 < fmt.length,
            s"strftime alias: dangling '%' in format '$fmt'")
          val dir = fmt.substring(i, i + 2)
          require(known.contains(dir),
            s"strftime alias: untranslated directive '$dir' in format '$fmt'")
          out ++= quote(fmt.substring(litStart, i))
          out ++= known(dir)
          i += 2
          litStart = i
        } else i += 1
      }
      out ++= quote(fmt.substring(litStart))
      DateFormatClass(es(0),
        Literal(UTF8String.fromString(out.toString), StringType))
    },
    "quantile_cont" -> (es =>
      Percentile(es(0), es(1), Literal(1L)).toAggregateExpression()))

  /** Register the NAME aliases on a live session (idempotent,
    * temp-function scope — safe to apply to any session: a temp
    * function can never shadow a Spark builtin, so user SQL that never
    * says `list_sort`/`string_split`/… is untouched).
    *
    * The four PARSER/SESSION settings that complete the dialect (raw
    * string literals, ANSI double-quoted identifiers, unchunked base64,
    * raised recursion cap) change how EXISTING user SQL parses — e.g.
    * Spark's default unescapes `'\s'` to `'s'`, so flipping raw
    * literals under a user silently changes every regex they wrote for
    * the default. They are therefore NOT applied here (ADVICE r12):
    * scope them to a block with [[withDialectSession]] (the parity
    * probe and the parity/compat suites).
    */
  def register(spark: SparkSession): Unit =
    fns.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** The dialect's session settings: DuckDB quotes identifiers with
    * double quotes (`"1-URGENT"` — ANSI behavior Spark gates behind a
    * conf; no oracle uses double-quoted STRING literals, DuckDB itself
    * would reject those); DuckDB recursion is unbounded where Spark's
    * recursive CTEs default to a 1M-row safety cap — raised (not
    * removed) so dialect-legal recursive statements of test-scale depth
    * run while a runaway still fails; DuckDB string literals are RAW
    * (no backslash processing) where Spark's default unescapes `'\s'`
    * to `'s'` — silently mangling every regex in a shared statement;
    * and DuckDB's base64() never chunks, where this Spark build
    * MIME-wraps at 76 chars.
    */
  private val dialectConfs: Seq[(String, String)] = Seq(
    "spark.sql.ansi.doubleQuotedIdentifiers" -> "true",
    "spark.sql.cteRecursionRowLimit" -> "16000000",
    "spark.sql.parser.escapedStringLiterals" -> "true",
    "spark.sql.chunkBase64String.enabled" -> "false")

  /** Run `f` with the dialect session settings applied, restoring each
    * conf's prior value (or unset state) afterwards — the scoping the
    * shared-session test suites use so DuckDB-dialect statements parse
    * exactly while every other suite keeps stock Spark parsing. Parse
    * AND collect inside the block: the literal/identifier settings are
    * read at parse time, the base64 chunking at expression build time.
    */
  def withDialectSession[T](spark: SparkSession)(f: => T): T = {
    val prior = dialectConfs.map { case (k, _) =>
      k -> (try spark.conf.getOption(k) catch { case _: Exception => None })
    }
    dialectConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
