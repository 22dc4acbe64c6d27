package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions

/** Custom Catalyst expressions — the tier below built-ins, above UDFs
  * (SURVEY.md §4: custom work enters only for §7 extension operators).
  *
  *  - [[DotProductF]] / [[L2NormSqF]]: codegen'd float-vector kernels.
  *    Same left-to-right float→double accumulation as the
  *    `aggregate(zip_with(...))` HOF fold they replace (bit-identical
  *    results, DuckDB oracle unchanged) but without per-row ArrayData
  *    lambda dispatch — the hot loop is a plain `for` over the unsafe
  *    array in generated code.
  *  - [[KmvDistinct]]: a mergeable K-Minimum-Values distinct sketch as
  *    a TypedImperativeAggregate — partial sketches merge
  *    associatively, so it map-side combines and scales like any
  *    built-in aggregate (the custom-sketch pattern for when HLL++
  *    isn't the estimator you want).
  */
object GraftExpressions {

  // ---------------------------------------------------------------------
  // Portable 60-bit hash (md5 prefix) — codegen'd
  // ---------------------------------------------------------------------

  /** The PortableHash seam as ONE expression: value-identical to
    * `conv(substr(md5(s),1,15),16,10)::long` (the first 15 hex digits =
    * the first 60 bits = big-endian first-8-bytes >>> 4) but computed
    * straight from the digest bytes — no 32-char hex string, no
    * substring, no base-16 string parse per row. Every sketch operator
    * (MinHash, SimHash, fingerprints, hash sampling) runs this per
    * token/shingle, so the string round-trip was the hottest
    * allocation in the dedup family.
    */
  case class Hash64Prefix(child: Expression) extends UnaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects string, got $other")
      }
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_hash64"

    override def nullSafeEval(input: Any): Any =
      Hash64Prefix.hash(input.asInstanceOf[UTF8String])

    // Static call into the TOP-LEVEL PortableMd5 object (a nested Scala
    // object has no Java-visible static forwarder — a generated call to
    // one fails Janino compilation and silently drops the WHOLE
    // projection out of codegen; observed round 4). The helper reuses a
    // per-thread MessageDigest instead of a provider lookup per row.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.PortableMd5.hash60($s);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object Hash64Prefix {
    /** Hot-path helper shared by eval and generated code. */
    def hash(s: UTF8String): Long = PortableMd5.hash60(s)
  }

  // ---------------------------------------------------------------------
  // Vector kernels
  // ---------------------------------------------------------------------

  private def requireFloatArray(e: Expression, name: String) =
    e.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name expects array<float>, got $other")
    }

  case class DotProductF(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val l = requireFloatArray(left, prettyName)
      if (l.isSuccess) requireFloatArray(right, prettyName) else l
    }
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot_f"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += (double)$a.getFloat($i) * (double)$b.getFloat($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  case class L2NormSqF(child: Expression)
      extends UnaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireFloatArray(child, prettyName)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_norm_sq_f"

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var acc = 0.0
      var i = 0
      while (i < x.numElements()) {
        val v = x.getFloat(i).toDouble; acc += v * v; i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val v = ctx.freshName("v")
        val acc = ctx.freshName("acc")
        s"""
           |double $acc = 0.0;
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  double $v = (double)$a.getFloat($i);
           |  $acc += $v * $v;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // Generic variants: accept array<float> OR array<double> per side
  // (the k-means trainer mixes float embeddings with double centroids).
  // Element reads promote to double exactly like the HOF fold's
  // `x.cast(DoubleType)` — accumulation order and values bit-identical.

  private def requireNumArray(e: Expression, name: String) =
    e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name expects array<float|double>, got $other")
    }

  private def elemGet(arr: String, i: String, dt: DataType): String =
    dt match {
      case ArrayType(FloatType, _) => s"(double)$arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }

  private def elemRead(x: ArrayData, i: Int, dt: DataType): Double =
    dt match {
      case ArrayType(FloatType, _) => x.getFloat(i).toDouble
      case _ => x.getDouble(i)
    }

  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val l = requireNumArray(left, prettyName)
      if (l.isSuccess) requireNumArray(right, prettyName) else l
    }
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += elemRead(x, i, left.dataType) * elemRead(y, i, right.dataType)
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += ${elemGet(a, i, left.dataType)} * ${elemGet(b, i, right.dataType)};
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Σ(a_i − b_i)² with the same left-to-right sequential accumulation
    * as the `aggregate(zip_with(...))` HOF fold it replaces (HOFs have
    * no codegen and evaluate per-element through ArrayData — this is
    * the PQ ADC hot loop).
    */
  case class DistSq(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val l = requireNumArray(left, prettyName)
      if (l.isSuccess) requireNumArray(right, prettyName) else l
    }
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dist_sq"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = elemRead(x, i, left.dataType) - elemRead(y, i, right.dataType)
        acc += d * d
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val d = ctx.freshName("d")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = ${elemGet(a, i, left.dataType)} - ${elemGet(b, i, right.dataType)};
           |  $acc += $d * $d;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  case class L2NormSq(child: Expression)
      extends UnaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      requireNumArray(child, prettyName)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_norm_sq"

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var acc = 0.0
      var i = 0
      while (i < x.numElements()) {
        val v = elemRead(x, i, child.dataType); acc += v * v; i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val v = ctx.freshName("v")
        val acc = ctx.freshName("acc")
        s"""
           |double $acc = 0.0;
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  double $v = ${elemGet(a, i, child.dataType)};
           |  $acc += $v * $v;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Optimizer micro-rule: `dot_f(x, x)` → `norm_sq_f(x)` (one array
    * access per element instead of two). Mostly a demonstration of
    * `injectOptimizerRule` with a genuinely safe rewrite.
    */
  object RewriteSelfDot extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      plan.transformAllExpressions {
        case DotProductF(a, b) if a.semanticEquals(b) => L2NormSqF(a)
        case DotProduct(a, b) if a.semanticEquals(b) => L2NormSq(a)
      }
  }

  // ---------------------------------------------------------------------
  // KMV distinct sketch
  // ---------------------------------------------------------------------

  /** splitmix64 finalizer over an FNV-1a pass: deterministic 64-bit
    * hash for Long/String inputs (public-domain constructions).
    */
  private[functions] def hashAny(v: Any): Long = {
    val base = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: UTF8String =>
        var h = 0xcbf29ce484222325L
        val bytes = s.getBytes
        var i = 0
        while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
        h
      case other => other.hashCode().toLong
    }
    var z = base + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Shared KMV sketch mechanics: bounded TreeSet of the k minimum
    * 63-bit hashes, mergeable (merge = re-insert), fixed serialization.
    * Evaluation differs per operator: [[KmvDistinct]] emits the
    * cardinality estimate, [[KmvValues]] the kept values themselves
    * (for sketch set algebra downstream).
    */
  sealed trait KmvSketch { self: TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] =>
    def child: Expression
    def k: Int

    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false

    override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()

    protected def insert(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
      buf.add(h)
      if (buf.size() > k) buf.pollLast()
    }

    override def update(
        buf: java.util.TreeSet[java.lang.Long], input: InternalRow): java.util.TreeSet[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) insert(buf, hashAny(v) >>> 1) // keep non-negative
      buf
    }

    override def merge(
        buf: java.util.TreeSet[java.lang.Long],
        other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
      val it = other.iterator()
      while (it.hasNext) insert(buf, it.next())
      buf
    }

    override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + buf.size() * 8)
      bb.putInt(buf.size())
      val it = buf.iterator()
      while (it.hasNext) bb.putLong(it.next().longValue())
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = new java.util.TreeSet[java.lang.Long]()
      var i = 0
      while (i < n) { buf.add(bb.getLong); i += 1 }
      buf
    }
  }

  case class KmvDistinct(
      child: Expression,
      k: Int = 256,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] with KmvSketch {

    override def dataType: DataType = LongType
    override def prettyName: String = "graft_kmv_distinct"

    override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
      val n = buf.size()
      if (n < k) n.toLong
      else {
        // k-th minimum of n uniform draws over [0, 2^63):
        // E[distinct] ≈ (k-1) * 2^63 / h_k
        val hk = buf.last().longValue().toDouble
        math.round((k - 1).toDouble * 9.223372036854776e18 / hk)
      }
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
  }

  /** The sketch VALUES (ascending) instead of the point estimate — the
    * mergeable representation two sketches can be composed over
    * (union/intersection/Jaccard, Beyer et al. SIGMOD'07) with plain
    * array functions downstream.
    */
  case class KmvValues(
      child: Expression,
      k: Int = 256,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] with KmvSketch {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_kmv_values"

    override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
      val out = new Array[Long](buf.size())
      val it = buf.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): KmvValues =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KmvValues =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
  }

  // ---------------------------------------------------------------------
  // Misra-Gries heavy-hitters sketch
  // ---------------------------------------------------------------------

  /** Misra-Gries frequent-items sketch over strings: one pass, k
    * counters, mergeable (merge = counter-wise add, then decrement all
    * by the (k+1)-th largest and drop non-positives — the standard
    * mergeable-summaries construction). GUARANTEE: any item with true
    * frequency > n/(k+1) survives in the sketch. Counts are
    * approximate (within n/(k+1) under), so the intended use is
    * sketch-for-candidates + exact-count verify — the same
    * prune-then-verify shape as LSH dedup. Returns the surviving
    * candidate items (sorted, for determinism).
    */
  case class MisraGries(
      child: Expression,
      k: Int = 64,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.HashMap[String, java.lang.Long]] {

    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_heavy_hitters"

    override def createAggregationBuffer(): java.util.HashMap[String, java.lang.Long] =
      new java.util.HashMap[String, java.lang.Long]()

    private def bump(buf: java.util.HashMap[String, java.lang.Long],
        key: String, by: Long): Unit = {
      val cur = buf.get(key)
      buf.put(key, java.lang.Long.valueOf(if (cur == null) by else cur.longValue + by))
    }

    private def shrink(buf: java.util.HashMap[String, java.lang.Long]): Unit =
      if (buf.size() > k) {
        // decrement everything by the smallest surviving count bucket:
        // classic MG step — decrement all by 1 repeatedly is O(n²);
        // decrement by the (k+1)-th largest count in one step instead
        val counts = new java.util.ArrayList[java.lang.Long](buf.values())
        java.util.Collections.sort(counts)
        val dec = counts.get(counts.size() - k - 1).longValue
        val it = buf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.longValue <= dec) it.remove()
          else e.setValue(java.lang.Long.valueOf(e.getValue.longValue - dec))
        }
      }

    override def update(
        buf: java.util.HashMap[String, java.lang.Long], input: InternalRow): java.util.HashMap[String, java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) {
        bump(buf, v.toString, 1L)
        shrink(buf)
      }
      buf
    }

    override def merge(
        buf: java.util.HashMap[String, java.lang.Long],
        other: java.util.HashMap[String, java.lang.Long]): java.util.HashMap[String, java.lang.Long] = {
      val it = other.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        bump(buf, e.getKey, e.getValue.longValue)
      }
      shrink(buf)
      buf
    }

    override def eval(buf: java.util.HashMap[String, java.lang.Long]): Any = {
      val keys = new java.util.ArrayList[String](buf.keySet())
      java.util.Collections.sort(keys)
      val arr = new Array[Any](keys.size())
      var i = 0
      while (i < keys.size()) { arr(i) = UTF8String.fromString(keys.get(i)); i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }

    override def serialize(buf: java.util.HashMap[String, java.lang.Long]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(buf.size())
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out.writeUTF(e.getKey); out.writeLong(e.getValue.longValue)
      }
      bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, java.lang.Long] = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val n = in.readInt()
      val buf = new java.util.HashMap[String, java.lang.Long]()
      var i = 0
      while (i < n) { buf.put(in.readUTF(), java.lang.Long.valueOf(in.readLong())); i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren.head)
  }

  // ---------------------------------------------------------------------
  // Geometric mean — DeclarativeAggregate tier
  // ---------------------------------------------------------------------

  /** `graft_geomean(x)`: exact-reproducible geometric mean as a
    * DECLARATIVE aggregate — the third custom-aggregate tier this
    * engine exercises (TypedImperativeAggregate = KMV/Misra-Gries,
    * typed `Aggregator` = LangStats, and this: buffer and update are
    * pure Catalyst expressions, so the aggregate itself participates
    * in whole-stage codegen and map-side combine like any built-in).
    *
    * Portability: each row contributes floor(ln(x)·2^26) as a BIGINT
    * (one IEEE log, one multiply, one floor — identical in DuckDB), so
    * the partial sums are order-independent integers. 2^26 keeps
    * |ln(x)|·2^26 ≈ 6e8 per row; 2^53/6e8 ≈ 1.5e7 rows per GROUP before
    * the BIGINT→DOUBLE readback could round (NOTES #18 bound —
    * per-group cardinality, not corpus size).
    */
  case class GeoMeanQ(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
      with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

    private val Q = 67108864L // 2^26

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case DoubleType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects double, got $other")
      }
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_geomean"

    private lazy val sumQ = AttributeReference("sumQ", LongType, nullable = false)()
    private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()

    override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(sumQ, cnt)
    override lazy val initialValues: Seq[Expression] = Seq(Literal(0L), Literal(0L))

    override lazy val updateExpressions: Seq[Expression] = {
      val valid = And(IsNotNull(child), GreaterThan(child, Literal(0.0)))
      val term = Cast(Floor(Multiply(Log(child), Literal(Q.toDouble))), LongType)
      Seq(
        If(valid, Add(sumQ, term), sumQ),
        If(valid, Add(cnt, Literal(1L)), cnt))
    }

    override lazy val mergeExpressions: Seq[Expression] = Seq(
      Add(sumQ.left, sumQ.right), Add(cnt.left, cnt.right))

    override lazy val evaluateExpression: Expression =
      If(EqualTo(cnt, Literal(0L)), Literal(null, DoubleType),
        Exp(Divide(Divide(Cast(sumQ, DoubleType), Literal(Q.toDouble)),
          Cast(cnt, DoubleType))))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---------------------------------------------------------------------
  // Winnowing fingerprints — whole-document kernel
  // ---------------------------------------------------------------------

  /** `graft_winnow(text, k, w)`: the winnowing fingerprint set of a
    * document as array<long> — one linear pass in [[Winnow]] (k-gram
    * portable hashes, monotone-deque window minima, distinct), replacing
    * the explode-every-gram + per-doc window-sort relational plan. The
    * generated code is a single static call, so the surrounding
    * projection stays in whole-stage codegen.
    */
  case class WinnowFingerprints(child: Expression, k: Int, w: Int)
      extends UnaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects string, got $other")
      }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_winnow"

    override def nullSafeEval(input: Any): Any =
      Winnow.fingerprints(input.asInstanceOf[UTF8String], k, w)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.Winnow.fingerprints($s, $k, $w);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_shingle_hashes(text)`: the distinct 60-bit 3-token-shingle
    * hashes of a document as array<long> — one linear pass in
    * [[ShingleHashes]], replacing the interpreted transform/slice
    * lambda chain and per-occurrence explode the dedup family used to
    * pay on its cold path. Single static call; stays in whole-stage
    * codegen.
    */
  case class ShingleHashesExpr(child: Expression) extends UnaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects string, got $other")
      }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_shingle_hashes"

    override def nullSafeEval(input: Any): Any =
      ShingleHashes.hashes(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.ShingleHashes.hashes($s);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_trigram_counts(text)`: the distinct char trigrams of a
    * document with multiplicities as array<struct<tg,k>> — one linear
    * pass in [[TrigramCounts]], replacing the interpreted-HOF
    * transform/sequence explode and the corpus-sized per-occurrence
    * aggregate the langid family used to pay. Single static call, so
    * the projection stays in whole-stage codegen.
    */
  case class TrigramCountsExpr(child: Expression) extends UnaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects string, got $other")
      }
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("tg", StringType, nullable = false),
      StructField("k", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "graft_trigram_counts"

    override def nullSafeEval(input: Any): Any =
      TrigramCounts.counts(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.TrigramCounts.counts($s);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_wordpiece(text)`: greedy longest-match WordPiece tokens of
    * a document as array<string> — one linear pass in [[WordPiece]];
    * the generated code is a single static call.
    */
  case class WordPieceTokens(child: Expression) extends UnaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects string, got $other")
      }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_wordpiece"

    override def nullSafeEval(input: Any): Any =
      WordPiece.pieces(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.WordPiece.pieces($s);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_del_hood(text, k)`: the distinct 64-bit hashes of the
    * ≤k-deletion neighborhood of a string as array<long> — one linear
    * pass per variant in [[DelHood]] with the hash streamed over the
    * surviving characters (no variant string materialized), replacing
    * the interpreted nested-transform/sequence HOF chain the linkage
    * blocking would otherwise pay per row. Single static call; stays
    * in whole-stage codegen.
    */
  case class DelNeighborhoodExpr(child: Expression, k: Int)
      extends UnaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects string, got $other")
      }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_del_hood"

    override def nullSafeEval(input: Any): Any =
      DelHood.hashes(input.asInstanceOf[UTF8String], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.DelHood.hashes($s, $k);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_cdc(text, w, modulus)`: content-defined chunks of a
    * document as array<struct<chash, n_tok>> — one linear pass in
    * [[Cdc]] replacing the explode → window-hash → running-sum →
    * collect_list/sort relational plan.
    */
  case class CdcChunks(child: Expression, w: Int, modulus: Long)
      extends UnaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects string, got $other")
      }
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("chash", StringType, nullable = false),
      StructField("n_tok", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "graft_cdc"

    override def nullSafeEval(input: Any): Any =
      Cdc.chunks(input.asInstanceOf[UTF8String], w, modulus)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.Cdc.chunks($s, $w, ${modulus}L);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_prefix_chain(tokens, block)`: the chained KV-block prefix
    * hashes of a token array as array<string> — one linear pass in
    * [[PrefixChain]] (block i = `md5(h[i−1] ‖ '|' ‖ block-i tokens)`),
    * replacing the per-depth full-prefix re-hash whose work grew as
    * L²/2B per document (the r12 KV-audit scale defect). Equality-
    * preserving for whole-prefix identity: it IS the radix-trie key a
    * prefix cache shuffles. Single static call; stays in whole-stage
    * codegen.
    */
  case class PrefixChainHashes(child: Expression, block: Int)
      extends UnaryExpression {

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects array<string>, got $other")
      }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_prefix_chain"

    override def nullSafeEval(input: Any): Any =
      PrefixChain.hashes(input.asInstanceOf[ArrayData], block)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.PrefixChain.hashes($s, $block);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---------------------------------------------------------------------
  // Registration
  // ---------------------------------------------------------------------

  private[functions] val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot_f" -> (es => DotProductF(es(0), es(1))),
    "graft_norm_sq_f" -> (es => L2NormSqF(es.head)),
    "graft_hash64" -> (es => Hash64Prefix(es.head)),
    "graft_dot" -> (es => DotProduct(es(0), es(1))),
    "graft_norm_sq" -> (es => L2NormSq(es.head)),
    "graft_dist_sq" -> (es => DistSq(es(0), es(1))),
    "graft_wordpiece" -> (es => WordPieceTokens(es.head)),
    "graft_shingle_hashes" -> (es => ShingleHashesExpr(es(0))),
    "graft_trigram_counts" -> (es => TrigramCountsExpr(es(0))),
    "graft_winnow" -> (es => WinnowFingerprints(es(0),
      es(1).eval(null).toString.toInt, es(2).eval(null).toString.toInt)),
    "graft_cdc" -> (es => CdcChunks(es(0),
      es(1).eval(null).toString.toInt, es(2).eval(null).toString.toLong)),
    "graft_del_hood" -> (es => DelNeighborhoodExpr(es(0),
      es(1).eval(null).toString.toInt)),
    "graft_prefix_chain" -> (es => PrefixChainHashes(es(0),
      es(1).eval(null).toString.toInt)),
    "graft_geomean" -> (es => GeoMeanQ(es.head).toAggregateExpression()),
    // Spark ships these two only as internal expressions for its
    // runtime-filter rewrite — surfacing them lets operators build
    // explicit sketch-accelerated EXACT joins (hfp_dedup_bloom)
    "graft_bloom_agg" -> (es =>
      org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es(0), es(1), es(2), 0, 0).toAggregateExpression()),
    "graft_might_contain" -> (es =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))),
    "graft_kmv_distinct" -> { es =>
      val k = es.lift(1).map(_.eval(null).toString.toInt).getOrElse(256)
      KmvDistinct(es.head, k).toAggregateExpression()
    },
    "graft_kmv_values" -> { es =>
      val k = es.lift(1).map(_.eval(null).toString.toInt).getOrElse(256)
      KmvValues(es.head, k).toAggregateExpression()
    },
    "graft_heavy_hitters" -> { es =>
      val k = es.lift(1).map(_.eval(null).toString.toInt).getOrElse(64)
      MisraGries(es.head, k).toAggregateExpression()
    })

  /** Function registries [[register]] has filled. Weak, so a dropped
    * session's registry is not held; keyed on the registry instance, so
    * a `newSession()` (which gets its own registry) still registers.
    */
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.analysis.FunctionRegistry,
      java.lang.Boolean]())

  /** Runtime registration on a live session (what the driver-facing
    * queries use — the driver builds its own plain session). The
    * functions are registered once per session registry: every table
    * read calls this, and re-registering would log Spark's "replaced a
    * previously registered function" WARN per function per read.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registered.synchronized {
      if (!registered.contains(registry)) {
        fns.foreach { case (name, builder) =>
          registry.createOrReplaceTempFunction(name, builder, "built-in")
        }
        registered.add(registry)
      }
    }
    // the NOTES #27 spread rule rides the same every-query-path hook,
    // so heavy kernels are parallelism-safe on plain driver sessions too
    graft.plans.SpreadHeavyKernels.register(spark)
  }
}

/** Deploy-time install: submitting the jar with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` gives
  * a session the COMPLETE engine at build time with zero runtime
  * registration: every graft_* kernel (the float fast-path variants
  * included), the self-dot optimizer rule, and the custom physical
  * operators' planner strategies (GroupedTopK, AsOfJoin, RangeJoin).
  * It is the only path that installs `RewriteSelfDot`, so
  * [[graft.GraftSession]] (Bench, Verify, the CLI) never sets it: the
  * float rewrite could move oracle-exact results. Without it the
  * kernels arrive at runtime through [[GraftExpressions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  override def apply(e: SparkSessionExtensions): Unit = {
    // the float fast-path pair keeps its dedicated ExpressionInfo (the
    // optimizer rule rewrites into these, so docs matter); the rest of
    // the kernel registry injects uniformly
    e.injectFunction((FunctionIdentifier("graft_dot_f"),
      new ExpressionInfo(classOf[GraftExpressions.DotProductF].getName, "graft_dot_f"),
      (es: Seq[Expression]) => GraftExpressions.DotProductF(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("graft_norm_sq_f"),
      new ExpressionInfo(classOf[GraftExpressions.L2NormSqF].getName, "graft_norm_sq_f"),
      (es: Seq[Expression]) => GraftExpressions.L2NormSqF(es.head)))
    GraftExpressions.fns.foreach { case (name, builder) =>
      if (name != "graft_dot_f" && name != "graft_norm_sq_f")
        e.injectFunction((FunctionIdentifier(name),
          new ExpressionInfo("graft.functions.GraftExpressions", name),
          builder))
    }
    e.injectOptimizerRule(_ => GraftExpressions.RewriteSelfDot)
    // once, after the operator-optimization fixpoint: pushdown cannot
    // re-sink a heavy filter beneath the inserted exchange afterwards
    e.injectPreCBORule(s => graft.plans.SpreadHeavyKernels(s))
    e.injectPlannerStrategy(_ => graft.plans.GroupedTopK.strategy)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoin.strategy)
    e.injectPlannerStrategy(_ => graft.plans.RangeJoin.strategy)
  }
}
