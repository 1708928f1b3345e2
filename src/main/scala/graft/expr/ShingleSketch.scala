package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document shingle sketch for pair-grain near-duplicate
  * verification: the MinHash signature AND the sorted set of shingle
  * hashes, both from ONE md5 per distinct word n-gram shingle.
  *
  * The hash set keeps the whole 128-bit digest of each shingle as two
  * longs — digest bytes 0..7 (`hi`) and 8..15 (`lo`), big-endian —
  * interleaved `[hi0, lo0, hi1, lo1, …]`, sorted by (hi, lo) as signed
  * longs and deduplicated. Two consequences:
  *  - the signature is bit-identical to [[MinHashSig]] and to the
  *    relational form: its two 60-bit halves are `hi >>> 4` and
  *    `lo >>> 4`, the leading 15 hex digits of each digest half;
  *  - the signature of any SUBSET of the shingles (the survivors of a
  *    document-frequency cap) is re-derived from the hashes alone
  *    ([[fromPairs]]), with no second pass over the text.
  *
  * [[commonCount]] intersects two sketches in one merge loop: |A∩B| of
  * the shingle sets, exact up to 128-bit md5 collisions (for a corpus
  * of m distinct shingles the chance of any collision is below
  * m²/2^129 — under 10^-12 at m = 10^13).
  */
object ShingleSketch {

  private val mod60 = 1152921504606846976L // 2^60

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  val dataType: StructType = StructType(Seq(
    StructField("mh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("hs", ArrayType(LongType, containsNull = false), nullable = false)))

  private def word(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(off + i) & 0xffL); i += 1 }
    v
  }

  /** The md5 digests of the text's distinct n-gram shingles as
    * interleaved (hi, lo) words, in shingle order; null when the text
    * has fewer than n tokens.
    */
  private[expr] def digests(text: UTF8String, n: Int): Array[Long] = {
    val shingles = WordShingles.compute(text, n)
    val k = shingles.numElements()
    if (k == 0) return null
    val digest = md5.get()
    val hs = new Array[Long](2 * k)
    var s = 0
    while (s < k) {
      digest.reset()
      val d = digest.digest(shingles.getUTF8String(s).getBytes)
      hs(2 * s) = word(d, 0)
      hs(2 * s + 1) = word(d, 8)
      s += 1
    }
    hs
  }

  /** The `seeds` Kirsch-Mitzenmacher min-hashes of the first m digests
    * of `hs`: hash i of a shingle = (h1 + i·h2) mod 2^60 with h1 =
    * hi >>> 4 and h2 = lo >>> 4.
    */
  private[expr] def signature(hs: Array[Long], m: Int, seeds: Int): Array[Long] = {
    val mins = Array.fill(seeds)(Long.MaxValue)
    var s = 0
    while (s < m) {
      val h1 = hs(2 * s) >>> 4
      val h2 = hs(2 * s + 1) >>> 4
      var i = 0
      while (i < seeds) {
        val v = (h1 + i * h2) % mod60 // < 8*2^60 < 2^63: no overflow
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      s += 1
    }
    mins
  }

  /** (mh, hs) of the text's distinct n-gram shingles; null when the text
    * has fewer than n tokens, like [[MinHashSig.compute]].
    */
  def compute(text: UTF8String, n: Int, seeds: Int): InternalRow = {
    val hs = digests(text, n)
    if (hs == null) null else sketch(hs, hs.length / 2, seeds)
  }

  /** (mh, hs) of an unordered array<struct<hi, lo>> of digests; null when
    * it is empty.
    */
  def fromPairs(pairs: ArrayData, seeds: Int): InternalRow = {
    val k = pairs.numElements()
    if (k == 0) return null
    val hs = new Array[Long](2 * k)
    var s = 0
    while (s < k) {
      val p = pairs.getStruct(s, 2)
      hs(2 * s) = p.getLong(0)
      hs(2 * s + 1) = p.getLong(1)
      s += 1
    }
    sketch(hs, k, seeds)
  }

  private def sketch(hs: Array[Long], k: Int, seeds: Int): InternalRow = {
    sortPairs(hs, 0, k - 1)
    var m = 0 // distinct digests kept, compacted in place
    var s = 0
    while (s < k) {
      if (m == 0 || cmp(hs, 2 * s, hs, 2 * (m - 1)) != 0) {
        hs(2 * m) = hs(2 * s)
        hs(2 * m + 1) = hs(2 * s + 1)
        m += 1
      }
      s += 1
    }
    val kept = if (m == k) hs else java.util.Arrays.copyOf(hs, 2 * m)
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(signature(hs, m, seeds)),
      UnsafeArrayData.fromPrimitiveArray(kept)))
  }

  private def cmp(a: Array[Long], i: Int, b: Array[Long], j: Int): Int = {
    val c = java.lang.Long.compare(a(i), b(j))
    if (c != 0) c else java.lang.Long.compare(a(i + 1), b(j + 1))
  }

  private def swap(hs: Array[Long], i: Int, j: Int): Unit = {
    val h = hs(2 * i); hs(2 * i) = hs(2 * j); hs(2 * j) = h
    val l = hs(2 * i + 1); hs(2 * i + 1) = hs(2 * j + 1); hs(2 * j + 1) = l
  }

  /** In-place quicksort of the (hi, lo) pairs with indices from..to.
    * The keys are md5 digests, uniform by construction, so the middle
    * pivot has no adversarial input; short runs finish by insertion.
    */
  private def sortPairs(hs: Array[Long], from: Int, to: Int): Unit = {
    var l = from
    var r = to
    while (r - l > 16) {
      swap(hs, (l + r) >>> 1, r)
      var p = l
      var i = l
      while (i < r) {
        if (cmp(hs, 2 * i, hs, 2 * r) < 0) { swap(hs, i, p); p += 1 }
        i += 1
      }
      swap(hs, p, r)
      // recurse into the smaller side, loop on the larger: O(log k) stack
      if (p - l < r - p) { sortPairs(hs, l, p - 1); l = p + 1 }
      else { sortPairs(hs, p + 1, r); r = p - 1 }
    }
    var i = l + 1
    while (i <= r) {
      var j = i
      while (j > l && cmp(hs, 2 * (j - 1), hs, 2 * j) > 0) { swap(hs, j - 1, j); j -= 1 }
      i += 1
    }
  }

  /** |A∩B| of two sorted, deduplicated `hs` arrays: one merge pass. */
  def commonCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      var d = java.lang.Long.compare(a.getLong(i), b.getLong(j))
      if (d == 0) d = java.lang.Long.compare(a.getLong(i + 1), b.getLong(j + 1))
      if (d == 0) { c += 1; i += 2; j += 2 }
      else if (d < 0) i += 2
      else j += 2
    }
    c
  }

  /** struct<mh, hs> of a text column; null below n tokens. */
  def shingle_sketch(text: Column, n: Int, seeds: Int): Column =
    ColumnBridge.column(ShingleSketchExpr(ColumnBridge.expression(text), n, seeds))

  /** struct<mh, hs> of an array<struct<hi, lo>> column; null when empty. */
  def hash_sketch(pairs: Column, seeds: Int): Column =
    ColumnBridge.column(HashSketchExpr(ColumnBridge.expression(pairs), seeds))

  /** |A∩B| of two `hs` columns. */
  def common_count(a: Column, b: Column): Column =
    ColumnBridge.column(CommonCountExpr(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))
}

/** Codegen'd [[ShingleSketch.compute]]. */
case class ShingleSketchExpr(child: Expression, n: Int, seeds: Int)
    extends UnaryExpression {

  require(n >= 1 && seeds >= 1 && seeds <= 8,
    "1 <= seeds <= 8 (7*2^60 must stay under 2^63) and n >= 1")

  override def dataType: DataType = ShingleSketch.dataType
  override def nullable: Boolean = true // <n tokens -> null sketch
  override def prettyName: String = "shingle_sketch"

  override protected def nullSafeEval(input: Any): Any =
    ShingleSketch.compute(input.asInstanceOf[UTF8String], n, seeds)

  // a non-null text with <n tokens gives null too, so the body sets the flag
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""${ev.value} = graft.expr.ShingleSketch.compute($t, $n, $seeds);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ShingleSketchExpr =
    copy(child = newChild)
}

/** Codegen'd [[ShingleSketch.fromPairs]]. */
case class HashSketchExpr(child: Expression, seeds: Int) extends UnaryExpression {

  require(seeds >= 1 && seeds <= 8, "1 <= seeds <= 8")

  override def dataType: DataType = ShingleSketch.dataType
  override def nullable: Boolean = true // empty input -> null sketch
  override def prettyName: String = "hash_sketch"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 2 && fs.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hash_sketch expects array<struct<bigint, bigint>>, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    ShingleSketch.fromPairs(input.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p =>
      s"""${ev.value} = graft.expr.ShingleSketch.fromPairs($p, $seeds);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): HashSketchExpr =
    copy(child = newChild)
}

/** Codegen'd [[ShingleSketch.commonCount]]. */
case class CommonCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "common_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"common_count expects (array<bigint>, array<bigint>), got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ShingleSketch.commonCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.ShingleSketch.commonCount($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CommonCountExpr = copy(left = newLeft, right = newRight)
}
