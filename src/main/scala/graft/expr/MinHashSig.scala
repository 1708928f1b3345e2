package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature of a text column in one pass: `seeds` seeded
  * min-hashes over the distinct word n-gram shingles, Kirsch-
  * Mitzenmacher double-hashed from ONE md5 per shingle (h1/h2 = the
  * two 60-bit halves, the leading 15 hex digits of each digest half;
  * hash i = (h1 + i*h2) mod 2^60 — bit-identical to the SQL formulation
  * the d03 oracle runs). The hashing is [[ShingleSketch]]'s, so this is
  * the signature the pair-grain near-dup verify bands on. Returns NULL
  * when the text has fewer than n tokens (no shingles), mirroring the
  * relational pipeline that drops such docs before the group-by.
  *
  * A signature is a PER-DOCUMENT value, so computing it by explode +
  * shuffle + groupBy (as the relational form must) pays a corpus-sized
  * shuffle for nothing; this expression is a zero-shuffle codegen'd
  * map.
  */
object MinHashSig {

  def compute(text: UTF8String, n: Int, seeds: Int): ArrayData = {
    val hs = ShingleSketch.digests(text, n)
    if (hs == null) null
    else UnsafeArrayData.fromPrimitiveArray(ShingleSketch.signature(hs, hs.length / 2, seeds))
  }

  def min_hash_sig(c: Column, n: Int, seeds: Int): Column =
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(c), n, seeds))
}

case class MinHashSigExpr(child: Expression, n: Int, seeds: Int)
    extends UnaryExpression {

  require(n >= 1 && seeds >= 1 && seeds <= 8,
    "1 <= seeds <= 8 (7*2^60 must stay under 2^63) and n >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // <n tokens -> null signature
  override def prettyName: String = "min_hash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], n, seeds)

  // not nullSafeCodeGen: the result is null for non-null input with <n
  // tokens, so the null flag must be re-derived from the computed value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = null;
        if (!${childGen.isNull}) {
          ${ev.value} = graft.expr.MinHashSig.compute(${childGen.value}, $n, $seeds);
          ${ev.isNull} = (${ev.value} == null);
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}
