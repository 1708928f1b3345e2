package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.expr.{DotProductExpr, HumanCountExpr, LongDotExpr, LongL1Expr, QuantizedDotExpr, WordShinglesExpr}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions with the SQL function registry at session build
  * (`.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `--conf` on a cluster), so `spark.sql("SELECT human_count(c) ...")`
  * plans the same codegen'd expression as the Column API. Runtime
  * registration for an existing session: [[graft.expr.Functions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("human_count"),
      new ExpressionInfo(classOf[HumanCountExpr].getName, "human_count"),
      (exprs: Seq[Expression]) => HumanCountExpr(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShinglesExpr].getName, "word_shingles"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(text) => WordShinglesExpr(text, 3)
        case Seq(text, Literal(n: Int, IntegerType)) => WordShinglesExpr(text, n)
        case _ => throw new IllegalArgumentException(
          "word_shingles(text[, n constant int])")
      }))
    e.injectFunction((
      FunctionIdentifier("md5_u60"),
      new ExpressionInfo(classOf[graft.expr.Md5U60Expr].getName, "md5_u60"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(s) => graft.expr.Md5U60Expr(s, 0)
        case Seq(s, Literal(off: Int, IntegerType)) =>
          graft.expr.Md5U60Expr(s, off)
        case Seq(s, Literal(off: Int, IntegerType),
            Literal(width: Int, IntegerType)) =>
          graft.expr.Md5U60Expr(s, off, width)
        case _ => throw new IllegalArgumentException(
          "md5_u60(text[, off constant int in {0, 16}[, width constant int in 1..15]])")
      }))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProductExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("quantized_dot"),
      new ExpressionInfo(classOf[QuantizedDotExpr].getName, "quantized_dot"),
      (exprs: Seq[Expression]) => QuantizedDotExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("long_dot"),
      new ExpressionInfo(classOf[LongDotExpr].getName, "long_dot"),
      (exprs: Seq[Expression]) => LongDotExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("long_l1"),
      new ExpressionInfo(classOf[LongL1Expr].getName, "long_l1"),
      (exprs: Seq[Expression]) => LongL1Expr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("packed_pairs"),
      new ExpressionInfo(classOf[graft.expr.PackedPairsExpr].getName, "packed_pairs"),
      (exprs: Seq[Expression]) => graft.expr.PackedPairsExpr(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("basket_pairs"),
      new ExpressionInfo(classOf[graft.expr.BasketPairsExpr].getName, "basket_pairs"),
      (exprs: Seq[Expression]) => graft.expr.BasketPairsExpr(exprs.head)))
    // whole-operator axis: plans the GroupTopK logical node
    // (api.Windows.topKPerGroup) as the bounded-heap two-phase exec,
    // and rewrites the row_number()-window top-k idiom into it
    e.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.GroupTopKRewrite)
    // a streaming dedup over one state partition coalesces its input
    // instead of shuffling it: one stage per micro-batch
    e.injectOptimizerRule(_ => graft.plans.SingleStateCoalesce)
    // as-of join (api.Joins.asOfJoin): one merge pass over co-partitioned
    // sorted sides instead of a candidate-pair explosion
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // interval-overlap join (api.Joins.intervalJoinNative): sampled
    // range partitioning + per-partition plane sweep, no bucket knob
    e.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
  }
}
