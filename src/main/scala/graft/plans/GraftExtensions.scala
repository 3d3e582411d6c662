package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expressions.{BpeCountExpression, BpeEncodeExpression, DotProduct, RollingHashExpression, SpaceSavingTopK, SpanHashesExpression, TopKByScore, WinnowHashesExpression, ZOrderExpression}

/** Session extension registering the engine's custom Catalyst expressions
  * as SQL functions, so the SQL surface is at parity with the Column API:
  *
  *   SELECT dot_product(a.embedding, b.embedding) ...
  *   SELECT top_k(score, id, 10) ... GROUP BY query_id
  *
  * Wire-up: `withExtensions(new GraftExtensions)` on the session builder
  * (as [[graft.GraftSession.local]] does) or
  * `spark.sql.extensions=graft.plans.GraftExtensions` — the standard
  * SparkSessionExtensions injection point (SURVEY.md §7: custom code path
  * (c)).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def arity(name: String, n: Int, exprs: Seq[Expression]): Unit =
    require(exprs.size == n,
      s"$name expects $n arguments, got ${exprs.size}")

  /** Foldable int argument of an aggregate's shape parameter (k, capacity). */
  private def intArg(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => other.eval().asInstanceOf[Number].intValue()
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => {
        arity("dot_product(a, b)", 2, exprs)
        DotProduct(exprs(0), exprs(1))
      }))

    e.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHashExpression].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => {
        arity("rolling_hash(text)", 1, exprs)
        RollingHashExpression(exprs(0))
      }))

    e.injectFunction((
      new FunctionIdentifier("z_order"),
      new ExpressionInfo(classOf[ZOrderExpression].getName, "z_order"),
      (exprs: Seq[Expression]) => {
        arity("z_order(x, y)", 2, exprs)
        ZOrderExpression(exprs(0), exprs(1))
      }))

    e.injectFunction((
      new FunctionIdentifier("bpe_count"),
      new ExpressionInfo(classOf[BpeCountExpression].getName, "bpe_count"),
      (exprs: Seq[Expression]) => {
        arity("bpe_count(text)", 1, exprs)
        BpeCountExpression(exprs(0))
      }))

    e.injectFunction((
      new FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncodeExpression].getName, "bpe_encode"),
      (exprs: Seq[Expression]) => {
        arity("bpe_encode(text)", 1, exprs)
        BpeEncodeExpression(exprs(0))
      }))

    e.injectFunction((
      new FunctionIdentifier("span_hashes"),
      new ExpressionInfo(classOf[SpanHashesExpression].getName, "span_hashes"),
      (exprs: Seq[Expression]) => {
        arity("span_hashes(toks, w)", 2, exprs)
        SpanHashesExpression(exprs(0), intArg(exprs(1)))
      }))

    e.injectFunction((
      new FunctionIdentifier("winnow_hashes"),
      new ExpressionInfo(classOf[WinnowHashesExpression].getName, "winnow_hashes"),
      (exprs: Seq[Expression]) => {
        arity("winnow_hashes(toks, w, k)", 3, exprs)
        WinnowHashesExpression(exprs(0), intArg(exprs(1)), intArg(exprs(2)))
      }))

    e.injectFunction((
      new FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[TopKByScore].getName, "top_k"),
      (exprs: Seq[Expression]) => {
        arity("top_k(score, id, k)", 3, exprs)
        TopKByScore(exprs(0), exprs(1), intArg(exprs(2)))
      }))

    e.injectFunction((
      new FunctionIdentifier("space_saving_topk"),
      new ExpressionInfo(classOf[SpaceSavingTopK].getName, "space_saving_topk"),
      (exprs: Seq[Expression]) => {
        arity("space_saving_topk(term, capacity, k)", 3, exprs)
        SpaceSavingTopK(exprs(0), intArg(exprs(1)), intArg(exprs(2)))
      }))
  }
}
