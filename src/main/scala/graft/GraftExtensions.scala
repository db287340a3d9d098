package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProduct, FreqSketch, TopKByScore}

/** Session extensions for the engine — the supported plug-in point for
  * custom Catalyst surfaces (`spark.sql.extensions=graft.GraftExtensions`
  * in any user config, or `.withExtensions(new GraftExtensions)` at
  * session build). Registers the codegen [[graft.functions.DotProduct]]
  * as the SQL function `graft_dot(array<double>, array<double>)`, so
  * pure-SQL users (spark.sql, JDBC, SQL files) get the same fused
  * no-allocation loop the DataFrame facade uses — cosine in SQL becomes
  * `graft_dot(a,b) / (sqrt(graft_dot(a,a)) * sqrt(graft_dot(b,b)))`.
  * Also registers the AQE rule [[SmallSort]], which sorts a small,
  * measured result on one partition instead of range-partitioning it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_dot takes 2 arguments, got ${children.length}")
        DotProduct(children.head, children(1))
      }))
    // graft_topk(score, id, k): partial-aggregating bounded top-k —
    // the analyzer wraps the returned AggregateFunction in a Complete
    // AggregateExpression, exactly like built-in aggregates resolve.
    ext.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKByScore].getCanonicalName, "graft_topk"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"graft_topk takes 3 arguments (score, id, k), got ${children.length}")
        val k = children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_topk: k must be an integer literal, got $other")
        }
        TopKByScore(children.head, children(1), k)
      }))
    // graft_freq(term, m): Misra–Gries heavy-hitter sketch — bounded
    // m-counter summaries merge associatively (mergeable-summaries
    // bound), so the vocabulary never materializes on one node.
    ext.injectFunction((
      new FunctionIdentifier("graft_freq"),
      new ExpressionInfo(classOf[FreqSketch].getCanonicalName, "graft_freq"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"graft_freq takes 2 arguments (term, m), got ${children.length}")
        val m = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_freq: m must be an integer literal, got $other")
        }
        FreqSketch(children.head, m)
      }))
    // DuckDB-dialect compat pack (functions.DuckDbCompat): name shims
    // over Spark's own expressions with identical semantics, so the
    // SAME oracle SQL text runs on DuckDB, spark.sql, and the DataFrame
    // path — and DuckDB migrations parse unchanged. None of these names
    // exists as a Spark builtin (no shadowing).
    for ((name, builder) <- graft.functions.DuckDbCompat.functions)
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(graft.functions.DuckDbCompat.getClass.getCanonicalName,
                           name),
        builder))
    ext.injectQueryStagePrepRule(SmallSort)
  }
}
