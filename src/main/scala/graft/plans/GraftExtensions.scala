package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** `--conf spark.sql.extensions=graft.plans.GraftExtensions` entry point:
  * the deletion-vector and metadata-count rules, the MV rewrite, the
  * as-of strategy, the DML and maintenance-SQL intercepts, and the
  * engine's native SQL functions (so the SQL text path can call
  * `vector_dot(a, b)`). Hidden hour(ts) pruning needs no rule: the
  * graft-lake source derives it at its scan builder. One AQE query-stage
  * preparation rule, [[CoalesceSmallSort]], runs a global sort whose
  * input fits AQE's one-partition coalescing size in a single task
  * (no range-partitioner sampling job, no range shuffle).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => ApplyDeletionVectors)
    e.injectOptimizerRule(_ => MetadataOnlyCount)
    e.injectOptimizerRule(_ => MaterializedViewRewrite)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectQueryStagePrepRule(_ => CoalesceSmallSort)
    // SQL UPDATE / upsert-shaped MERGE INTO on graft-lake tables →
    // stats-pruned copy-on-write commands (resolution-time, before
    // Spark's row-level rewrite rejects the table)
    e.injectResolutionRule(s => GraftDmlRewrite(s))
    // lake maintenance SQL (OPTIMIZE / VACUUM / DESCRIBE HISTORY) —
    // full-match intercepts only; everything else reaches Spark's parser
    e.injectParser((s, p) => GraftSqlParser(s, p))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("vector_dot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.VectorDot].getName, "vector_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.VectorDot(children(0), children(1))))
  }
}
