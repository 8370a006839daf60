package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` installer for the engine's native functions
  * and optimizer rules (`spark.sql.extensions=graft.functions.GraftExtensions`).
  * A session built with it gets:
  *  - the functions `graft_dot` and `graft_centroid`;
  *  - the range-join rewrite ([[graft.plans.RangeJoinRewrite]]);
  *  - single-partition planning of small global sorts
  *    ([[graft.plans.SmallSortRewrite]], pre-CBO): an ordered read whose
  *    files total at most 32 MiB runs without a range exchange or its
  *    sampler job.
  *
  * A session without it plans sorts as Spark does.
  * [[VectorExpressions.register]] and `spark.experimental.extraOptimizations`
  * install the same pieces on one session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotF32].getName, "graft_dot"),
      (children: Seq[Expression]) => VectorExpressions.dotBuilder(children)))
    ext.injectFunction((
      new FunctionIdentifier("graft_centroid"),
      new ExpressionInfo(classOf[CentroidAggF].getName, "graft_centroid"),
      (children: Seq[Expression]) =>
        VectorExpressions.centroidBuilder(children)))
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    ext.injectPreCBORule(_ => graft.plans.SmallSortRewrite)
  }
}
