package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}

/** Optimizer rule: plan a small global sort in one partition.
  *
  * Spark plans a global `Sort` as a range exchange, and the range
  * partitioner samples its input in a job of its own before the shuffle
  * runs. On an input of a few megabytes those two jobs cost more than the
  * sort. When the files the sort's input reads total at most `maxBytes`,
  * the rule puts `Repartition(1, shuffle = false)` (a coalesce) under the
  * sort. One partition already satisfies the sort's ordered distribution,
  * so no exchange and no sampler job are planned. The rows and their
  * order are unchanged; only the partition count of the result is.
  *
  * The bytes are those of the files the scans read after partition
  * pruning, summed from each relation's file index
  * (`listFiles(partitionFilters, Nil)`, answered from memory for a listed
  * path). Spark's logical statistics are not used: they count a
  * path-based table whole, whatever partition a filter selects.
  *
  * The range exchange stays when:
  *  - a leaf's size is unknown (any leaf but a file scan over a listed
  *    index or a local relation);
  *  - the input holds an operator that can emit more rows than it reads
  *    (a join, a generator, an expand);
  *  - the sort is not reached from the plan root through deterministic
  *    `Project`/`Filter` nodes. So a sort under a `Limit` (planned as
  *    `TakeOrderedAndProject`), inside a write command (whose file count
  *    follows the sort's partitions) or under a partition-dependent
  *    expression such as `monotonically_increasing_id` is left alone;
  *  - the sort order is not deterministic, or the sort's input is an
  *    explicit repartition.
  *
  * The one task that then reads the sort's input reads at most `maxBytes`
  * of files, whatever the size of the tables. The bound is a constant,
  * not a conf (SCALING.md records how it was chosen); specs build the
  * rule with other bounds. Installed by
  * [[graft.functions.GraftExtensions]] in the optimizer's pre-CBO batch,
  * or ad hoc through `spark.experimental.extraOptimizations`.
  */
class SmallSortRewrite private[graft] (maxBytes: Long)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case p @ (_: Project | _: Filter)
        if p.expressions.forall(_.deterministic) =>
      p.withNewChildren(Seq(apply(p.children.head)))
    case s: Sort if s.global && s.order.forall(_.deterministic) &&
        !s.child.isInstanceOf[RepartitionOperation] &&
        readBytes(s.child).exists(_ <= maxBytes) =>
      s.copy(child = Repartition(1, shuffle = false, s.child))
    case other => other
  }

  /** Bytes of the files `plan` reads; None when a leaf's size is unknown
    * or an operator may multiply rows. */
  private def readBytes(plan: LogicalPlan): Option[BigInt] = plan match {
    case PhysicalOperation(_, filters, rel @ LogicalRelation(
        fs: HadoopFsRelation, _, _, _, _)) =>
      fileBytes(fs, rel, filters)
    case local: LocalRelation => Some(local.computeStats().sizeInBytes)
    case _: LeafNode | _: Join | _: Generate | _: Expand => None
    case p => p.children.foldLeft(Option(BigInt(0))) { (acc, c) =>
      for (a <- acc; b <- readBytes(c)) yield a + b }
  }

  /** The relation's files that survive partition pruning by `filters`,
    * the filters the scan's planner would use to prune. */
  private def fileBytes(fs: HadoopFsRelation, rel: LogicalRelation,
      filters: Seq[Expression]): Option[BigInt] = fs.location match {
    case index: PartitioningAwareFileIndex =>
      val keys = AttributeSet(rel.output.filter(a =>
        fs.partitionSchema.fieldNames.exists(conf.resolver(_, a.name))))
      val pruning = filters.filter(f => f.deterministic &&
        !SubqueryExpression.hasSubquery(f) && f.references.subsetOf(keys))
      Some(index.listFiles(pruning, Nil).iterator.flatMap(_.files)
        .map(f => BigInt(f.getLen)).sum)
    case _ => None
  }
}

object SmallSortRewrite extends SmallSortRewrite(32L << 20)
