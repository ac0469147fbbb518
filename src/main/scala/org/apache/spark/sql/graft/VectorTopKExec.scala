package org.apache.spark.sql.graft

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.collection.Utils

/** Plans a KNN statement over a cached table as one [[VectorTopKExec]]
  * (the reference's VectorIndexScanExecutor answers the same statement
  * with its own executor). It fires only at the plan root, on
  *   Limit(k, [Project,] Sort(dist(col, <constant vector>) ..., child))
  * where `child` is Project/Filter layers over an InMemoryRelation and
  * every filter is deterministic and subquery-free; the Sort may carry
  * further keys (the id tie-break). Any other plan is left to Spark's
  * TakeOrderedAndProject, so parquet and batch plans are unchanged. */
object VectorTopKStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Limit(IntegerLiteral(k), Sort(order, true, child, _))) =>
      topK(k, order, None, child).toSeq
    case ReturnAnswer(Limit(IntegerLiteral(k),
        Project(projectList, Sort(order, true, child, _)))) =>
      topK(k, order, Some(projectList), child).toSeq
    case _ => Nil
  }

  private def againstConstant(key: Expression): Boolean = key match {
    case vd: VectorDistance => vd.children.exists(_.foldable)
    case _ => false
  }

  private def plain(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)

  private def topK(k: Int, order: Seq[SortOrder],
      top: Option[Seq[NamedExpression]], child: LogicalPlan): Option[SparkPlan] =
    child match {
      case PhysicalOperation(sortInput, filters, mem: InMemoryRelation)
          if k < SQLConf.get.topKSortFallbackThreshold &&
            order.headOption.exists(o => againstConstant(o.child)) &&
            (sortInput ++ filters ++ order ++ top.getOrElse(Nil)).forall(plain) =>
        // the columns the projection and the filters read, as Spark's
        // InMemoryScans plans them; the filters also prune cached batches
        val attrs = AttributeSet(sortInput ++ filters).toSeq
        Some(VectorTopKExec(k, order, sortInput, filters.reduceOption(And),
          top.getOrElse(sortInput.map(_.toAttribute)),
          InMemoryTableScanExec(attrs, filters, mem)))
      case _ => None
    }
}

/** `ORDER BY <keys> LIMIT k` over one cached-table scan, answered with
  * one job: each task filters and projects its partition's rows
  * (`condition`, `sortInput`) and keeps the k first under the Sort's
  * ordering; the driver merges the P×k survivors in partition order,
  * sorts them with the same ordering, keeps k and applies
  * `projectList`. For one task-arrival order this is the answer of
  * Spark's TakeOrderedAndProject over the same rows. The operator has
  * no whole-stage-codegen stage and runs its tasks through a
  * [[VectorTopKTask]], so a statement cleans no closure. */
case class VectorTopKExec(limit: Int, sortOrder: Seq[SortOrder],
    sortInput: Seq[NamedExpression], condition: Option[Expression],
    projectList: Seq[NamedExpression], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  // the sort keys and projectList read the per-task projection's output
  override def producedAttributes: AttributeSet =
    AttributeSet(sortInput.map(_.toAttribute))

  private def task = new VectorTopKTask(limit, sortOrder, sortInput,
    condition, projectList, child.output)

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val t = task
    val rows = child.execute()
    val parts = new Array[Array[InternalRow]](rows.getNumPartitions)
    sparkContext.runJob(rows, t, parts.indices,
      (i: Int, top: Array[InternalRow]) => parts(i) = top)
    t.merge(parts.iterator.flatMap(_.iterator))
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val t = task
    child.execute()
      .mapPartitionsWithIndexInternal((i, rows) => t.topK(i, rows).iterator)
      .coalesce(1)
      .mapPartitionsInternal(rows => t.merge(rows).iterator)
  }

  override def simpleString(maxFields: Int): String = {
    val keys = truncatedString(sortOrder, "[", ",", "]", maxFields)
    val out = truncatedString(output, "[", ",", "]", maxFields)
    s"VectorTopK(limit=$limit, orderBy=$keys, output=$out)"
  }

  override protected def withNewChildInternal(c: SparkPlan): VectorTopKExec =
    copy(child = c)
}

/** The work of one [[VectorTopKExec]] task and of its driver-side merge.
  * A top-level class rather than a closure: the job's function needs no
  * closure cleaning. Predicate and projections are generated where they
  * run (the code generator caches them per JVM). Each projected row leads
  * with its sort key values, computed once, and rows are ordered on those
  * columns alone. */
final class VectorTopKTask(limit: Int, sortOrder: Seq[SortOrder],
    sortInput: Seq[NamedExpression], condition: Option[Expression],
    projectList: Seq[NamedExpression], scanOutput: Seq[Attribute])
    extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow])
    with Serializable with AliasHelper {

  // the Sort's keys, read from the scan as sortInput's aliases define them
  private val keys = sortOrder.zipWithIndex.map { case (o, i) =>
    Alias(trimAliases(replaceAlias(o.child, getAliasMap(sortInput))), s"key$i")() }
  private val row = keys.map(_.toAttribute) ++ sortInput.map(_.toAttribute)
  // Spark's ordering for these keys (nulls placed as Sort places them,
  // doubles compared by SQLOrderingUtil.compareDoubles) over the key
  // columns' ordinals; interpreted, so a task generates no class for it
  private val ordering = new InterpretedOrdering(sortOrder.zip(keys).map {
    case (o, k) => SortOrder(k.toAttribute, o.direction, o.nullOrdering, Nil) }, row)

  override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
    topK(ctx.partitionId(), rows)

  /** The first `limit` of one partition's filtered, projected rows. */
  def topK(partition: Int, rows: Iterator[InternalRow]): Array[InternalRow] = {
    val kept = condition.fold(rows) { c =>
      val p = Predicate.create(c, scanOutput)
      p.initialize(partition)
      rows.filter(p.eval)
    }
    val proj = UnsafeProjection.create(keys ++ sortInput, scanOutput)
    proj.initialize(partition)
    Utils.takeOrdered(kept.map[InternalRow](proj(_).copy()), limit)(ordering)
      .toArray
  }

  /** The first `limit` of the partitions' survivors, given in partition
    * order (a stable sort keeps that order among ties), with `projectList`
    * projected from their sortInput part. */
  def merge(survivors: Iterator[InternalRow]): Array[InternalRow] = {
    val proj = UnsafeProjection.create(projectList, row)
    proj.initialize(0)
    survivors.toArray.sorted(ordering).iterator.take(limit)
      .map(r => proj(r).copy()).toArray
  }
}
