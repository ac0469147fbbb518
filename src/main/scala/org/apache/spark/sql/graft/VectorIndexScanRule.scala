package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, IntegralType, LongType}

/** The reference's one genuinely custom optimizer rule, Spark-first:
  * `OptimizeAsVectorIndexScan` (reference src/optimizer/
  * vector_index_scan.cpp:29-149) rewrites TopN whose single ORDER BY
  * key is a vector distance against a constant into a VectorIndexScan.
  *
  * Catalyst formulation: match
  *   GlobalLimit(k, LocalLimit(k, Sort(dist(col, lit) ASC, ...)))
  * over a bare scan of a table with a registered vector index
  * (graft.index.VectorIndexes), ask the index for the row ids the query
  * must rank (`Model.candidateIds`: the probed IVFFlat lists, or the
  * HNSW walk's top-k), and filter the table to them with one
  * [[KnnIdFilter]] on its id column, leaving the original Sort+Limit in
  * place to rank the candidates with exact distances (over a cached
  * table, [[VectorTopKStrategy]] plans that ranking as one operator,
  * the filter included). The filter goes
  * over the Sort's child when that projects the id column, else
  * directly on the table's leaf (engine tables hide `__rid` in their
  * view's Project); with neither, the rule does not rewrite. The
  * operator's output attributes and distance-ascending order are kept,
  * the query stays one scan of the table, and the rule plans no query
  * of its own.
  *
  * Selection honors the `graft.vector_index_method` session conf
  * exactly like the reference's `vector_index_method` session variable
  * (optimizer.cpp:26, vector_index_scan.cpp:42-62), including the
  * unset-method "wrong distance fn still matches" quirk.
  *
  * A rewritten plan is no longer a bare scan, so the fixed-point batch
  * leaves it alone.
  */
class VectorIndexScanRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import graft.index.VectorIndexes

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other   => other
  }

  /** (column attribute, constant query vector) from either arg order —
    * the reference also accepts dist(const, col) (vector_index_scan
    * .cpp:33-40). */
  private def colAndQuery(vd: VectorDistance)
      : Option[(AttributeReference, Array[Double])] = {
    def asVec(e: Expression): Option[Array[Double]] = e match {
      case f if f.foldable && f.dataType.isInstanceOf[ArrayType] =>
        Option(f.eval()).map(_.asInstanceOf[ArrayData].toDoubleArray())
      case _ => None
    }
    (stripCast(vd.left), stripCast(vd.right)) match {
      case (a: AttributeReference, q) => asVec(q).map((a, _))
      case (q, a: AttributeReference) => asVec(q).map((a, _))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // ColumnPruning may push a Project between LocalLimit and Sort —
    // accept both shapes.
    case g @ GlobalLimit(Literal(k: Int, IntegerType),
        ll @ LocalLimit(_,
        s @ Sort(SortOrder(vd: VectorDistance, Ascending, _, _) +: restKeys,
          true, child, _))) =>
      rewrite(k, vd, restKeys, child) match {
        case Some(newChild) =>
          g.copy(child = ll.copy(child = s.copy(child = newChild)))
        case None => g
      }
    case g @ GlobalLimit(Literal(k: Int, IntegerType),
        ll @ LocalLimit(_,
        p @ Project(_,
        s @ Sort(SortOrder(vd: VectorDistance, Ascending, _, _) +: restKeys,
          true, child, _)))) =>
      rewrite(k, vd, restKeys, child) match {
        case Some(newChild) =>
          g.copy(child = ll.copy(child =
            p.copy(child = s.copy(child = newChild))))
        case None => g
      }
  }

  /** The reference rule only matches TopN over a bare SeqScan or
    * Projection (vector_index_scan.cpp:102-129); anything that changes
    * the row SET between the Sort and the leaf (Filter, Join,
    * Aggregate, ...) makes "rank the index's candidates" wrong — a
    * WHERE-filtered KNN must keep scanning, because the true k nearest
    * qualifying rows need not be among the index's candidates.
    * Row-preserving wrappers (Project, SubqueryAlias) are safe. */
  private def isBareScan(plan: LogicalPlan): Boolean = plan match {
    case p: Project        => isBareScan(p.child)
    case a: SubqueryAlias  => isBareScan(a.child)
    case _: LeafNode       => true
    case _                 => false
  }

  /** `plan`'s id column as a long, if it has one of an integral type. */
  private def idOf(plan: LogicalPlan, idCol: String): Option[Expression] =
    plan.output.find(_.name == idCol).collect {
      case a if a.dataType == LongType                => a
      case a if a.dataType.isInstanceOf[IntegralType] => Cast(a, LongType)
    }

  private def rewrite(k: Int, vd: VectorDistance,
      restKeys: Seq[SortOrder], child: LogicalPlan): Option[LogicalPlan] = {
    if (!isBareScan(child)) return None
    val leaves = child.collectLeaves()
    if (leaves.length != 1) return None
    val leaf = leaves.head
    val method =
      spark.conf.getOption("graft.vector_index_method").getOrElse("")
    for {
      (attr, qvec) <- colAndQuery(vd)
      meta <- VectorIndexes.selectByLeaf(leaf.canonicalized,
        attr.name, vd.metric, method)
      // extra sort keys must be the index id column (tie-break) or none,
      // otherwise the index's top-k tie choice may not match the query's
      if restKeys.forall(o => stripCast(o.child) match {
        case a: AttributeReference => a.name == meta.idCol
        case _ => false
      })
      (target, id) <- idOf(child, meta.idCol).map(child -> _)
        .orElse(idOf(leaf, meta.idCol).map(leaf -> _))
    } yield {
      val filter = Filter(KnnIdFilter(id,
        meta.model.candidateIds(qvec, k).sorted), target)
      if (target eq child) filter
      else child.transformUp { case l if l eq leaf => filter }
    }
  }
}

/** `id IN ids` over a sorted id array: the candidate filter the KNN
  * rewrite places on an indexed table's id column. Prints as
  * `__graft_knn_id(<id>, <n> ids)`, the marker plan-shape checks read. */
case class KnnIdFilter(child: Expression, ids: Array[Long])
    extends UnaryExpression with Predicate {

  override protected def nullSafeEval(id: Any): Any =
    java.util.Arrays.binarySearch(ids, id.asInstanceOf[Long]) >= 0

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("knnIds", ids, "long[]")
    defineCodeGen(ctx, ev, id => s"java.util.Arrays.binarySearch($ref, $id) >= 0")
  }

  override def toString: String = s"__graft_knn_id($child, ${ids.length} ids)"

  override protected def withNewChildInternal(c: Expression): KnnIdFilter =
    copy(child = c)
}

/** The bucket an IVFFlat's posting lists hold `id` in: a binary search
  * over their ascending `ids`, read at the same position of `buckets`;
  * null when the lists do not hold the id. How
  * [[graft.index.VectorIndexes.PostingLists.layout]] gives a table's
  * rows in the bucket layout. Prints as `__graft_bucket(<id>, <n> ids)`. */
case class ListedBucket(child: Expression, ids: Array[Long],
    buckets: Array[Int]) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override protected def nullSafeEval(id: Any): Any = {
    val i = java.util.Arrays.binarySearch(ids, id.asInstanceOf[Long])
    if (i >= 0) buckets(i) else null
  }

  override def toString: String = s"__graft_bucket($child, ${ids.length} ids)"

  override protected def withNewChildInternal(c: Expression): ListedBucket =
    copy(child = c)
}

/** `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  * wiring (the KNN rewrite, its top-k operator and the distance
  * functions); for an existing session use
  * `graft.index.VectorIndexes.enableRewrite(spark)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => new VectorIndexScanRule(session))
    ext.injectPlannerStrategy(_ => VectorTopKStrategy)
    ext.injectFunction(VectorDistanceApi.l2FuncDescriptor)
    ext.injectFunction(VectorDistanceApi.ipFuncDescriptor)
    ext.injectFunction(VectorDistanceApi.cosFuncDescriptor)
  }
}
