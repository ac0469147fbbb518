package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** The reference's one genuinely custom optimizer rule, Spark-first:
  * `OptimizeAsVectorIndexScan` (reference src/optimizer/
  * vector_index_scan.cpp:29-149) rewrites TopN whose single ORDER BY
  * key is a vector distance against a constant into a VectorIndexScan.
  *
  * Catalyst formulation: match
  *   GlobalLimit(k, LocalLimit(k, Sort(dist(col, lit) ASC, ...)))
  * over a plan whose single leaf is a table with a registered vector
  * index (graft.index.VectorIndexes), and rewrite the Sort's child to
  *   child LEFT SEMI JOIN (index top-k ids)
  * leaving the original Sort+Limit in place. This preserves the
  * operator's output attributes exactly (no exprId surgery), keeps
  * distance-ascending output order, and the retained Sort now runs
  * over k rows — free. The index decides WHICH k rows; Catalyst keeps
  * owning how they're fetched, so filters/projections stacked on the
  * scan still push down normally — the part a hand-built physical
  * operator would lose.
  *
  * Selection honors the `graft.vector_index_method` session conf
  * exactly like the reference's `vector_index_method` session variable
  * (optimizer.cpp:26, vector_index_scan.cpp:42-62), including the
  * unset-method "wrong distance fn still matches" quirk.
  *
  * Re-entrancy guards (the index scan itself plans a TopN over the
  * same parquet leaf): skip children carrying the internal `__bucket`
  * attribute (IVFFlat's own probe scan) and require a single leaf
  * (an already-rewritten plan has two: table + id set).
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
      : Option[(AttributeReference, Seq[Double])] = {
    def asVec(e: Expression): Option[Seq[Double]] = e match {
      case f if f.foldable && f.dataType.isInstanceOf[ArrayType] =>
        Option(f.eval()).map(_.asInstanceOf[ArrayData].toDoubleArray().toSeq)
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
    * Aggregate, ...) makes "intersect with the index's GLOBAL top-k"
    * wrong — a WHERE-filtered KNN must keep scanning, because the true
    * k nearest qualifying rows need not be among the k nearest overall.
    * Row-preserving wrappers (Project, SubqueryAlias) are safe. */
  private def isBareScan(plan: LogicalPlan): Boolean = plan match {
    case p: Project        => isBareScan(p.child)
    case a: SubqueryAlias  => isBareScan(a.child)
    case _: LeafNode       => true
    case _                 => false
  }

  private def rewrite(k: Int, vd: VectorDistance,
      restKeys: Seq[SortOrder], child: LogicalPlan): Option[LogicalPlan] = {
    if (child.output.exists(a => a.name == "__bucket")) return None
    if (!isBareScan(child)) return None
    val leaves = child.collectLeaves()
    if (leaves.length != 1) return None
    val method =
      spark.conf.getOption("graft.vector_index_method").getOrElse("")
    for {
      (attr, qvec) <- colAndQuery(vd)
      meta <- VectorIndexes.selectByLeaf(leaves.head.canonicalized,
        attr.name, vd.metric, method)
      // extra sort keys must be the index id column (tie-break) or none,
      // otherwise the index's top-k tie choice may not match the query's
      if restKeys.forall(o => stripCast(o.child) match {
        case a: AttributeReference => a.name == meta.idCol
        case _ => false
      })
    } yield {
      // Build the semi-join through the DataFrame API: the IVFFlat id
      // set derives from the SAME relation as `child`, so the analyzer
      // must deduplicate the right side's attribute ids
      // (DeduplicateRelations) — hand-building the Join would leave
      // conflicting exprIds below the alias and fail physical planning.
      // Left-semi keeps the left side's output attributes, so the
      // retained Sort/Limit above still resolve.
      // `__graft_knn_id` is also the marker plan-shape tests look for.
      val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val leftDf = org.apache.spark.sql.classic.Dataset.ofRows(cs, child)
      val idsVecs = meta.model.scanIdsVecs(spark, qvec, k)
      import org.apache.spark.sql.functions.col
      // Join on the id column when the child still carries it (parquet
      // tables); otherwise semi-join on the vector VALUE itself — e.g.
      // engine-managed tables whose synthetic row id never appears in
      // projections (the reference re-adds a Projection instead,
      // vector_index_scan.cpp:129-145).
      val (idsDf, cond) =
        if (child.output.exists(_.name == meta.idCol)) {
          val ids = idsVecs.select(col("__knn_id").as("__graft_knn_id"))
          (ids, leftDf.col(meta.idCol) === ids.col("__graft_knn_id"))
        } else {
          val vecs = idsVecs.select(col("__knn_vec").as("__graft_knn_id"))
          (vecs, leftDf.col(attr.name).cast("array<double>")
            === vecs.col("__graft_knn_id"))
        }
      // Inject the OPTIMIZED subplan, not the analyzed one: this rule
      // runs after the optimizer's early batches, so an analyzed
      // fragment would smuggle in operators the physical planner
      // refuses (e.g. a Deduplicate, which only
      // ReplaceDeduplicateWithAggregate — a finish-analysis rule — can
      // remove) and alias nodes. A nested
      // optimization pass is safe here: optimizer rules are idempotent,
      // output attribute ids are preserved (the Sort/Limit retained
      // above still resolve), and re-entry of THIS rule terminates —
      // the injected fragment has no Limit+Sort(vector distance) on
      // top and index bucket tables are guarded out by `__bucket`.
      leftDf.join(idsDf, cond, "left_semi")
        .queryExecution.optimizedPlan
    }
  }
}

/** `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  * wiring; for an existing session use
  * `graft.index.VectorIndexes.enableRewrite(spark)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => new VectorIndexScanRule(session))
    ext.injectFunction(VectorDistanceApi.l2FuncDescriptor)
    ext.injectFunction(VectorDistanceApi.ipFuncDescriptor)
    ext.injectFunction(VectorDistanceApi.cosFuncDescriptor)
  }
}
