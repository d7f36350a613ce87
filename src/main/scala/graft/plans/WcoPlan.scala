package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The worst-case-optimal triangle join as a FIRST-CLASS Catalyst
  * operator — the (c)-tier extension path: a custom LogicalPlan node, a
  * planner strategy, and a physical exec, registered per session. This is
  * the one operator class Spark's binary-join planner genuinely cannot
  * express: any join order for the triangle query materializes the open
  * wedge set (Θ(Σ deg²) rows — the reference's whole reason to exist,
  * /root/reference/src/motif.rs), while the WCO count-propose-intersect
  * pipeline is bounded by AGM's O(|E|^{3/2}).
  *
  * The node composes with Catalyst above and below: the child is an
  * arbitrary logical plan (filters/projections on the edge table optimize
  * and prune as usual — the exec only requires two LONG columns), EXPLAIN
  * shows `TriangleEnumerate`, and everything above the node (aggregates,
  * further joins) plans normally over its (x0, x1, x2, w) output. */
final case class TriangleEnumerate(child: LogicalPlan,
                                   output: Seq[Attribute]) extends UnaryNode {
  // the outputs are MINTED here (declare them produced so the analyzer's
  // missing-input check passes) and BOTH child columns are consumed
  // (declare them referenced so column pruning keeps src AND dst — the
  // child's own subtree still prunes/pushes as usual)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): TriangleEnumerate =
    copy(child = newChild)
}

object TriangleEnumerate {
  /** Attribute identities are minted ONCE here (not in `output` itself)
    * so optimizer copies keep stable expr ids. */
  def apply(child: LogicalPlan): TriangleEnumerate =
    new TriangleEnumerate(child, Seq(
      AttributeReference("x0", LongType, nullable = false)(),
      AttributeReference("x1", LongType, nullable = false)(),
      AttributeReference("x2", LongType, nullable = false)(),
      AttributeReference("w", LongType, nullable = false)()))
}

/** Plans [[TriangleEnumerate]] into [[TriangleEnumerateExec]]; everything
  * else falls through to the built-in strategies. */
class GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TriangleEnumerate(child, out) =>
      TriangleEnumerateExec(out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical triangle enumeration: the child's (src, dst) rows feed
  * [[graft.fast.FastBatch.enumerate]] (count-propose-intersect over the
  * consolidated edge index); the result's InternalRow RDD IS this node's
  * output. The engine's gate job runs when the parent plan executes this
  * node, and the rows behave exactly as in the library-call form. */
final case class TriangleEnumerateExec(output: Seq[Attribute],
                                       child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: SparkPlan): TriangleEnumerateExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val spark = SparkSession.active
    val edgeRows = child.execute().mapPartitions(_.map { r =>
      new GenericInternalRow(Array[Any](r.getLong(0), r.getLong(1))): InternalRow
    })
    val schema = StructType(Seq(
      StructField("src", LongType, nullable = false),
      StructField("dst", LongType, nullable = false)))
    val edges = GraftSqlBridge.internalDf(spark, edgeRows, schema)
    graft.fast.FastBatch.enumerate(edges, graft.plan.Planner.triangle)
      .queryExecution.toRdd
  }
}

/** Optimizer rule: plain SQL users get the WCO plan for free. Rewrites
  * the canonical left-deep triangle self-join
  *
  *   SELECT … FROM E e0 JOIN E e1 ON e1.src = e0.src
  *                      JOIN E e2 ON e2.src = e0.dst AND e2.dst = e1.dst
  *
  * into `Project(TriangleEnumerate(E))` — eliminating the Θ(Σ deg²) open
  * wedge intermediate every binary join order materializes. Matching is
  * deliberately CONSERVATIVE (a miss costs only the rewrite, never
  * correctness): all three legs must be the SAME set-valued relation
  * (`sameResult`, and the leg must end in Distinct / a distinct-shaped
  * Aggregate — the join emits one row per binding only on set semantics,
  * which is also what makes the enumerate's consolidated Z-set equal),
  * both columns LONG, and the join conditions exactly the triangle's
  * three attribute equalities. The replacement Project re-aliases the
  * node's (x0, x1, x2) onto the ORIGINAL join output expr-ids, so
  * everything above the join is untouched. */
object TriangleJoinRewrite
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, ExprId, NamedExpression}
  import org.apache.spark.sql.catalyst.plans.Inner
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Join, Project}

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }
  private def eqPair(e: Expression): Option[Set[ExprId]] = e match {
    case EqualTo(a: AttributeReference, b: AttributeReference) =>
      Some(Set(a.exprId, b.exprId))
    case _ => None
  }
  /** Set-valued leg: emits each (src, dst) at most once. */
  private def isSetValued(p: LogicalPlan): Boolean = p match {
    case Distinct(_) => true
    case Aggregate(g, a, _, _) =>
      a.forall(_.isInstanceOf[AttributeReference]) &&
        a.map(_.asInstanceOf[AttributeReference].exprId).toSet ==
          g.collect { case ar: AttributeReference => ar.exprId }.toSet &&
        g.forall(_.isInstanceOf[AttributeReference])
    case _ => false
  }

  /** Inner join, seen through a column-pruning (attribute-only) Project —
    * the optimizer inserts one between the joins; it cannot change which
    * leg attributes the conditions reference. */
  private object InnerJoinThroughProject {
    def unapply(p: LogicalPlan): Option[(LogicalPlan, LogicalPlan, Expression)] = p match {
      case Join(l, r, Inner, Some(c), _) => Some((l, r, c))
      case Project(pl, Join(l, r, Inner, Some(c), _))
          if pl.forall(_.isInstanceOf[AttributeReference]) => Some((l, r, c))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(InnerJoinThroughProject(l0, l1, c1), l2, Inner, Some(c2), _)
        if l0.output.length == 2 && l0.output.forall(_.dataType == LongType) &&
          isSetValued(l0) && l0.sameResult(l1) && l0.sameResult(l2) => {
      val Seq(a0, b0) = l0.output
      val Seq(a1, b1) = l1.output
      val Seq(a2, b2) = l2.output
      val cs = conjuncts(c1) ++ conjuncts(c2)
      val pairs = cs.flatMap(eqPair)
      val want = Seq(
        Set(a1.exprId, a0.exprId), // e1.src = e0.src   (x0)
        Set(a2.exprId, b0.exprId), // e2.src = e0.dst   (x1)
        Set(b2.exprId, b1.exprId)) // e2.dst = e1.dst   (x2)
      if (pairs.length == cs.length && pairs.toSet == want.toSet) {
        val tri = TriangleEnumerate(l0)
        val Seq(x0, x1, x2, _) = tri.output
        val out: Seq[NamedExpression] = Seq(
          Alias(x0, a0.name)(exprId = a0.exprId),
          Alias(x1, b0.name)(exprId = b0.exprId),
          Alias(x0, a1.name)(exprId = a1.exprId),
          Alias(x2, b1.name)(exprId = b1.exprId),
          Alias(x1, a2.name)(exprId = a2.exprId),
          Alias(x2, b2.name)(exprId = b2.exprId))
        Project(out, tri)
      } else j // condition shape is not the triangle's: keep the join
    }
  }
}

/** Session-facing entry points. */
object Wco {

  /** Registers [[GraftStrategy]] on the live session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val exp = GraftSqlBridge.experimental(spark)
    if (!exp.extraStrategies.exists(_.isInstanceOf[GraftStrategy]))
      exp.extraStrategies = exp.extraStrategies :+ new GraftStrategy
  }

  /** Registers the strategy AND the SQL-rewrite rule (idempotent) — after
    * this, the canonical triangle self-join in ANY query on the session
    * plans through the WCO operator. */
  def registerSqlRewrite(spark: SparkSession): Unit = {
    register(spark)
    val exp = GraftSqlBridge.experimental(spark)
    if (!exp.extraOptimizations.contains(TriangleJoinRewrite))
      exp.extraOptimizations = exp.extraOptimizations :+ TriangleJoinRewrite
  }

  /** Triangle enumeration as a logical-plan citizen: builds the custom
    * node over the (src, dst) child — the plan-integrated twin of
    * `FastBatch.enumerate(edges, Planner.triangle)`. */
  def triangles(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    register(spark)
    val analyzed = edges.queryExecution.analyzed
    require(analyzed.output.length == 2 &&
      analyzed.output.forall(_.dataType == LongType),
      s"triangles() child must be (src: long, dst: long), got ${analyzed.output}")
    GraftSqlBridge.ofRows(spark, TriangleEnumerate(analyzed))
  }
}
