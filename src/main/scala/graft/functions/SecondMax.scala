package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Native second-largest aggregate — the hot kernel of the reference's
  * `'arthur'` / `downsample_2ndmax` filters (ktx/util.py:164,
  * tiff2octree.py:237).
  *
  * A `DeclarativeAggregate` over a fixed two-slot buffer (max1, max2):
  * pure expression trees, so it runs inside HashAggregateExec with
  * whole-stage codegen and map-side partial aggregation — unlike the
  * `collect_list + sort_array` formulation it replaces, it shuffles
  * two longs per group instead of a list, allocates nothing per row,
  * and stays in the codegen'd path. At 100 TB this is the difference
  * between a pipelined aggregation and an ObjectHashAggregate with
  * per-group array sorts.
  *
  * Duplicates count separately ([5,5] → second = 5), matching the
  * sorted-subvoxel semantics of the reference; null buffer = fewer
  * than two inputs seen → result null (callers guard on count).
  */
case class SecondMax(child: Expression)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  override def prettyName: String = "graft_second_max"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_second_max requires BIGINT input, got ${child.dataType.sql}")

  private lazy val max1 = AttributeReference("max1", LongType)()
  private lazy val max2 = AttributeReference("max2", LongType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(max1, max2)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(null, LongType), Literal.create(null, LongType))

  /** Least that propagates null (unlike Catalyst's null-skipping
    * Least): "no value yet" must not masquerade as a candidate.
    */
  private def strictLeast(a: Expression, b: Expression): Expression =
    If(Or(IsNull(a), IsNull(b)), Literal.create(null, LongType), Least(Seq(a, b)))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    Greatest(Seq(max1, child)),                      // null-skipping: first value seeds max1
    Greatest(Seq(max2, strictLeast(max1, child))))   // null until a second value arrives

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Greatest(Seq(max1.left, max1.right)),
    // overall 2nd-max candidates: each side's 2nd-max, or the smaller
    // of the two side maxima (strict: an empty side contributes none)
    Greatest(Seq(max2.left, max2.right, strictLeast(max1.left, max1.right))))

  override lazy val evaluateExpression: Expression = max2

  override protected def withNewChildInternal(newChild: Expression): SecondMax =
    copy(child = newChild)
}

/** Builders of the native functions whose trailing arguments are
  * plan-time literals; [[graft.GraftExtensions.functions]] binds them.
  */
object GraftFunctions {
  /** graft_topk_min(x, K) builder (K is a plan-time literal). */
  def topkBuilder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"graft_topk_min requires exactly 2 arguments (x, K), got ${exprs.length}")
    TopKMin(exprs.head, foldInt(exprs(1), "K")).toAggregateExpression()
  }

  /** graft_pq_argmin builder: the trailing ks / mode arguments are
    * plan-time literals lifted into expression parameters.
    */
  def pqArgminBuilder(exprs: Seq[Expression]): PqArgmin =
    PqArgmin(exprs(0), exprs(1), exprs(2),
      foldInt(exprs(3), "ks"), foldInt(exprs(4), "mode"))

  /** Plan-time Int of a foldable literal argument (ks / mode of
    * graft_pq_argmin are expression parameters, not runtime columns).
    */
  private def foldInt(e: Expression, name: String): Int = {
    require(e.foldable, s"graft function argument $name must be a literal")
    e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long    => l.intValue()
      case other => throw new IllegalArgumentException(
        s"graft function argument $name must be an integer literal, got $other")
    }
  }

  /** graft_kmv_kth(hash, K) builder (K is a plan-time INT literal). */
  def kmvBuilder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"graft_kmv_kth requires exactly 2 arguments (hash, K), got ${exprs.length}")
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"graft_kmv_kth: K must be an INT literal, got $other")
    }
    KmvKthHash(exprs.head, k).toAggregateExpression()
  }
}
