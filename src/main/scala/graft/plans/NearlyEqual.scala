package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo, Predicate}
import org.apache.spark.sql.types.DoubleType

/**
 * Native Catalyst expression for the reference's epsilon equality
 * (modules/api/app/tuktu/api/utils.scala:583-597) with full whole-stage
 * codegen — the (b)-tier custom-operator path of SURVEY.md §4.2: a scalar
 * comparison this hot belongs in generated code, not a CASE-WHEN tree.
 *
 * Registered as SQL function `nearly_equal(a, b)` via [[GraftExtensions]]
 * (`spark.sql.extensions=graft.plans.GraftExtensions`, set in
 * SparkEntry.tune). Null semantics: null-intolerant (any null input → null),
 * composed with the reference's null table at the Expr compiler layer.
 */
case class NearlyEqual(left: Expression, right: Expression)
    extends BinaryExpression with Predicate {

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NearlyEqual.compute(a.asInstanceOf[Double], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.NearlyEqual.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): NearlyEqual =
    copy(left = newLeft, right = newRight)
}

object NearlyEqual {
  final val Epsilon: Double = 1e-9

  /** Same decision procedure as the reference (utils.scala:583-597). */
  def compute(a: Double, b: Double): Boolean = {
    if (a == b) true
    else {
      val diff = math.abs(a - b)
      if (a == 0d || b == 0d || diff < java.lang.Double.MIN_NORMAL)
        diff < Epsilon * java.lang.Double.MIN_NORMAL
      else
        diff / math.min(math.abs(a) + math.abs(b), Double.MaxValue) < Epsilon
    }
  }
}

/** Session extensions: inject engine-native SQL functions. Activated via
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("nearly_equal"),
      new ExpressionInfo(classOf[NearlyEqual].getName, "nearly_equal"),
      (children: Seq[Expression]) => NearlyEqual(
        Cast(children.head, DoubleType), Cast(children(1), DoubleType))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(
        Cast(children.head, org.apache.spark.sql.types.ArrayType(DoubleType)),
        Cast(children(1), org.apache.spark.sql.types.ArrayType(DoubleType)))))
    ext.injectFunction((
      new FunctionIdentifier("vec_l2sq"),
      new ExpressionInfo(classOf[VecL2Sq].getName, "vec_l2sq"),
      (children: Seq[Expression]) => VecL2Sq(
        Cast(children.head, org.apache.spark.sql.types.ArrayType(DoubleType)),
        Cast(children(1), org.apache.spark.sql.types.ArrayType(DoubleType)))))
    ext.injectFunction((
      new FunctionIdentifier("vec_idot"),
      new ExpressionInfo(classOf[VecDotLong].getName, "vec_idot"),
      (children: Seq[Expression]) => VecDotLong(
        Cast(children.head, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
        Cast(children(1), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))))
    ext.injectFunction((
      new FunctionIdentifier("kmv_bottomk"),
      new ExpressionInfo(classOf[KmvBottomK].getName, "kmv_bottomk"),
      (children: Seq[Expression]) => {
        val k = children(1).eval() match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long => l.toInt
          case s: java.lang.Short => s.toInt
          case other => throw new IllegalArgumentException(
            s"kmv_bottomk(hash, k): k must be a foldable integer literal, got $other")
        }
        KmvBottomK(Cast(children.head, org.apache.spark.sql.types.LongType), k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("qsketch"),
      new ExpressionInfo(classOf[QuantileKll].getName, "qsketch"),
      (children: Seq[Expression]) => {
        val k = children(1).eval() match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long => l.toInt
          case s: java.lang.Short => s.toInt
          case other => throw new IllegalArgumentException(
            s"qsketch(value, k): k must be a foldable integer literal, got $other")
        }
        QuantileKll(Cast(children.head, DoubleType), k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("topk_by"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by"),
      (children: Seq[Expression]) => {
        val k = children(2).eval() match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long => l.toInt
          case s: java.lang.Short => s.toInt
          case other => throw new IllegalArgumentException(
            s"topk_by(score, id, k): k must be a foldable integer literal, got $other")
        }
        TopKByScore(Cast(children.head, DoubleType),
          Cast(children(1), org.apache.spark.sql.types.LongType), k)
      }))
    // plan-quality rule: range θ-joins → binned equality joins (gated on
    // spark.graft.rangeJoin.binWidth; see RangeBinJoinRule)
    ext.injectOptimizerRule(_ => RangeBinJoinRule)
    // small global sorts: one-partition shuffle, no range-sampling job
    ext.injectQueryStagePrepRule(_ => SmallGlobalSort)
  }
}
