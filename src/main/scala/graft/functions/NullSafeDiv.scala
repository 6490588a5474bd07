package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `null_safe_div(a, b)` — double division that yields NULL instead of
  * Infinity/NaN when the divisor is 0 (SURVEY.md §2 J5).
  *
  * A native Catalyst expression rather than a Scala UDF so it
  * participates in whole-stage codegen: no boxing, no closure call,
  * stays inside the fused pipeline. The null-when-zero semantics need
  * a custom doGenCode (BinaryExpression's nullSafeCodeGen can only
  * null-out on null inputs, not on a value predicate).
  */
case class NullSafeDiv(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "null_safe_div"

  override def eval(input: InternalRow): Any = {
    val r = right.eval(input)
    if (r == null) return null
    val rv = r.asInstanceOf[Double]
    if (rv == 0.0) return null
    val l = left.eval(input)
    if (l == null) return null
    l.asInstanceOf[Double] / rv
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${l.code}
        ${r.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${l.isNull} && !${r.isNull} && ${r.value} != 0.0) {
          ${ev.isNull} = false;
          ${ev.value} = ${l.value} / ${r.value};
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session registration for graft's custom SQL functions. */
object GraftFunctions {

  /** Every graft SQL function as (name, implementing class, builder) —
    * the one table both [[register]] and [[graft.GraftExtensions]] read.
    * Inputs of null_safe_div are coerced with an explicit double Cast
    * (ImplicitCast machinery is private[sql]); a no-op for
    * already-double columns.
    *
    * bloom_agg / bloom_might_contain are Spark's OWN bloom-filter pair
    * (the machinery behind runtime row-level join filtering), shipped
    * in catalyst but not exposed in the public FunctionRegistry —
    * registered here so a query can build an explicit membership
    * sketch as ONE aggregate row and prescreen a scan map-side before
    * an exact join (the text_decontaminate_bloom pattern). The analyzer
    * wraps the AggregateFunction and validates the might_contain input
    * forms (constant or scalar subquery) exactly as for built-ins.
    */
  private[graft] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    Seq(
      ("null_safe_div", classOf[NullSafeDiv],
        e => NullSafeDiv(Cast(e(0), DoubleType), Cast(e(1), DoubleType))),
      ("array_dot", classOf[ArrayFloatDot], e => ArrayFloatDot(e(0), e(1))),
      ("simhash64", classOf[SimHash64], e => SimHash64(e.head)),
      ("char_entropy", classOf[CharEntropy], e => CharEntropy(e.head)),
      ("bloom_agg", classOf[BloomFilterAggregate],
        e => new BloomFilterAggregate(e(0), e(1), e(2))),
      ("bloom_might_contain", classOf[BloomFilterMightContain],
        e => BloomFilterMightContain(e(0), e(1))))
  }

  /** Register every function on `spark`; a no-op when the session
    * already has them all, so the per-query calls do not each log six
    * "replaced a previously registered function" warnings.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!functions.forall(f => reg.functionExists(FunctionIdentifier(f._1))))
      functions.foreach { case (name, _, build) =>
        reg.createOrReplaceTempFunction(name, build, "built-in")
      }
  }
}
