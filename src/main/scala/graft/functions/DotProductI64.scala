package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression: exact dot product of two BIGINT arrays.
  *
  * This is the codegen'd replacement for
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,v) -> acc+v)` —
  * Catalyst's higher-order functions evaluate their lambda per element
  * interpreted (an order of magnitude slower and allocation-heavy),
  * while this compiles to a tight primitive loop inside whole-stage
  * codegen. Used by the similarity operators for candidate re-ranking.
  */
case class DotProductI64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_i64"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  /** Null elements null-propagate (below), so the result is nullable
    * whenever the inputs or their elements are. */
  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable(left) || elemNullable(right)

  /** Mismatched lengths are a BUG at every call site (a dot product of
    * different-dimension vectors has no meaning) — fail loudly rather
    * than silently truncating to the shorter array. A NULL element
    * null-propagates the whole dot, matching the
    * `aggregate(zip_with(...))` formulation this expression replaces —
    * ArrayData.getLong would otherwise silently read a null slot as 0. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"dot_i64: length mismatch ($n vs ${y.numElements()})")
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val anyNull = ctx.freshName("anyNull")
      val header =
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  throw new IllegalArgumentException(
           |    "dot_i64: length mismatch (" + $n + " vs " + $b.numElements() + ")");
           |}
           |long $acc = 0L;
         """.stripMargin
      // With containsNull=false on both sides `nullable` can be false,
      // making ev.isNull the FalseLiteral — an `false = true;` assignment
      // would fail janino compilation and silently drop the whole stage
      // to interpreted execution. Emit the element-null branch only when
      // an element can actually be null. Consequence accepted: if a
      // source LIES about containsNull=false, the no-check loop reads
      // the null slot's garbage value where nullSafeEval would null-
      // propagate — the standard Spark codegen contract (built-in
      // expressions make the same assumption); metadata integrity is the
      // connector's responsibility.
      if (elemNullable(left) || elemNullable(right))
        header +
          s"""
             |boolean $anyNull = false;
             |for (int $i = 0; $i < $n; $i++) {
             |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
             |  $acc += $a.getLong($i) * $b.getLong($i);
             |}
             |if ($anyNull) {
             |  ${ev.isNull} = true;
             |} else {
             |  ${ev.value} = $acc;
             |}
           """.stripMargin
      else
        header +
          s"""
             |for (int $i = 0; $i < $n; $i++) {
             |  $acc += $a.getLong($i) * $b.getLong($i);
             |}
             |${ev.value} = $acc;
           """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductI64 =
    copy(left = newLeft, right = newRight)
}

object DotProductI64 {
  val info = new ExpressionInfo(classOf[DotProductI64].getName, "dot_i64")

  /** Idempotent per-session registration (works on driver-built
    * sessions that didn't pass `.withExtensions`). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("dot_i64")))
      registry.createOrReplaceTempFunction(
        "dot_i64", exprs => DotProductI64(exprs(0), exprs(1)), "scala_udf")
  }
}

/** Build-time registration for users constructing their own session:
  * `SparkSession.builder().withExtensions(new GraftExtensions)...`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("dot_i64"),
      DotProductI64.info,
      (exprs: Seq[Expression]) => DotProductI64(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("intersect_size_sorted"),
      IntersectSizeSorted.info,
      (exprs: Seq[Expression]) => IntersectSizeSorted(exprs(0), exprs(1))))
    // manifest-driven file skipping over registered z layouts
    e.injectOptimizerRule(s => new graft.sources.ZPruneRule(s))
    // materialized-view rewrite over registered fresh views
    e.injectOptimizerRule(s => new graft.plans.MvRewriteRule(s))
  }
}
