package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: |A ∩ B| of two SORTED arrays (both
  * `array<string>` or both `array<bigint>`) by linear merge — the
  * codegen'd replacement for `size(array_intersect(a, b))` on the
  * dedup verify tiers. The long variant (built r14, WIRED r15) serves
  * the hash-encoded gram sets: every packed-array verify site
  * (allpairs ×2, containment dropped-sets ×2) now packs `xxhash64`
  * gram ids via `Dedup.gramId` — see its collision contract — because
  * the all-pairs verify ships two doc-length arrays per candidate
  * pair, and 8-byte ids cut that wire/spill volume ~4× against
  * ~32-byte 3-word gram strings — the difference between a
  * 500k-distinct-doc verify fitting local disk and exhausting it
  * (r14 distinct-fixture canary).
  *
  * `array_intersect` builds a hash set of one side and MATERIALIZES the
  * intersection array per row, only for `size` to read its length and
  * throw it away; on the all-pairs verify (millions of candidate pairs
  * × doc-length arrays) that allocation was the dominant CPU (r11 sf1
  * stage probe: 419 s of task time in the one verify stage). This
  * expression is a tight two-pointer compare loop inside whole-stage
  * codegen — zero allocation, early exit at either end.
  *
  * PRECONDITIONS (the call sites own them, DedupSpec pins the
  * differential vs `size(array_intersect)`):
  *   - both arrays sorted ascending under the SAME ordering —
  *     `sort_array` on both sides (UTF8String binary order);
  *   - each array duplicate-free (a set, the per-doc DISTINCT-shingle
  *     contract). Equal runs would be counted min(multiplicity) here
  *     vs 1 by array_intersect — sets make the two agree.
  */
case class IntersectSizeSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_size_sorted"

  override def checkInputDataTypes(): TypeCheckResult = {
    def elem(e: Expression) = e.dataType match {
      case ArrayType(t, _) => Some(t)
      case _ => None
    }
    (elem(left), elem(right)) match {
      case (Some(StringType), Some(StringType)) => TypeCheckResult.TypeCheckSuccess
      case (Some(LongType), Some(LongType)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<string>) or " +
          s"(array<bigint>, array<bigint>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }

  /** Both-sides element type is pinned by checkInputDataTypes; the
    * merge loop dispatches on it once per expression instance (lazy
    * val, r15 ADVICE — a def here re-matched dataType per ROW on the
    * interpreted/fallback path, contradicting this very comment;
    * codegen always baked the branch in at compile time either way). */
  private lazy val longElems: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  private def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable(left) || elemNullable(right)

  /** A NULL element null-propagates, POSITION-INDEPENDENTLY: a pre-scan
    * (emitted only when the array type says elements CAN be null — the
    * dedup paths build with sort_array(collect_list(...)), whose
    * containsNull=false skips it entirely) nulls the result whenever
    * either array holds a null member, wherever it sits. The merge loop
    * alone would only notice a null it reaches before either side is
    * exhausted (['a'] vs ['a', null] slipping through as 1 while
    * ['a'] vs [null, 'a'] nulls) — inconsistent for SQL users of the
    * session-registered function. Sets have no null members on the
    * in-repo paths; for anyone else the contract is now simply
    * "any null element ⇒ NULL" (the [[DotProductI64]] stance). */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    if (elemNullable(left) || elemNullable(right)) {
      var k = 0
      while (k < na) { if (x.isNullAt(k)) return null; k += 1 }
      k = 0
      while (k < nb) { if (y.isNullAt(k)) return null; k += 1 }
    }
    var c = 0L
    var i = 0
    var j = 0
    if (longElems) {
      while (i < na && j < nb) {
        val cmp = java.lang.Long.compare(x.getLong(i), y.getLong(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    } else {
      while (i < na && j < nb) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val acc = ctx.freshName("acc")
      val cmp = ctx.freshName("cmp")
      val anyNull = ctx.freshName("anyNull")
      val cmpExpr =
        if (longElems) s"java.lang.Long.compare($a.getLong($i), $b.getLong($j))"
        else s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
      val header =
        s"""
           |int $na = $a.numElements();
           |int $nb = $b.numElements();
           |long $acc = 0L;
           |int $i = 0; int $j = 0;
         """.stripMargin
      // same FalseLiteral hazard note as DotProductI64: emit the
      // element-null branch only when an element can actually be null.
      // Null detection is a PRE-SCAN, not a merge-loop check, so the
      // result is position-independent (see nullSafeEval scaladoc).
      if (elemNullable(left) || elemNullable(right))
        header +
          s"""
             |boolean $anyNull = false;
             |for (int k = 0; k < $na && !$anyNull; k++) {
             |  if ($a.isNullAt(k)) $anyNull = true;
             |}
             |for (int k = 0; k < $nb && !$anyNull; k++) {
             |  if ($b.isNullAt(k)) $anyNull = true;
             |}
             |if ($anyNull) {
             |  ${ev.isNull} = true;
             |} else {
             |  while ($i < $na && $j < $nb) {
             |    int $cmp = $cmpExpr;
             |    if ($cmp == 0) { $acc++; $i++; $j++; }
             |    else if ($cmp < 0) { $i++; } else { $j++; }
             |  }
             |  ${ev.value} = $acc;
             |}
           """.stripMargin
      else
        header +
          s"""
             |while ($i < $na && $j < $nb) {
             |  int $cmp = $cmpExpr;
             |  if ($cmp == 0) { $acc++; $i++; $j++; }
             |  else if ($cmp < 0) { $i++; } else { $j++; }
             |}
             |${ev.value} = $acc;
           """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSizeSorted =
    copy(left = newLeft, right = newRight)
}

object IntersectSizeSorted {
  val info = new ExpressionInfo(classOf[IntersectSizeSorted].getName,
    "intersect_size_sorted")

  /** Idempotent per-session registration (works on driver-built
    * sessions that didn't pass `.withExtensions`). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("intersect_size_sorted")))
      registry.createOrReplaceTempFunction("intersect_size_sorted",
        exprs => IntersectSizeSorted(exprs(0), exprs(1)), "scala_udf")
  }
}
