package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Intersection SIZE of two sorted-distinct long arrays — the Jaccard
  * verify hot loop (SURVEY §2.10; reference near-dup verification
  * semantics, dicomDB query layer).
  *
  * Rationale: `size(array_intersect(a, b))` builds a hash set and
  * MATERIALIZES the intersection array per row-pair, only for `size`
  * to throw it away — measured ~7.7 µs per pair on ~300-element
  * shingle sets, which is the dominant cost of every LSH verify join
  * once candidates number in the millions (the round-9 sf1 probe:
  * d8's verify at 1.7 M candidate pairs). This expression is the
  * allocation-free two-pointer merge over the unsafe array data: one
  * fused primitive loop inside whole-stage codegen, no set, no output
  * array, no boxing.
  *
  * CONTRACT: both inputs must be strictly increasing (sorted,
  * distinct) — [[Md5Shingle60]] and [[ShingleHash64]] emit exactly
  * that; anything else needs `sort_array` (+ `array_distinct` if
  * duplicates are possible) first. On unsorted input the merge
  * silently undercounts, so the contract is pinned three ways: by
  * spec against `size(array_intersect(...))` on random sorted inputs,
  * in the DESCRIBE FUNCTION usage string (the SQL user's view), and
  * by an OPT-IN runtime order check — set
  * `spark.graft.sortedIntersect.check=true` (SQL conf, read at plan
  * time) and any non-increasing input throws instead of undercounting.
  * The check adds a branch per element, so it stays off in the verify
  * hot loop by default. Array elements must be non-null.
  */
@ExpressionDescription(
  usage = """_FUNC_(a, b) - |a ∩ b| for two bigint arrays that MUST each
    be strictly increasing (sorted, distinct; e.g. the output of
    sort_array(array_distinct(...))). On input violating that contract
    the two-pointer merge silently undercounts — set
    spark.graft.sortedIntersect.check=true to make violations throw.""")
case class SortedIntersectCount(left: Expression, right: Expression,
    checkSorted: Boolean = SortedIntersectCount.checkEnabled())
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (checkSorted) { assertSorted(xs, "left"); assertSorted(ys, "right") }
    val (n, m) = (xs.numElements(), ys.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val x = xs.getLong(i); val y = ys.getLong(j)
      if (x < y) i += 1
      else if (y < x) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  private def assertSorted(xs: ArrayData, side: String): Unit = {
    var i = 1
    while (i < xs.numElements()) {
      if (xs.getLong(i) <= xs.getLong(i - 1))
        throw SortedIntersectCount.contractViolation(side, i)
      i += 1
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val cls = classOf[SortedIntersectCount].getName
      // opt-in debug check, resolved at codegen time (driver): the hot
      // loop pays nothing unless the conf was on when the plan compiled
      val check =
        if (!checkSorted) ""
        else {
          val k = ctx.freshName("k")
          s"""
             |for (int $k = 1; $k < $n; $k++)
             |  if ($a.getLong($k) <= $a.getLong($k - 1))
             |    throw $cls.contractViolation("left", $k);
             |for (int $k = 1; $k < $m; $k++)
             |  if ($b.getLong($k) <= $b.getLong($k - 1))
             |    throw $cls.contractViolation("right", $k);
           """.stripMargin
        }
      s"""
         |int $n = $a.numElements(), $m = $b.numElements();
         |$check
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $n && $j < $m) {
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x < $y) { $i++; }
         |  else if ($y < $x) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** SQL conf snapshot used as the constructor default. Resolved at
    * CONSTRUCTION (driver, analysis time) but carried as a case-class
    * constructor parameter, so it participates in equality/
    * canonicalization — an instance built with the check on can never
    * be unified by plan/expression caching with one built while it was
    * off, and the value serializes to executors with the expression.
    * A value other than true/false (any case) fails, naming the key,
    * rather than silently leaving the check off. */
  def checkEnabled(): Boolean = {
    val key = "spark.graft.sortedIntersect.check"
    val raw = org.apache.spark.sql.internal.SQLConf.get
      .getConfString(key, "false")
    raw.toBooleanOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be true or false, got '$raw'"))
  }

  /** Shared by the interpreted and generated check paths (generated
    * code calls it statically — keep the signature stable). */
  def contractViolation(side: String, pos: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"sorted_intersect_count: $side input is not strictly increasing " +
        s"at index $pos — the contract is sorted-distinct arrays " +
        "(sort_array(array_distinct(...)) first)")
}
