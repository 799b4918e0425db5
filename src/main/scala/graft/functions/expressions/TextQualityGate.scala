package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass native evaluator for the C4/Gopher-style quality gate
  * (TextOps.qualityGate): word count, stopword count, duplicate-bigram
  * fraction and the first-failing-rule verdict in ONE traversal of the
  * text, codegen'd. The SQL-expression form of the gate is correct and
  * pushdown-proof (let-binding), but higher-order functions are
  * CodegenFallback — interpreted per row, boxing every lambda value —
  * and `array_distinct` on a string array is quadratic-ish in the
  * worst case. Here the bigram distinct-count is an exact HashSet of
  * the joined bigram strings (tokens cannot contain the separator, so
  * joined-string equality IS pair equality — no hash-collision
  * approximation), and the whole gate is O(words) with small
  * constants.
  *
  * Semantics are BIT-IDENTICAL to the expression form (the DuckDB
  * oracle for t13/t16 is unchanged):
  *  - tokens = `split(text, ' ')` — Spark's limit -1 semantics,
  *    trailing empty tokens kept;
  *  - n_stop counts tokens equal to "the" or "a";
  *  - dup_bi_frac = (n_bi − n_bi_distinct) / n_bi over adjacent-token
  *    bigrams, 0.0 when no bigram;
  *  - reason = length | language | repetition (first failing rule),
  *    null when the doc passes; keep = reason is null.
  */
@ExpressionDescription(
  usage = "_FUNC_(text) - struct(n_words, keep, reason) of the " +
    "training-data quality gate, in one pass over the text.")
case class TextQualityGate(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"text_quality_gate expects string, got ${dt.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("keep", BooleanType, nullable = false),
    StructField("reason", StringType, nullable = true)))

  override def nullable: Boolean = true

  override def prettyName: String = "text_quality_gate"

  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TextQualityGate.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} =
         |  graft.functions.expressions.TextQualityGate.compute($c);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression)
      : TextQualityGate = copy(child = newChild)
}

object TextQualityGate {

  private val ReasonLength = UTF8String.fromString("length")
  private val ReasonLanguage = UTF8String.fromString("language")
  private val ReasonRepetition = UTF8String.fromString("repetition")

  private val Sep = UTF8String.fromString(" ")

  /** Static so generated code can call it directly (named `compute`:
    * the case class inherits `Expression.eval`, and a clashing name
    * gets no static forwarder). One pass: split with limit -1 —
    * Spark's `split(text, ' ')` contract (trailing empty tokens KEPT;
    * `''` yields one empty token) — then a single scan counting
    * stopwords and distinct adjacent bigrams. */
  def compute(text: UTF8String): InternalRow = {
    val parts = text.split(Sep, -1)
    val n = parts.length
    var nStop = 0
    var i = 0
    while (i < n) {
      val t = parts(i)
      if (t.numBytes() == 3) {
        val s = t.toString
        if (s == "the") nStop += 1
      } else if (t.numBytes() == 1 && t.toString == "a") nStop += 1
      i += 1
    }
    val nBi = if (n >= 2) n - 1 else 0
    var distinctBi = 0
    if (nBi > 0) {
      val seen = new java.util.HashSet[String](nBi * 2)
      var j = 0
      while (j < nBi) {
        // joined-with-space string: injective over pairs because
        // tokens cannot contain the separator
        if (seen.add(parts(j).toString + " " + parts(j + 1).toString))
          distinctBi += 1
        j += 1
      }
    }
    val dupFrac =
      if (nBi > 0) (nBi - distinctBi).toDouble / nBi.toDouble else 0.0
    val reason: UTF8String =
      if (n < 10 || n > 5000) ReasonLength
      else if (nStop < 1) ReasonLanguage
      else if (dupFrac > 0.2) ReasonRepetition
      else null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, reason == null, reason))
  }
}
