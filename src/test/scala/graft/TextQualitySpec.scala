package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps

/** The native text_quality_gate expression vs the pure-SQL let-binding
  * form: bit-identical on every edge the split/bigram semantics have —
  * empty string, runs of spaces, trailing separators, exact length
  * boundaries, repetition thresholds. The DuckDB oracle then checks
  * the native form corpus-wide (t13/t16); this spec pins the two Spark
  * forms to each other so the SQL fallback can never drift. */
class TextQualitySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private val edge = docs(
    1L -> "",
    2L -> " ",
    3L -> "   ",
    4L -> "one",
    5L -> ("the " + (1 to 9).map(i => s"w$i").mkString(" ")), // 10 words
    6L -> ("the " + (1 to 8).map(i => s"w$i").mkString(" ")), // 9 words
    7L -> ("a " + (1 to 5000).map(i => s"w$i").mkString(" ")), // 5001
    8L -> ("a " + (1 to 4999).map(i => s"w$i").mkString(" ")), // 5000
    9L -> ("the " + Seq.fill(20)("spam ham").mkString(" ")), // repetitive
    10L -> ("no stopwords here just body text tokens filling space ok"),
    11L -> ("the quick brown fox jumps over the lazy dog again today"),
    12L -> ("the  double  spaced  text  with  empty  tokens  inside x"),
    13L -> ("trailing space the document body keeps going on fine "),
    14L -> ("the 'a' appears a lot a a a a a a a a a a a a a a a a"))

  test("native expression == SQL let-binding form on edge cases") {
    // the session default, then compiled only: a doGenCode that does not
    // compile must fail here, not fall back. The repartition keeps the
    // optimizer from evaluating the gate over the local rows itself
    val codegenOnly = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    Seq(Nil -> edge, codegenOnly -> edge.repartition(2)).foreach {
      case (confs, in) =>
        val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          val native = TextOps.qualityGate(in).orderBy("doc_id").collect()
          val sql = TextOps.qualityGateSql(in).orderBy("doc_id").collect()
          assert(native.toSeq == sql.toSeq, s"under $confs")
        } finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
    }
  }

  test("native expression == SQL form over the corpus, filtered too") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val native = TextOps.qualityGate(d).filter(col("keep"))
      .orderBy("doc_id").collect()
    val sql = TextOps.qualityGateSql(d).filter(col("keep"))
      .orderBy("doc_id").collect()
    assert(native.length == sql.length && native.toSeq == sql.toSeq)
  }

  test("verdict spot checks") {
    val got = TextOps.qualityGate(edge)
      .select("doc_id", "keep", "reason").orderBy("doc_id")
      .as[(Long, Boolean, String)].collect()
      .map { case (k, v, r) => k -> ((v, r)) }.toMap
    assert(got(1L) == (false, "length"))  // 1 empty token
    assert(got(5L) == (true, "ok"))       // exactly 10 words
    assert(got(6L) == (false, "length"))  // 9 words
    assert(got(7L) == (false, "length"))  // 5001 words
    assert(got(8L) == (true, "ok"))       // exactly 5000
    assert(got(9L) == (false, "repetition"))
    assert(got(10L) == (false, "language"))
    assert(got(11L) == (true, "ok"))
    assert(got(14L) == (false, "repetition")) // "a a" bigram repeats
  }
}
