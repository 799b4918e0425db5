package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for sorted_intersect_count, the Jaccard-verify hot loop,
  * and the sorted-output contract of the shingle hash expressions it
  * depends on. */
class SortedIntersectSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("matches size(array_intersect) on random sorted-distinct arrays") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(42)
    def arr(): Array[Long] =
      Array.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong)
        .distinct.sorted
    val rows = Seq.tabulate(500)(i => (i, arr(), arr())) :+
      ((500, Array.empty[Long], arr())) :+
      ((501, arr(), Array.empty[Long]))
    val df = rows.toDF("id", "a", "b")
      .withColumn("fast", expr("sorted_intersect_count(a, b)"))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("lane_matches equals the HOF zip_with count it replaces") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(300) { i =>
      (i, Array.fill(128)(rnd.nextInt(4).toLong),
        Array.fill(128)(rnd.nextInt(4).toLong))
    }
    val df = rows.toDF("id", "a", "b")
      .withColumn("fast", expr("lane_matches(a, b)"))
      .withColumn("ref", expr(
        "aggregate(zip_with(a, b, (x, y) -> if(x = y, 1, 0)), 0, (a, b) -> a + b)"))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("interpreted and codegen paths agree") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Array(1L, 3L, 5L, 9L), Array(3L, 4L, 5L, 10L)))
      .toDF("a", "b")
    // NO_CODEGEN forces the interpreted UnsafeProjection, so this
    // branch reaches nullSafeEval — disabling whole-stage codegen
    // alone still runs generated projections (round-9 advice)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false") {
      withSQLConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        assert(df.select(expr("sorted_intersect_count(a, b)"))
          .head.getInt(0) == 2)
      }
    }
    assert(df.select(expr("sorted_intersect_count(a, b)"))
      .head.getInt(0) == 2)
  }

  test("nullSafeEval direct: the true interpreted path, no projection") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lit(xs: Long*) = Literal.create(
      ArrayData.toArrayData(xs.toArray), ArrayType(LongType, false))
    val e = graft.functions.expressions.SortedIntersectCount(
      lit(1L, 3L, 5L, 9L), lit(3L, 4L, 5L, 10L))
    assert(e.eval(InternalRow.empty) == 2)
    assert(graft.functions.expressions.SortedIntersectCount(
      lit(), lit(1L, 2L)).eval(InternalRow.empty) == 0)
  }

  test("opt-in order check: unsorted input throws instead of " +
      "silently undercounting (codegen and interpreted)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Array(5L, 1L, 3L), Array(1L, 3L, 5L))).toDF("a", "b")
    // default: contract violated, silent undercount (documented)
    assert(df.select(expr("sorted_intersect_count(a, b)"))
      .head.getInt(0) < 2)
    withSQLConf("spark.graft.sortedIntersect.check" -> "true") {
      def violates(t: Throwable): Boolean = t != null && (
        (t.isInstanceOf[IllegalArgumentException] &&
          t.getMessage.contains("not strictly increasing")) ||
        violates(t.getCause))
      val viaCodegen = intercept[Exception] {
        df.select(expr("sorted_intersect_count(a, b)")).head
      }
      assert(violates(viaCodegen), s"unexpected: $viaCodegen")
      withSQLConf("spark.sql.codegen.wholeStage" -> "false") {
        withSQLConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
          val viaEval = intercept[Exception] {
            df.select(expr("sorted_intersect_count(a, b)")).head
          }
          assert(violates(viaEval), s"unexpected: $viaEval")
        }
      }
      // sorted input still fine with the check on
      assert(Seq((Array(1L, 3L), Array(3L, 9L))).toDF("a", "b")
        .select(expr("sorted_intersect_count(a, b)")).head.getInt(0) == 1)
    }
  }

  test("a malformed order-check value fails naming the key instead of " +
      "leaving the check off") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Array(1L, 3L), Array(3L, 9L))).toDF("a", "b")
    withSQLConf("spark.graft.sortedIntersect.check" -> "yes") {
      val err = intercept[Exception] {
        df.select(expr("sorted_intersect_count(a, b)")).head
      }
      def names(t: Throwable): Boolean = t != null && (
        Option(t.getMessage).exists(m =>
          m.contains("spark.graft.sortedIntersect.check") &&
            m.contains("yes")) || names(t.getCause))
      assert(names(err), s"unexpected: $err")
    }
    withSQLConf("spark.graft.sortedIntersect.check" -> "TRUE") {
      assert(graft.functions.expressions.SortedIntersectCount.checkEnabled())
    }
  }

  private def withSQLConf(kv: (String, String))(f: => Unit): Unit = {
    val prev = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try f finally prev match {
      case Some(v) => spark.conf.set(kv._1, v)
      case None => spark.conf.unset(kv._1)
    }
  }

  test("md5_shingle60 and shingle_hash64 emit strictly increasing arrays") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val texts = Seq.tabulate(50)(i =>
      s"the quick brown fox $i jumps over the lazy dog $i again and again")
    val df = texts.toDF("text")
      .withColumn("m", expr("md5_shingle60(text)"))
      .withColumn("s", expr("shingle_hash64(text)"))
    val bad = df.filter(
      expr("exists(sequence(1, size(m) - 1), i -> m[i] <= m[i-1])") ||
      expr("exists(sequence(1, size(s) - 1), i -> s[i] <= s[i-1])"))
    assert(bad.count() == 0)
  }

  test("verify semantics unchanged: jaccard via fast count equals HOF form") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different content with no overlap at all"),
      (4L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
      .withColumn("sh", expr("md5_shingle60(text)"))
    val pairs = docs.alias("a").crossJoin(docs.alias("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.sh").as("sa"), col("b.sh").as("sb"))
      .withColumn("fast",
        expr("sorted_intersect_count(sa, sb)").cast("double") /
          (size(col("sa")) + size(col("sb")) -
            expr("sorted_intersect_count(sa, sb)")).cast("double"))
      .withColumn("ref",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          (size(col("sa")) + size(col("sb")) -
            size(array_intersect(col("sa"), col("sb")))).cast("double"))
    assert(pairs.filter(col("fast") =!= col("ref")).count() == 0)
    // the planted identical pair reads jaccard 1.0
    assert(pairs.filter(col("da") === 1 && col("db") === 4)
      .head.getAs[Double]("fast") == 1.0)
  }
}
