package graft

import graft.catalog.CountingLocalFs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]]: the table-info stamp and the one spread rule.
  *
  * The wide-scan audit runs every pre-compute spread site on two
  * copies of sf0.001 that differ only in layout: the testdata itself
  * (each table one single-row-group file, so every scan is 1 task) and
  * a copy whose `documents` and `embeddings` are rewritten into 8 part
  * files each, so their scans already fill the `local[8]` session. The
  * spread exchange must be planned on the first, absent on the second,
  * and the results must not depend on which layout was read. The audit
  * runs 26 dedup queries (about a minute), so it sits on the
  * [[SlowTest]] tier. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("a rewrite of the same path re-stamps: load serves the new schema") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val dir = s"countfs://${tmp("tables_stamp")}"
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    assert(Tables.load(spark, dir, "documents").columns.toSeq ==
      Seq("doc_id", "text"))
    Seq((1L, 2.0, "b")).toDF("doc_id", "score", "title")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.load(spark, dir, "documents").columns.toSeq ==
      Seq("doc_id", "score", "title"),
      "load served the schema cached for the overwritten file")
  }

  /** sf0.001 with `documents` and `embeddings` as 8-file directories;
    * every other table copied byte for byte. A fresh directory, since
    * scan-task counts are cached per stamp. */
  private lazy val wide: String = {
    val dst = tmp("tables_wide")
    Tables.names.foreach { t =>
      val name = s"$t.parquet"
      if (t == "documents" || t == "embeddings")
        spark.read.parquet(s"$sf/$name").repartition(8)
          .write.parquet(s"$dst/$name")
      else java.nio.file.Files.copy(java.nio.file.Paths.get(sf, name),
        java.nio.file.Paths.get(dst, name))
    }
    dst
  }

  /** Every node of an executed plan, through AQE wrappers, query
    * stages, reused exchanges and cached relations. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  private def corpusScan(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec => s.relation.location.rootPaths.exists(
      r => r.getName == "documents.parquet" || r.getName == "embeddings.parquet")
    case _ => false
  }

  /** REPARTITION_BY_NUM exchanges with a documents/embeddings scan
    * below them. */
  private def spreads(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan).count {
      case e: ShuffleExchangeExec => e.shuffleOrigin == REPARTITION_BY_NUM &&
        nodes(e.child).exists(corpusScan)
      case _ => false
    }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** (spread exchanges, order-insensitive rows) of one query on `dir`.
    * d2's graded frame is a checkpoint scan, so its plan is read off
    * the lazy form of the same chain. */
  private def run(name: String, dir: String): (Int, Seq[String]) = {
    spark.catalog.clearCache()
    val df = SparkEntry.queries(name)(spark, dir)
    val planned =
      if (name == "d2_minhash_lsh")
        graft.operators.DedupOps.d2Chain(spark, dir, materialize = false)
      else df
    try (spreads(planned), rows(df))
    finally spark.catalog.clearCache()
  }

  test("the wide copy's corpus scans fill the session", SlowTest) {
    Seq("documents", "embeddings").foreach { t =>
      assert(Tables.load(spark, wide, t).rdd.getNumPartitions >=
        spark.sparkContext.defaultParallelism, s"$t scan is still narrow")
    }
  }

  /** Shuffle exchanges in a query's planned, not yet executed, tree —
    * the count `graft.PlanDump` shows. */
  private def shuffles(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])

  // At sf0.001 every spread lands in ONE partition, which satisfies
  // every downstream distribution, so the sf0.001 plan pins never see
  // the band and pair exchanges d3 and d5 plan at any width > 1; the
  // wide copy's 8-task scans do.
  Seq("d3_simhash_hamming" -> 3, "d5_embedding_neardup" -> 4).foreach {
    case (name, n) =>
      test(s"$name plans its band and pair exchanges on the wide copy " +
          s"($n shuffles)", SlowTest) {
        spark.catalog.clearCache()
        val got =
          try shuffles(SparkEntry.queries(name)(spark, wide))
          finally spark.catalog.clearCache()
        assert(got == n, s"$name plans $got shuffles on the wide copy, " +
          s"pinned $n")
      }
  }

  Seq("d2_minhash_lsh", "d3_simhash_hamming", "d4_ngram_jaccard",
    "d5_embedding_neardup", "d7_decontaminate", "d8_incremental_dedup",
    "d9_semantic_dedup", "d11_minhash_estimate", "d13_substring_spans",
    "d14_cdc_chunks", "d15_lsh_recall", "m3_chunk_features",
    "m4_chunk_quantize").foreach { name =>
    test(s"$name spreads a narrow scan only, with equal results",
        SlowTest) {
      val (narrowSpreads, narrowRows) = run(name, sf)
      val (wideSpreads, wideRows) = run(name, wide)
      assert(narrowSpreads > 0, s"$name lost its spread on a 1-task scan")
      assert(wideSpreads == 0,
        s"$name spreads a scan that already fills the cores")
      assert(narrowRows.nonEmpty && wideRows == narrowRows,
        s"$name reads differently from the 8-file layout")
    }
  }
}
