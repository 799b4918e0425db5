package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.SparkProbes
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{JdbcCatalog, PartitionedSnapshotLake}
import graft.ingest.DicomLike
import graft.sources.FileScans

/** Generated-class census: how many classes the DICOM ingest op and
  * a 16-query cycle of the registry compile from a cold codegen cache.
  * Spark's cache holds `spark.sql.codegen.cache.maxEntries` (100)
  * classes, so a cyclic workload whose working set is larger keeps
  * recompiling. The budgets pin today's counts (≤) plus the run-to-run
  * wobble of a few classes seen across runs: a change that adds
  * generated classes to either path fails here and must say why. */
class CodegenCensusSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** measured: 77–78 classes per op */
  private val IngestBudget = 80
  /** measured: 205–208 classes per cycle on the bundled sf0.01 tables */
  private val CycleBudget = 212

  /** One delivery: `exams` exams of three five-instance series, Siemens
    * explicit-VR headers, plus a non-DICOM file. */
  private def delivery(root: File, day: Int, exams: Int): File = {
    import DicomFixture._
    val dir = new File(root, s"day$day")
    dir.mkdirs()
    val date = f"202401${day + 1}%02d"
    for (e <- 1 to exams; s <- 1 to 3; i <- 1 to 5) {
      val uid = f"X$day%02d$e%03d"
      val time = f"${8 + e}%02d${s * 7}%02d00"
      val tags = Seq((0x0008, 0x0060, "CS", "MR"),
        (0x0020, 0x000E, "UI", s"$uid.$s"), (0x0020, 0x0013, "IS", s"$i"),
        (0x0018, 0x0086, "IS", "1"), (0x0020, 0x1002, "IS", "5"),
        (0x0020, 0x0011, "IS", s"$s"), (0x0010, 0x0010, "PN", s"SUBJ^$uid"),
        (0x0008, 0x0020, "DA", date), (0x0008, 0x0030, "TM", time),
        (0x0008, 0x1030, "LO", s"PROTO_$e"), (0x0018, 0x0024, "SH", "tfl3d1_16ns"),
        (0x0018, 0x0080, "DS", s"${1000 + 100 * s}"),
        (0x0008, 0x0070, "LO", "SIEMENS"), (0x0008, 0x1090, "LO", "Prisma"),
        (0x0008, 0x0022, "DA", date), (0x0008, 0x0032, "TM", time))
      Files.write(new File(dir, s"$uid.${s}_i$i.dcm").toPath, file(
        tags.map { case (g, el, vr, v) => elS(g, el, vr, v) }.reduce(_ ++ _),
        Array.fill[Byte](512)(i.toByte)))
    }
    Files.write(new File(dir, "README.txt").toPath, "delivery".getBytes)
    dir
  }

  /** The exam and serie rows of one delivery, both cached. */
  private def tables(dir: File): (DataFrame, DataFrame, DataFrame) = {
    val meta = DicomLike.parseMeta(
      FileScans.binaryContent(spark, dir.getAbsolutePath, "*")).cache()
    meta.count()
    val serie = DicomLike.seriesInfo(meta)
      .withColumn("exam_uid", substring(col("series_uid"), 1, 6))
      .groupBy(col("series_uid"))
      .agg(max(col("exam_uid")).as("exam_uid"),
        max(col("exam_name")).as("exam_name"),
        max(col("seq_type")).as("seq_type"), max(col("tr")).as("tr"),
        min(col("acq_time")).as("acq_time"), count(lit(1)).as("n_files"))
      .cache()
    val exam = DicomLike.exams(DicomLike.stacks(DicomLike.headersOf(meta)))
      .select(col("exam_uid"), col("n_series"), col("n_files"),
        col("fsize"), col("any_corrupt"))
      .cache()
    serie.count(); exam.count()
    (exam, serie, meta)
  }

  test("the DICOM ingest op compiles at most its budget of classes") {
    val root = Files.createTempDirectory("graft_census").toFile
    val url = s"jdbc:derby:${new File(root, "catalog")};create=true"
    val lake = new File(root, "lake").getAbsolutePath
    def op(day: Int): Long = {
      val (exam, serie, meta) = tables(delivery(root, day, 3))
      JdbcCatalog.stagedUpsert(spark, url, "EXAM", exam, "exam_uid")
      JdbcCatalog.stagedUpsert(spark, url, "SERIE", serie, "series_uid")
      PartitionedSnapshotLake.commitMerge(spark, lake, serie, "series_uid",
        "acq_time")
      val dups = PartitionedSnapshotLake.readLatest(spark, lake)
        .groupBy(col("exam_name"),
          date_format(col("acq_time"), "yyyyMMddHHmm").as("minute"))
        .agg(countDistinct(col("exam_uid")).as("n_exams"))
        .filter(col("n_exams") > 1).count()
      Seq(exam, serie, meta).foreach(_.unpersist())
      dups
    }
    val (exam, serie, meta) = tables(delivery(root, 0, 3))
    JdbcCatalog.write(exam, url, "EXAM", SaveMode.Overwrite)
    JdbcCatalog.write(serie, url, "SERIE", SaveMode.Overwrite)
    PartitionedSnapshotLake.commitMerge(spark, lake, serie, "series_uid",
      "acq_time")
    Seq(exam, serie, meta).foreach(_.unpersist())
    op(1)
    val (dups, classes) = SparkProbes.classesCompiled(op(2))
    assert(dups == 0)
    info(s"ingest op: $classes classes")
    assert(classes <= IngestBudget,
      s"the ingest op compiled $classes classes, budget $IngestBudget")
  }

  test("a cycle of the 16 sampled registry queries compiles at most its " +
      "budget of classes") {
    // the bundled tables the benchmark's query_mix runs on
    val sfDir = new File("perfbench/data/sf0.01").getAbsolutePath
    val sample = Seq("q1_pricing_summary", "q6_forecast_revenue",
      "a1_dup_exam_groups", "j1_examseries_join", "w1_keep_latest",
      "x2_db_disk_anti", "d1_exact_dedup", "v1_ann_bruteforce",
      "t13_quality_filter", "m1_binary_meta", "k13_scd2_history",
      "f2_derivations", "g2_supplier_affinity", "s4_click_attribution",
      "k1_jdbc_roundtrip", "i3_tri_dicom")
    def run(n: String): Unit = {
      SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count(): Unit
      spark.catalog.clearCache()
    }
    sample.foreach(run)
    val (perQuery, total) = SparkProbes.classesCompiled {
      sample.map { n =>
        val before = SparkProbes.compiles()
        run(n)
        n -> (SparkProbes.compiles() - before)
      }
    }
    info(s"16-query cycle: $total classes; first use per query: " +
      perQuery.map { case (n, c) => s"$n $c" }.mkString(", "))
    assert(total <= CycleBudget,
      s"the cycle compiled $total classes, budget $CycleBudget")
  }
}
