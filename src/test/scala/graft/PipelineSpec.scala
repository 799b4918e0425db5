package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.catalog.SnapshotLake
import graft.ingest.DicomLike
import graft.sinks.ActionSink

/** The reference's whole workflow, end to end, on one fixture tree:
  * scan (DSv2, header-only) → stacks/exams → lake MERGE → duplicate
  * maintenance → propose-don't-act script → idempotent re-ingest.
  * This is the "a user of the reference could switch" proof: every
  * stage is the graft module the SURVEY maps to.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def writeDicom(dir: Path, name: String, seriesUid: String,
      instance: Int, expected: Int): Unit =
    Files.write(dir.resolve(name), DicomFixture.simpleFile(
      seriesUid, instance, echo = 1, expected = expected,
      pixelBytes = 256))

  test("ingest → lake merge → maintenance → script → idempotent rerun") {
    val dir = Files.createTempDirectory("graft_pipe")
    // EXAM01: two complete series; EXAM02: one series short of expected
    writeDicom(dir, "a1.dcm", "EXAM01SERA", 1, 2)
    writeDicom(dir, "a2.dcm", "EXAM01SERA", 2, 2)
    writeDicom(dir, "b1.dcm", "EXAM01SERB", 1, 1)
    writeDicom(dir, "c1.dcm", "EXAM02SERC", 1, 2)
    val lake = Files.createTempDirectory("graft_pipe_lake")
      .resolve("serie").toString

    // 1. scan + header-only parse (S5/S6 via the DSv2 source)
    def ingest() = {
      val headers = spark.read.format("dicomlike").load(dir.toString)
        .select("path", "length", "series_uid", "instance_number",
          "echo", "expected_count")
      DicomLike.stacks(headers) // A10/A11
        .select(col("series_uid"), col("echo"), col("n_files"),
          col("expected_count"), col("fsize"), col("corrupt"))
    }

    // 2. first MERGE into the lake (K3)
    val (_, c1) = SnapshotLake.commitMerge(spark, lake, ingest(), "series_uid")
    assert(c1 == Map("inserted" -> 3L))

    // 3. maintenance over the lake table: corrupt findings → K8 script
    val findings = SnapshotLake.read(spark, lake)
      .filter(length(col("corrupt")) > 0)
      .select(col("series_uid"), lit("delete").as("action"),
        concat(lit("/lake/"), col("series_uid")).as("target"),
        lit("").as("dest"))
    assert(findings.count() == 1) // EXAM02SERC is short
    val script = ActionSink.shellScript(findings)
      .collect().map(_.getString(0)).toSeq
    assert(script == Seq("rm -rf '/lake/EXAM02SERC'"))

    // 4. re-ingest the same tree: the MERGE is a no-op (the property
    //    the reference approximated with --twice)
    val (_, c2) = SnapshotLake.commitMerge(spark, lake, ingest(), "series_uid")
    assert(c2 == Map("kept" -> 3L))

    // 5. a changed series (file added) surfaces as exactly one update
    writeDicom(dir, "c2.dcm", "EXAM02SERC", 2, 2)
    val (_, c3) = SnapshotLake.commitMerge(spark, lake, ingest(), "series_uid")
    assert(c3 == Map("kept" -> 2L, "updated" -> 1L))
    val healed = SnapshotLake.read(spark, lake)
      .filter(col("series_uid") === "EXAM02SERC").head
    assert(healed.getAs[String]("corrupt") == "")
  }

  // §3.3 (do_results_DB.py --set_results): MPRAGE series → per-series
  // seg8 results dir probe → parse → results_anat upsert. The
  // reference loops rows and probes directories one at a time; here
  // the seg8 scan is one source, the probe is an equi-join on the
  // extracted <proto>/<suj>/<ser> key (not a LIKE/contains join —
  // hash-joinable at any scale), and the sink is the staged MERGE.
  test("§3.3 results pipeline: MPRAGE filter → seg8 equi-join → " +
      "upsert → idempotent rerun") {
    import spark.implicits._
    import graft.sources.FileScans
    import graft.catalog.JdbcCatalog
    val url = "jdbc:derby:memory:graft_seg8pipe;create=true"
    val root = Files.createTempDirectory("graft_res")
    def plant(rel: String, line: String): Unit = {
      val d = root.resolve(rel).resolve("vbm8")
      Files.createDirectories(d)
      Files.write(d.resolve("r_seg8.txt"), (line + "\n").getBytes): Unit
    }
    plant("PROTO/subj1/ser1", "0.61\t0.42\t0.23")
    plant("PROTO/subj2/ser2", "0.55\t0.40\t0.20") // non-MPRAGE: unused
    val series = Seq(
      (1L, "MPRAGE", "PROTO/subj1/ser1"),
      (2L, "DWI", "PROTO/subj2/ser2"),     // filtered out by SeqType
      (3L, "MPRAGE", "PROTO/subj3/ser3"))  // no result on disk yet
      .toDF("sid", "seq_type", "res_dir")
    val seg8 = FileScans.readSeg8(spark, root.toString)
      .withColumn("res_dir",
        regexp_extract(col("path"),
          "([^/]+/[^/]+/[^/]+)/vbm8/[^/]*$", 1))
    val results = series.filter(col("seq_type") === "MPRAGE")
      .join(seg8, Seq("res_dir"), "left")
      .select(col("sid"),
        when(col("path").isNotNull, lit("done"))
          .otherwise(lit("missing")).as("status"),
        col("vbmgrayvol"), col("vbmwhitevol"), col("vbmcsfvol"))
    // the target table exists before any upsert (the reference's DDL)
    JdbcCatalog.write(results.limit(0), url, "RESULTS_ANAT",
      org.apache.spark.sql.SaveMode.Overwrite)
    val affected = JdbcCatalog.stagedUpsert(
      spark, url, "RESULTS_ANAT", results, "sid")
    assert(affected == 2L)
    val back = JdbcCatalog.scan(spark, url, "RESULTS_ANAT")
      .orderBy("sid")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "done"), (3L, "missing")))
    // idempotent rerun: nothing changed, nothing rewritten
    assert(JdbcCatalog.stagedUpsert(
      spark, url, "RESULTS_ANAT", results, "sid") == 0L)
    // late-arriving seg8 for subj3: the rerun flips exactly that row
    plant("PROTO/subj3/ser3", "0.70\t0.30\t0.10")
    val seg8b = FileScans.readSeg8(spark, root.toString)
      .withColumn("res_dir",
        regexp_extract(col("path"),
          "([^/]+/[^/]+/[^/]+)/vbm8/[^/]*$", 1))
    val results2 = series.filter(col("seq_type") === "MPRAGE")
      .join(seg8b, Seq("res_dir"), "left")
      .select(col("sid"),
        when(col("path").isNotNull, lit("done"))
          .otherwise(lit("missing")).as("status"),
        col("vbmgrayvol"), col("vbmwhitevol"), col("vbmcsfvol"))
    assert(JdbcCatalog.stagedUpsert(
      spark, url, "RESULTS_ANAT", results2, "sid") == 1L)
    val s3 = JdbcCatalog.scan(spark, url, "RESULTS_ANAT")
      .filter(col("sid") === 3L).head
    assert(s3.getString(1) == "done" && s3.getDouble(2) == 0.70)
  }
}
