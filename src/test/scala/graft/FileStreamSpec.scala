package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventStream
import graft.operators.Skew

/** Checkpointed file-source streaming (SURVEY §2.9: the `--days` /
  * logfile watermark replaced by real source offsets) and the salting
  * utility. */
class FileStreamSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("file stream resumes from checkpoint offsets across batches") {
    val root = Files.createTempDirectory("graft_stream")
    val in = root.resolve("in"); val ckpt = root.resolve("ckpt")
    Files.createDirectories(in)

    def write(name: String, rows: Seq[TestEvent]): Unit =
      rows.toDF().write.parquet(in.resolve(name).toString)

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(Seq.empty[TestEvent].toDF().schema)
        .parquet(in.toString + "/*")
      val q = EventStream.hourlyCountsStream(stream)
        .writeStream.format("memory").queryName("fs_hourly")
        .outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    write("b1", Seq(
      TestEvent(1, ts("2024-02-01 09:10:00"), "click", 1.0),
      TestEvent(2, ts("2024-02-01 09:50:00"), "click", 2.0)))
    runOnce()
    assert(spark.table("fs_hourly").count() == 1)

    // second batch lands later; checkpoint makes the rerun incremental
    write("b2", Seq(
      TestEvent(3, ts("2024-02-01 10:05:00"), "view", 3.0),
      TestEvent(1, ts("2024-02-01 09:10:00"), "click", 1.0))) // replayed dup
    runOnce()
    val got = spark.table("fs_hourly")
      .orderBy("hour_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2))).toSeq
    assert(got == Seq(
      ("2024-02-01 09:00:00.0", "click", 2L), // dup event_id absorbed
      ("2024-02-01 10:00:00.0", "view", 1L)))
  }

  test("streaming DICOM ingest: the codec runs in readStream and " +
      "resumes from checkpoint as new files land") {
    val root = Files.createTempDirectory("graft_dcm_stream")
    val in = root.resolve("in"); val ckpt = root.resolve("ckpt")
    Files.createDirectories(in)
    graft.GraftFunctions.register(spark)

    def write(name: String, seriesUid: String, instance: Int): Unit =
      Files.write(in.resolve(name),
        DicomFixture.simpleFile(seriesUid, instance, 1, 3))

    // the same dicom_parse expression the batch path uses, over the
    // binaryFile file source in streaming mode — per-series file
    // counts maintained incrementally (the reference's nightly rescan
    // becomes a continuous ingest)
    def runOnce(): Unit = {
      val stream = spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, " +
          "length bigint, content binary")
        .load(in.toString)
        .select(expr("dicom_parse(content)").as("meta"))
        .filter(col("meta").isNotNull)
        .select(element_at(col("meta"), "SeriesInstanceUID")
          .as("series_uid"))
        .groupBy(col("series_uid")).agg(count(lit(1)).as("n_files"))
      val q = stream.writeStream.format("memory")
        .queryName("dcm_stream").outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    write("a1.dcm", "EXAM21SERA", 1)
    write("a2.dcm", "EXAM21SERA", 2)
    Files.write(in.resolve("junk.dcm"), "not dicom".getBytes)
    runOnce()
    val first = spark.table("dcm_stream").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(first == Map("EXAM21SERA" -> 2L))

    // new arrivals only — the checkpoint skips already-seen files
    write("a3.dcm", "EXAM21SERA", 3)
    write("b1.dcm", "EXAM21SERB", 1)
    runOnce()
    val second = spark.table("dcm_stream").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(second == Map("EXAM21SERA" -> 3L, "EXAM21SERB" -> 1L))
  }

  test("streaming dedup drains into the partitioned lake and resumes: " +
      "stream state == batch state") {
    import graft.catalog.PartitionedSnapshotLake
    import graft.operators.DedupOps
    val root = Files.createTempDirectory("graft_dedup_lake")
    val in = root.resolve("in"); val ckpt = root.resolve("ckpt")
    Files.createDirectories(in)
    val store = root.resolve("store").toString
    val lake = root.resolve("lake").toString

    val boiler = "the same boilerplate paragraph repeated verbatim " +
      "across crawls of this site"
    def docs(rows: Seq[(Long, String, String)]) =
      rows.map { case (id, t, day) => (id, t, ts(s"$day 12:00:00")) }
        .toDF("doc_id", "text", "ts")
    def write(name: String, rows: Seq[(Long, String, String)]): Unit =
      docs(rows).write.parquet(in.resolve(name).toString)

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("doc_id bigint, text string, ts timestamp")
        .parquet(in.toString + "/*")
      val q = stream.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            DedupOps.dedupToLake(store, lake, b, "ts")
        }.start()
      q.awaitTermination()
    }

    val b1 = Seq(
      (1L, boiler, "2024-03-01"),                    // novel keeper
      (2L, "a genuinely unique document body here", "2024-03-01"),
      (3L, boiler, "2024-03-02"))                    // within-batch dup
    val b2 = Seq(
      (4L, boiler, "2024-03-03"),                    // dup vs the store
      (5L, "another unique body, later crawl day", "2024-03-03"))

    write("b1", b1)
    runOnce()
    write("b2", b2)
    runOnce() // NEW query, same checkpoint — resume path

    def lakeState(path: String): Seq[(Long, Boolean)] =
      PartitionedSnapshotLake.readLatest(spark, path)
        .select("doc_id", "is_dup")
        .orderBy("doc_id").as[(Long, Boolean)].collect().toSeq

    val streamed = lakeState(lake)
    assert(streamed == Seq((1L, false), (2L, false), (3L, true),
      (4L, true), (5L, false)))
    // doc 1 still novel ⇒ batch 1 was NOT replayed after the restart
    // (a replay would re-probe it against its own stored bands)

    // batch-mode mirror over the same two batches: identical state
    val store2 = root.resolve("store2").toString
    val lake2 = root.resolve("lake2").toString
    DedupOps.dedupToLake(store2, lake2, docs(b1), "ts")
    DedupOps.dedupToLake(store2, lake2, docs(b2), "ts")
    assert(lakeState(lake2) == streamed)

    // the lake is date-partitioned — each micro-batch's merge reads
    // and re-versions only its own dates
    val days = new java.io.File(lake).listFiles()
      .filter(_.getName.startsWith("part_date=")).map(_.getName).sorted
    assert(days.toSeq == Seq("part_date=2024-03-01",
      "part_date=2024-03-02", "part_date=2024-03-03"))
  }

  // SlowTest tier (~33 s: two streaming queries, a maintenance cycle,
  // probes, and the batch-mode mirror) — part of the per-round gate,
  // run in the bench window like the maintenance kill-point fuzz
  test("streaming vector ingest (vectorsToStore): a mid-stream " +
      "maintenance cycle triggers and swaps the centroid table, " +
      "stream-resume state equals batch state, probe parity vs brute " +
      "force holds after the cycle", SlowTest) {
    import graft.operators.SimilarityOps
    graft.GraftFunctions.register(spark)
    val root = Files.createTempDirectory("graft_vec_stream")
    val in = root.resolve("in"); val ckpt = root.resolve("ckpt")
    Files.createDirectories(in)
    val store = root.resolve("store").toString
    val cents0 = Seq((0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0)))
      .toDF("cid", "cv")
    def table(p: String) = SimilarityOps.readVectorStore(spark, p)._1
    def rows(p: String) = SimilarityOps.readVectorStore(spark, p)._2
    def vec(id: Long): Seq[Double] = {
      val axis = (id % 2).toInt
      val b = Array.fill(3)(0.05 + 0.001 * (id % 7))
      b(axis) = 1.0 + 0.01 * (id % 11)
      b.toSeq
    }
    def frame(ids: Seq[Long]) =
      ids.map(id => (id, vec(id))).toDF("vec_id", "v")
    def write(name: String, ids: Seq[Long]): Unit =
      frame(ids).write.parquet(in.resolve(name).toString)
    // hot threshold 10: batch 1 puts 15 rows in cell 0 → the cycle
    // fires MID-STREAM (batch 1's foreachBatch), splitting cell 0
    val hot = 10L
    val cycles = new java.util.concurrent.atomic.AtomicInteger(0)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("vec_id bigint, v array<double>")
        .parquet(in.toString + "/*")
      val q = stream.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (SimilarityOps.vectorsToStore(store, cents0, b,
              hotCellThreshold = hot, maxSplitK = 2).nonEmpty)
            cycles.incrementAndGet(): Unit
        }.start()
      q.awaitTermination()
    }
    val b1 = (0L until 30L by 2L).toSeq ++ Seq(101L, 103L) // 15 even + 2 odd
    val b2 = Seq(31L, 33L, 35L, 50L, 52L)                  // under threshold
    write("b1", b1); runOnce()
    assert(cycles.get() == 1, "batch 1 must trigger the cycle")
    val centsAfterCycle = table(store)
      .select("cid").collect().map(_.getInt(0)).toSet
    assert(!centsAfterCycle.contains(0) && centsAfterCycle.size >= 2,
      s"cell 0 was not split by the mid-stream cycle: $centsAfterCycle")
    write("b2", b2); runOnce() // NEW query, same checkpoint — resume
    assert(cycles.get() == 1, "batch 2 must not re-trigger")
    val all = b1 ++ b2
    // resume really skipped batch 1: no duplicate appends (no compact
    // ran after batch 2, so replayed rows would still be visible)
    assert(rows(store).count() == all.size.toLong,
      "restart replayed an already-committed batch into the store")

    // probe parity vs driver-side brute force AFTER the cycle
    def cos6(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      BigDecimal(dot / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def brute(qv: Seq[Double], k: Int): Seq[(Int, Long)] =
      all.map(id => (id, cos6(qv, vec(id))))
        .sortBy { case (id, r) => (-r, id) }
        .take(k).zipWithIndex.map { case ((id, _), i) => (i + 1, id) }
    val q0 = Seq(1.0, 0.05, 0.02)
    val q1 = Seq(0.05, 1.0, 0.02)
    val n = table(store).count().toInt
    def probe(qv: Seq[Double], k: Int): Seq[(Int, Long)] =
      SimilarityOps.probeVectorStore(store,
          Seq((9000L, qv)).toDF("vec_id", "v"), k = k, nprobe = n,
          excludeSelf = false)
        .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(probe(q0, 5) == brute(q0, 5) && probe(q1, 5) == brute(q1, 5),
      "post-cycle probe parity broken")

    // batch-mode mirror over the same two batches: identical store
    // rows AND identical centroid table (fit/split/merge are
    // deterministic given the same batch boundaries)
    val store2 = root.resolve("store2").toString
    SimilarityOps.vectorsToStore(store2, cents0, frame(b1),
      hotCellThreshold = hot, maxSplitK = 2)
    SimilarityOps.vectorsToStore(store2, cents0, frame(b2),
      hotCellThreshold = hot, maxSplitK = 2)
    def storeState(p: String): Set[(Int, Long)] =
      rows(p).select("cid", "vec_id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    def centState(p: String): Set[(Int, Seq[Double])] =
      table(p).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSet
    assert(storeState(store2) == storeState(store),
      "batch-mode store state diverges from the streamed store")
    assert(centState(store2) == centState(store),
      "batch-mode centroid table diverges from the streamed one")
  }

  test("salted join equals plain join and spreads the hot key") {
    val big = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i))
      .toDF("key", "id")
    val small = Seq(("hot", "H"), ("k950", "X")).toDF("key", "tag")
    val plain = big.join(small, "key").select("id", "tag")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(big, small, "key", "id", 8)
      .select("id", "tag")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(salted == plain)
    assert(plain.size == 901)
  }
}
