package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.streaming.EventStream

case class TestEvent(event_id: Long, ts: Timestamp, event_type: String,
  value: Double)

/** Structured Streaming layer: the streaming tumbling-window aggregate
  * must agree with its batch form on identical input, and watermarked
  * dropDuplicates must absorb late duplicate event_ids (the reference's
  * idempotent re-ingest, SURVEY §2.9). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val events = Seq(
    TestEvent(1, ts("2024-01-01 10:05:00"), "click", 1.0),
    TestEvent(2, ts("2024-01-01 10:20:00"), "click", 2.0),
    TestEvent(3, ts("2024-01-01 10:45:00"), "view", 3.0),
    TestEvent(4, ts("2024-01-01 11:10:00"), "click", 4.0),
    TestEvent(2, ts("2024-01-01 10:20:00"), "click", 2.0), // late duplicate
    TestEvent(5, ts("2024-01-01 11:40:00"), "view", 5.0))

  test("streaming hourly counts == batch hourly counts after dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[TestEvent]
    val q = EventStream.hourlyCountsStream(mem.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("hourly")
      .orderBy("hour_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq

    val batch = EventStream.hourlyCountsBatch(
        events.toDF().dropDuplicates("event_id"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq

    assert(streamed == batch)
    assert(streamed == Seq(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 10:00:00.0", "view", 1L, 3.0),
      ("2024-01-01 11:00:00.0", "click", 1L, 4.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 5.0)))
  }

  test("streaming sliding windows == batch sliding windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[TestEvent]
    val q = EventStream.slidingCountsStream(mem.toDF())
      .writeStream.format("memory").queryName("sliding")
      .outputMode("complete").start()
    mem.addData(events: _*)
    q.processAllAvailable()
    q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("win_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq

    val streamed = canon(spark.table("sliding"))
    // the streaming side counts the late duplicate of event 2 twice
    // (sliding() applies no dedup) — feed the identical multiset
    val batch = canon(EventStream.slidingCountsBatch(events.toDF()))
    assert(streamed == batch)
    // every event lands in exactly two hourly-advancing 2 h windows
    val fanout = streamed.map(_._3).sum
    assert(fanout == 2L * events.size)
  }

  test("stream-stream attribution join == batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val purchases = Seq(
      TestEvent(100, ts("2024-01-01 10:30:00"), "purchase", 9.0),
      TestEvent(101, ts("2024-01-01 12:00:00"), "purchase", 9.0))
    val clicks = Seq(
      TestEvent(1, ts("2024-01-01 09:31:00"), "click", 1.0), // in window of 100
      TestEvent(2, ts("2024-01-01 10:30:00"), "click", 1.0), // boundary: ==
      TestEvent(3, ts("2024-01-01 09:29:00"), "click", 1.0), // too early
      TestEvent(4, ts("2024-01-01 11:30:00"), "click", 1.0)) // in window of 101
    // the batch form takes one events table with both types mixed
    val all = (purchases ++ clicks).map(e =>
      (e.event_id, e.ts, 7L, e.event_type, e.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = EventStream.attributionBatch(all)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val pm = MemoryStream[TestEvent]
    val cm = MemoryStream[TestEvent]
    def side(m: MemoryStream[TestEvent]) =
      m.toDF().withColumn("user_id", lit(7L))
    val q = EventStream.attributionStream(side(pm), side(cm))
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    pm.addData(purchases: _*)
    cm.addData(clicks: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attrib")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

    assert(batch.sorted == streamed)
    assert(streamed == Seq((100L, 1L), (100L, 2L), (101L, 4L)))
  }

  test("incrementalSince prunes to the watermark cutoff") {
    import spark.implicits._
    val out = EventStream.incrementalSince(events.toDF(),
      "2024-01-01 11:00:00")
    assert(out.select("event_id").as[Long].collect().toSet == Set(4L, 5L))
  }

  test("streaming quality gate == batch quality gate (stateless op)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, ("the quick brown fox jumps over a lazy dog and runs on")),
      (2L, ("spam spam spam spam spam spam spam spam spam spam spam")),
      (3L, ("too short")),
      (4L, ("le renard brun saute par dessus le chien paresseux dormant"))
    )
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.qualityGate(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qgate")
      .outputMode("append").start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qgate")
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, String)].collect().toSet
    val batch = graft.operators.TextOps.qualityGate(
        docs.toDF("doc_id", "text"))
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, true, "ok"), (2L, false, "language"),
      (3L, false, "length"), (4L, false, "language")))
  }

  test("stream drains into the partitioned lake via foreachBatch merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files
      .createTempDirectory("graft_stream_lake").resolve("t").toString
    val mem = MemoryStream[TestEvent]
    // the reference's incremental --days maintenance as a stream: each
    // micro-batch MERGEs into only its own date partitions
    val q = mem.toDS().writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[TestEvent], _: Long) =>
        graft.catalog.PartitionedSnapshotLake.commitMerge(
          b.sparkSession, path, b.toDF(), "event_id", "ts"): Unit
      }.start()
    mem.addData(TestEvent(1, ts("2024-01-01 10:05:00"), "click", 1.0),
      TestEvent(2, ts("2024-01-02 10:20:00"), "click", 2.0))
    q.processAllAvailable()
    // batch 2: one update (same key, new value), one insert, one dup
    mem.addData(TestEvent(2, ts("2024-01-02 10:20:00"), "click", 9.0),
      TestEvent(3, ts("2024-01-03 09:00:00"), "view", 3.0),
      TestEvent(1, ts("2024-01-01 10:05:00"), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val state = graft.catalog.PartitionedSnapshotLake.readLatest(spark, path)
      .select("event_id", "value").orderBy("event_id")
      .as[(Long, Double)].collect().toSeq
    assert(state == Seq((1L, 1.0), (2L, 9.0), (3L, 3.0)))
    // partition layout: one dir per event day
    val days = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part_date=")).map(_.getName).sorted
    assert(days.toSeq == Seq("part_date=2024-01-01",
      "part_date=2024-01-02", "part_date=2024-01-03"))
  }

  /** The shared foreachBatch MV-maintenance body (s5's algebra with an
    * atomic tmp→store swap) — ONE definition so the s5 and s7 tests
    * cannot drift apart on the merge/swap semantics. */
  private def mvMergeBatch(store: String, tmp: String)(
      b: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
    val partials = EventStream.partialHourly(b)
    val merged =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(store)))
        EventStream.mergePartials(
          b.sparkSession.read.parquet(store), partials)
      else partials
    merged.write.mode("overwrite").parquet(tmp)
    // swap: the store is never half-written
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      b.sparkSession.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(store)): Unit
  }

  test("foreachBatch partial-merge MV == batch aggregate (s5 algebra)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mv")
    val store = root.resolve("mv").toString
    val tmp = root.resolve("mv_tmp").toString
    val mem = MemoryStream[TestEvent]
    // each micro-batch aggregates to partials and folds into the MV
    // store — only the batch is ever rescanned, never the history
    val q = mem.toDF().writeStream.outputMode("update")
      .foreachBatch(mvMergeBatch(store, tmp) _).start()
    val unique = events.distinctBy(_.event_id)
    mem.addData(unique.take(3): _*)
    q.processAllAvailable()
    mem.addData(unique.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val mv = EventStream.finalizeHourly(spark.read.parquet(store))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq
    val batch = EventStream.hourlyCountsBatch(unique.toDF())
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq
    assert(mv == batch)
  }

  test("streaming trending top-k == batch windowedTopK (s7 re-rank)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_topk")
    val store = root.resolve("mv").toString
    val tmp = root.resolve("mv_tmp").toString
    val mem = MemoryStream[TestEvent]
    // the COUNTS are the incremental state (s5's partial algebra,
    // maintained by the shared mvMergeBatch body); the rank is
    // re-derived per refresh over the tiny maintained table — ranking
    // itself is never incrementally maintained
    val q = mem.toDF().writeStream.outputMode("update")
      .foreachBatch(mvMergeBatch(store, tmp) _).start()
    val unique = events.distinctBy(_.event_id)
    mem.addData(unique.take(3): _*)
    q.processAllAvailable()
    mem.addData(unique.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    def render(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getTimestamp(0).toString, r.getInt(1),
        r.getString(2), r.getLong(3))).toSeq
    val streamed = render(EventStream.topKFromHourly(
      EventStream.finalizeHourly(spark.read.parquet(store))
        .select(col("hour_start"), col("event_type"), col("n")), 2))
    val batch = render(EventStream.windowedTopK(unique.toDF(), 2))
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.forall(_._2 <= 2))
  }
}
