package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.SnapshotLake

/** Snapshot-lake MVCC contract: commit/read/time-travel, merge history,
  * rollback, vacuum retention, and crash-orphan invisibility. */
class SnapshotLakeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("snaplake").toFile
    d.delete(); d.getAbsolutePath
  }

  private def frame(rows: (Long, String)*) =
    rows.toSeq.toDF("id", "val")

  test("commit assigns increasing versions; read returns the latest; " +
      "time travel returns each version exactly as committed") {
    val root = tmp()
    assert(SnapshotLake.latestVersion(spark, root).isEmpty)
    val v1 = SnapshotLake.commit(spark, root, frame(1L -> "a"))
    val v2 = SnapshotLake.commit(spark, root, frame(1L -> "a", 2L -> "b"))
    assert((v1, v2) == ((1L, 2L)))
    assert(SnapshotLake.read(spark, root).count() == 2)
    assert(SnapshotLake.readVersion(spark, root, 1).count() == 1)
    assert(SnapshotLake.versions(spark, root) == Seq(1L, 2L))
  }

  test("commitMerge keeps history: the pre-merge snapshot still reads " +
      "the old value after an update lands") {
    val root = tmp()
    val (va, ca) = SnapshotLake.commitMerge(spark, root,
      frame(1L -> "old", 2L -> "keep"), "id")
    val (vb, cb) = SnapshotLake.commitMerge(spark, root,
      frame(1L -> "new"), "id")
    assert(ca == Map("inserted" -> 2L))
    assert(cb("updated") == 1L && cb("kept") == 1L)
    val before = SnapshotLake.readVersion(spark, root, va)
      .filter($"id" === 1L).select("val").as[String].head()
    val after = SnapshotLake.readVersion(spark, root, vb)
      .filter($"id" === 1L).select("val").as[String].head()
    assert(before == "old" && after == "new")
  }

  test("commitMerge is idempotent across versions (re-merge = kept)") {
    val root = tmp()
    SnapshotLake.commitMerge(spark, root, frame(1L -> "x"), "id")
    val (_, counts) =
      SnapshotLake.commitMerge(spark, root, frame(1L -> "x"), "id")
    assert(counts == Map("kept" -> 1L))
  }

  test("rollback hides later versions; the next commit supersedes them") {
    val root = tmp()
    SnapshotLake.commit(spark, root, frame(1L -> "v1"))
    SnapshotLake.commit(spark, root, frame(1L -> "v2"))
    SnapshotLake.commit(spark, root, frame(1L -> "v3"))
    SnapshotLake.rollback(spark, root, 1)
    assert(SnapshotLake.latestVersion(spark, root).contains(1L))
    assert(SnapshotLake.read(spark, root)
      .select("val").as[String].head() == "v1")
    intercept[IllegalArgumentException] {
      SnapshotLake.readVersion(spark, root, 3)
    }
    // new commit reuses version 2 and overwrites the rolled-back dir
    val v = SnapshotLake.commit(spark, root, frame(1L -> "v2b"))
    assert(v == 2L)
    assert(SnapshotLake.read(spark, root)
      .select("val").as[String].head() == "v2b")
  }

  test("vacuum enforces retention: old versions unreadable loudly, " +
      "recent ones intact, orphan dirs below latest removed") {
    val root = tmp()
    (1 to 4).foreach(i =>
      SnapshotLake.commit(spark, root, frame(1L -> s"v$i")))
    // crash orphan below latest: a data dir with no commit marker
    frame(9L -> "orphan").write.parquet(s"$root/v=0")
    SnapshotLake.vacuum(spark, root, retain = 2)
    assert(SnapshotLake.versions(spark, root) == Seq(3L, 4L))
    intercept[IllegalArgumentException] {
      SnapshotLake.readVersion(spark, root, 2)
    }
    assert(SnapshotLake.readVersion(spark, root, 3)
      .select("val").as[String].head() == "v3")
    assert(!new java.io.File(s"$root/v=0").exists(),
      "orphan dir survived vacuum")
    assert(!new java.io.File(s"$root/v=1").exists())
  }

  test("streaming capstone: foreachBatch commitMerge gives per-batch " +
      "MVCC history, survives checkpoint resume, and matches batch mode") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmp()
    val lake = s"$root/lake"
    val in = new java.io.File(s"$root/in"); in.mkdirs()
    val ckpt = s"$root/ckpt"

    def write(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "val").write.parquet(s"$in/$name")
    def runOnce(): Unit = {
      val q = spark.readStream.schema("id bigint, val string")
        .parquet(s"$in/*")
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          SnapshotLake.commitMerge(spark, lake, b, "id"); ()
        }.start()
      q.awaitTermination()
    }

    write("b1", Seq(1L -> "a", 2L -> "b")); runOnce()
    write("b2", Seq(2L -> "b2", 3L -> "c")); runOnce() // resume path

    assert(SnapshotLake.versions(spark, lake) == Seq(1L, 2L),
      "each micro-batch must land as exactly one committed version")
    val v1 = SnapshotLake.readVersion(spark, lake, 1)
      .orderBy("id").as[(Long, String)].collect().toSeq
    val v2 = SnapshotLake.readVersion(spark, lake, 2)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(v1 == Seq(1L -> "a", 2L -> "b"), "time travel to batch 1")
    assert(v2 == Seq(1L -> "a", 2L -> "b2", 3L -> "c"))

    // batch-mode mirror: same two merges, same final state
    val lake2 = s"$root/lake2"
    SnapshotLake.commitMerge(spark, lake2,
      Seq(1L -> "a", 2L -> "b").toDF("id", "val"), "id")
    SnapshotLake.commitMerge(spark, lake2,
      Seq(2L -> "b2", 3L -> "c").toDF("id", "val"), "id")
    val mirror = SnapshotLake.read(spark, lake2)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(mirror == v2, "stream and batch lake states diverged")
  }

  test("RACE: concurrent committers serialize into distinct versions — " +
      "no lost version, every history linearizes") {
    val root = tmp()
    val perWriter = 5
    val results = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        (0 until perWriter).foreach { i =>
          val tag = s"w$w-b$i"
          val v = SnapshotLake.commit(spark, root, frame(1L -> tag))
          // the claimed version must be OURS alone
          assert(results.put(v, tag) == null,
            s"version $v claimed twice")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // no version lost: 10 commits -> 10 distinct committed versions
    assert(results.size == 2 * perWriter)
    assert(SnapshotLake.versions(spark, root) ==
      results.keySet().toArray.map(_.asInstanceOf[Long]).sorted.toSeq)
    // each version still reads EXACTLY the frame its committer wrote —
    // a raced data dir would show another writer's tag
    results.forEach { (v, tag) =>
      assert(SnapshotLake.readVersion(spark, root, v)
        .select("val").as[String].head() == tag,
        s"version $v does not hold its committer's data")
    }
  }

  test("a stale claim lock (writer died before its marker) is skipped " +
      "by later commits and reclaimed by vacuum; a YOUNG lock and its " +
      "in-flight data survive") {
    val root = tmp()
    SnapshotLake.commit(spark, root, frame(1L -> "v1"))
    // simulate: a writer claimed version 2 then died pre-marker
    val lock = new java.io.File(s"$root/_commits/2.lock")
    lock.getParentFile.mkdirs()
    assert(lock.createNewFile())
    val v = SnapshotLake.commit(spark, root, frame(1L -> "v3"))
    assert(v == 3L, "commit must skip the locked (possibly live) number")
    assert(SnapshotLake.versions(spark, root) == Seq(1L, 3L))
    // young lock = possibly a LIVE slow writer: vacuum must not touch
    // the lock or its in-flight data dir, wherever latest has moved
    frame(9L -> "inflight").write.parquet(s"$root/v=2")
    SnapshotLake.vacuum(spark, root, retain = 1)
    assert(lock.exists(), "young lock must survive vacuum (live writer)")
    assert(new java.io.File(s"$root/v=2").exists(),
      "in-flight data under a young lock must survive vacuum")
    // aged past the TTL the same lock is crash residue: reclaimed
    assert(lock.setLastModified(
      System.currentTimeMillis() - 3L * 60 * 60 * 1000))
    SnapshotLake.vacuum(spark, root, retain = 1)
    assert(!lock.exists(), "stale (old) lock must be reclaimed")
    assert(!new java.io.File(s"$root/v=2").exists(),
      "orphan dir of a reclaimed stale lock must be vacuumed")
  }

  test("partitioned snapshots: a 2-partition batch commits one version " +
      "per touched partition; old global snapshots read consistently; " +
      "untouched partitions never re-version") {
    import graft.catalog.PartitionedSnapshotLake
    val root = tmp()
    def df(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "ts", "val")

    val (s1, c1) = PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-01-01", "a"), (2L, "2026-01-01", "b"),
         (3L, "2026-01-02", "c")), "id", "ts")
    assert(s1 == 1L && c1 == Map("inserted" -> 3L))
    val p1 = "part_date=2026-01-01"; val p2 = "part_date=2026-01-02"
    assert(PartitionedSnapshotLake.partitions(spark, root) == Seq(p1, p2))
    assert(PartitionedSnapshotLake.partitionVersions(spark, root, p1)
      == Seq(1L))

    // batch touching BOTH partitions: each gets exactly one new version
    val (s2, c2) = PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-01-01", "a2"), (4L, "2026-01-02", "d")), "id", "ts")
    assert(s2 == 2L)
    assert(c2("updated") == 1L && c2("inserted") == 1L)
    assert(PartitionedSnapshotLake.partitionVersions(spark, root, p1)
      == Seq(1L, 2L))
    assert(PartitionedSnapshotLake.partitionVersions(spark, root, p2)
      == Seq(1L, 2L))
    assert(PartitionedSnapshotLake.readLatest(spark, root).count() == 4)

    // old global snapshot: BOTH partitions read at their old versions
    val v1rows = PartitionedSnapshotLake.readVersion(spark, root, 1)
      .orderBy("id").select("id", "val").as[(Long, String)].collect().toSeq
    assert(v1rows == Seq(1L -> "a", 2L -> "b", 3L -> "c"),
      "global snapshot 1 must predate the second batch entirely")

    // batch touching ONLY p2: p1 must not re-version (O(touched) cost)
    val (s3, _) = PartitionedSnapshotLake.commitMerge(spark, root,
      df((3L, "2026-01-02", "c3")), "id", "ts")
    assert(s3 == 3L)
    assert(PartitionedSnapshotLake.partitionVersions(spark, root, p1)
      == Seq(1L, 2L), "untouched partition gained a version")
    assert(PartitionedSnapshotLake.partitionVersions(spark, root, p2)
      == Seq(1L, 2L, 3L))
    assert(PartitionedSnapshotLake.manifest(spark, root, 3L)
      == Map(p1 -> 2L, p2 -> 3L))
    // per-partition time travel on the partition's own axis
    assert(PartitionedSnapshotLake
      .readPartitionVersion(spark, root, p1, 1L)
      .filter($"id" === 1L).select("val").as[String].head() == "a")
    // and the middle global snapshot still pins the middle state
    val v2rows = PartitionedSnapshotLake.readVersion(spark, root, 2)
      .orderBy("id").select("id", "val").as[(Long, String)].collect().toSeq
    assert(v2rows == Seq(1L -> "a2", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  test("commitMerge refuses schema drift: added, missing or retyped columns") {
    import graft.catalog.PartitionedSnapshotLake
    val root = tmp()
    PartitionedSnapshotLake.commitMerge(spark, root,
      Seq((1L, "2026-03-01", "a")).toDF("id", "ts", "val"), "id", "ts")
    def refused(df: org.apache.spark.sql.DataFrame) =
      intercept[IllegalArgumentException] {
        PartitionedSnapshotLake.commitMerge(spark, root, df, "id", "ts")
      }.getMessage
    // a touched date checks the partition it reads; a new date checks
    // the footer of a pinned partition
    Seq("2026-03-01", "2026-03-02").foreach { d =>
      assert(refused(Seq((2L, d, "b", "fr")).toDF("id", "ts", "val", "lang"))
        .contains("adds lang"))
      assert(refused(Seq((2L, d)).toDF("id", "ts")).contains("lacks val"))
      assert(refused(Seq((2L, d, 7)).toDF("id", "ts", "val"))
        .contains("retypes val string -> int"))
    }
    assert(PartitionedSnapshotLake.snapshots(spark, root) == Seq(1L))
    // the whole-table lake applies the same guard
    val flat = tmp()
    SnapshotLake.commitMerge(spark, flat, frame(1L -> "a"), "id")
    assert(intercept[IllegalArgumentException] {
      SnapshotLake.commitMerge(spark, flat,
        Seq((1L, "a", 1)).toDF("id", "val", "n"), "id")
    }.getMessage.contains("adds n"))
  }

  test("partitioned vacuum: retained snapshots stay fully readable, " +
      "expired versions and manifests are reclaimed") {
    import graft.catalog.PartitionedSnapshotLake
    val root = tmp()
    def df(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "ts", "val")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-02-01", "a"), (2L, "2026-02-02", "b")), "id", "ts")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-02-01", "a2")), "id", "ts")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-02-01", "a3")), "id", "ts")
    val p1 = "part_date=2026-02-01"; val p2 = "part_date=2026-02-02"
    assert(PartitionedSnapshotLake.partitionVersions(spark, root, p1)
      == Seq(1L, 2L, 3L))

    // readerHazardMs = 0: this test's manifests are seconds old, and
    // the count-based retention is what's under test — the hazard
    // horizon has its own boundary spec (VacuumHazardSpec)
    PartitionedSnapshotLake.vacuum(spark, root, retainSnapshots = 2,
      readerHazardMs = 0L)
    // snapshots 2,3 kept; snapshot 1 gone loudly
    assert(PartitionedSnapshotLake.snapshots(spark, root) == Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      PartitionedSnapshotLake.readVersion(spark, root, 1)
    }
    // p1 v=1 (pinned only by snapshot 1) reclaimed; v=2 (pinned by
    // snapshot 2) and v=3 (latest) kept; p2's single version kept
    assert(PartitionedSnapshotLake.partitionVersions(spark, root, p1)
      == Seq(2L, 3L))
    assert(PartitionedSnapshotLake.partitionVersions(spark, root, p2)
      == Seq(1L))
    assert(!new java.io.File(s"$root/$p1/v=1").exists())
    // both retained snapshots still read in full
    assert(PartitionedSnapshotLake.readVersion(spark, root, 2)
      .filter($"id" === 1L).select("val").as[String].head() == "a2")
    assert(PartitionedSnapshotLake.readLatest(spark, root)
      .filter($"id" === 1L).select("val").as[String].head() == "a3")
  }

  test("a crashed writer's uncommitted dir is invisible to readers and " +
      "overwritten by the next commit") {
    val root = tmp()
    SnapshotLake.commit(spark, root, frame(1L -> "good"))
    // simulate: writer wrote v=2 data but died before the marker
    frame(1L -> "torn").write.parquet(s"$root/v=2")
    assert(SnapshotLake.latestVersion(spark, root).contains(1L))
    assert(SnapshotLake.read(spark, root)
      .select("val").as[String].head() == "good")
    val v = SnapshotLake.commit(spark, root, frame(1L -> "next"))
    assert(v == 2L)
    assert(SnapshotLake.readVersion(spark, root, 2)
      .select("val").as[String].head() == "next")
  }
}
