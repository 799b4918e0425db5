package graft.catalog

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Boundary spec for vacuum's named reader-hazard horizon
  * (`readerHazardMs`): a snapshot superseded within the horizon must
  * survive ANY `retainSnapshots`, because a lockless reader that
  * resolved its pins may still be mid-scan; once its successor ages
  * past the horizon, count-based retention applies. */
class VacuumHazardSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("vachaz").toFile
    d.delete(); d.getAbsolutePath
  }

  private def df(rows: (Long, String, String)*) =
    rows.toSeq.toDF("id", "ts", "val")

  private def threeSnapshots(): String = {
    val root = tmp()
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-05-01", "a")), "id", "ts")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-05-01", "a2")), "id", "ts")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-05-01", "a3")), "id", "ts")
    root
  }

  test("snapshots younger than the hazard horizon survive any " +
      "retainSnapshots, pins intact") {
    val root = threeSnapshots()
    PartitionedSnapshotLake.vacuum(spark, root, retainSnapshots = 1,
      readerHazardMs = 24L * 60 * 60 * 1000)
    assert(PartitionedSnapshotLake.snapshots(spark, root)
      == Seq(1L, 2L, 3L), "a seconds-old manifest was vacuumed — an " +
        "in-flight reader's pins just vanished")
    // every retained snapshot still reads in full
    (1L to 3L).foreach { s =>
      assert(PartitionedSnapshotLake.readVersion(spark, root, s)
        .count() == 1)
    }
  }

  test("snapshots aged past the horizon fall to count-based retention; " +
      "the hazard clock is the SUCCESSOR's mtime (supersession time)") {
    val root = threeSnapshots()
    // age everything: snapshot files (snapshot supersession clock) and the
    // partition's commit markers (version supersession clock) — a
    // version/snapshot is only deletable once its successor has been
    // visible for a full horizon
    val old = System.currentTimeMillis() - 10L * 60 * 1000
    (1L to 3L).foreach { s =>
      val m = new java.io.File(s"$root/_snapshots/$s")
      assert(m.setLastModified(old))
      val mk = new java.io.File(s"$root/part_date=2026-05-01/_commits/$s")
      assert(mk.setLastModified(old))
    }
    PartitionedSnapshotLake.vacuum(spark, root, retainSnapshots = 1,
      readerHazardMs = 60L * 1000)
    assert(PartitionedSnapshotLake.snapshots(spark, root) == Seq(3L),
      "aged snapshots must expire once past the hazard horizon")
    // the expired pins' exclusive version is reclaimed, latest readable
    assert(PartitionedSnapshotLake
      .partitionVersions(spark, root, "part_date=2026-05-01") == Seq(3L))
    assert(PartitionedSnapshotLake.readLatest(spark, root)
      .select("val").as[String].head() == "a3")
  }

  test("a version superseded within the horizon survives even with " +
      "no manifest pinning it (delta readers may be mid-scan)") {
    val root = threeSnapshots()
    // age snapshots 1..2 so count-based retention WOULD reclaim their
    // pins, but leave the partition markers fresh: v1/v2 were each
    // superseded seconds ago — an in-flight committer may still be
    // scanning one as its merge base, or have made it and not yet
    // published it
    Seq(1L, 2L).foreach { s =>
      val m = new java.io.File(s"$root/_snapshots/$s")
      assert(m.setLastModified(System.currentTimeMillis() - 10L * 60 * 1000))
    }
    PartitionedSnapshotLake.vacuum(spark, root, retainSnapshots = 1,
      readerHazardMs = 60L * 1000)
    assert(PartitionedSnapshotLake
      .partitionVersions(spark, root, "part_date=2026-05-01")
      == Seq(1L, 2L, 3L),
      "recently superseded versions were reclaimed inside the horizon")
  }

  test("readerHazardMs = 0 restores pure count-based retention") {
    val root = threeSnapshots()
    PartitionedSnapshotLake.vacuum(spark, root, retainSnapshots = 2,
      readerHazardMs = 0L)
    assert(PartitionedSnapshotLake.snapshots(spark, root) == Seq(2L, 3L))
  }
}
