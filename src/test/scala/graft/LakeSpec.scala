package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.catalog.PartitionedSnapshotLake
import graft.functions.BvecMath
import graft.ingest.DicomLike

/** Date-partitioned lake layout and MERGE (K3 persisted), bvec
  * geometry, and map fallback. */
class LakeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("lake mergeWrite: create, update, keep, insert, idempotence") {
    val path = Files.createTempDirectory("graft_lake")
      .resolve("exam").toString
    def merge(exclude: Seq[String], rows: (Long, String, Double, String)*) =
      PartitionedSnapshotLake.commitMerge(spark, path,
        rows.toSeq.toDF("id", "name", "price", "ts"), "id", "ts", exclude)._2
    def state = PartitionedSnapshotLake.readLatest(spark, path)
      .orderBy("id").select("id", "name", "price")
      .as[(Long, String, Double)].collect().toSeq

    assert(merge(Nil, (1L, "a", 10.0, "2024-01-01"),
      (2L, "b", 20.0, "2024-01-01")) == Map("inserted" -> 2L))
    val batch =
      Seq((2L, "b", 99.0, "2024-01-01"), (3L, "c", 30.0, "2024-01-02"))
    assert(merge(Nil, batch: _*) ==
      Map("kept" -> 1L, "updated" -> 1L, "inserted" -> 1L))
    val merged = state
    assert(merged == Seq((1L, "a", 10.0), (2L, "b", 99.0), (3L, "c", 30.0)))

    // re-merging the same batch is a no-op (the --twice story), and an
    // exclude-listed column never counts as a change
    assert(merge(Nil, batch: _*) == Map("kept" -> 3L))
    assert(merge(Seq("price"), (1L, "a", 11.0, "2024-01-01")) ==
      Map("kept" -> 2L))
    assert(state == merged)
  }

  /** Every file under a partition's version dirs, with its mtime. */
  private def partFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val d = new java.io.File(dir)
    walk(d).map(f => d.toPath.relativize(f.toPath).toString ->
      f.lastModified()).toMap
  }

  test("partitioned merge touches only the batch's date partitions") {
    val path = Files.createTempDirectory("graft_lake_part")
      .resolve("exam").toString
    def ts(d: String) = java.sql.Timestamp.valueOf(d + " 10:00:00")
    def merge(rows: (Long, String, Double, java.sql.Timestamp)*) =
      PartitionedSnapshotLake.commitMerge(spark, path,
        rows.toSeq.toDF("id", "name", "price", "acq"), "id", "acq")._2
    assert(merge((1L, "a", 10.0, ts("2024-01-01")),
      (2L, "b", 20.0, ts("2024-01-02")),
      (3L, "c", 30.0, ts("2024-01-03"))) == Map("inserted" -> 3L))

    val untouched = partFiles(s"$path/part_date=2024-01-03")
    assert(untouched.keys.exists(_.contains("part-")))

    // batch: update day 1, insert into a brand-new day 4
    val batch = Seq((1L, "a", 99.0, ts("2024-01-01")),
      (4L, "d", 40.0, ts("2024-01-04")))
    assert(merge(batch: _*) == Map("updated" -> 1L, "inserted" -> 1L))

    // day-3 partition: same file names, same mtimes — never rewritten
    assert(partFiles(s"$path/part_date=2024-01-03") == untouched)
    // days 2 and 3 gained no version (not in the batch's date set)
    Seq("2024-01-02", "2024-01-03").foreach { d =>
      assert(PartitionedSnapshotLake.partitionVersions(spark, path,
        s"part_date=$d") == Seq(1L))
    }
    val state = PartitionedSnapshotLake.readLatest(spark, path)
      .orderBy("id").select("id", "name", "price")
      .as[(Long, String, Double)].collect().toSeq
    assert(state == Seq((1L, "a", 99.0), (2L, "b", 20.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))

    // idempotence across the partitioned path
    assert(merge(batch: _*) == Map("kept" -> 2L))
  }

  test("partitioned merge read is pruned to the batch's dates") {
    val path = Files.createTempDirectory("graft_lake_prune")
      .resolve("t").toString
    def ts(d: String) = java.sql.Timestamp.valueOf(d + " 08:00:00")
    val seed = (1 to 10).map(i =>
      (i.toLong, s"n$i", i * 1.0, ts(f"2024-02-${i}%02d")))
      .toDF("id", "name", "price", "acq")
    PartitionedSnapshotLake.commitMerge(spark, path, seed, "id", "acq")
    // the pruned read plan must list only the matching partition
    val df = PartitionedSnapshotLake.readLatest(spark, path).filter(
      col("part_date").isInCollection(
        Seq(java.sql.Date.valueOf("2024-02-03"))))
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    assert(scan.toString.contains("2024-02-03"))
    assert(df.count() == 1)
  }

  test("partitioned merge keeps live null-date rows when the batch " +
      "also has null dates") {
    val path = Files.createTempDirectory("graft_lake_nulldate")
      .resolve("t").toString
    def ts(d: String) = java.sql.Timestamp.valueOf(d + " 08:00:00")
    val nullTs = null.asInstanceOf[java.sql.Timestamp]
    def merge(rows: (Long, String, Double, java.sql.Timestamp)*) =
      PartitionedSnapshotLake.commitMerge(spark, path,
        rows.toSeq.toDF("id", "name", "price", "acq"), "id", "acq")._2
    def latest = PartitionedSnapshotLake.readLatest(spark, path)
    // live table: one dated row, one null-date row (unparseable AcqTime
    // → default partition)
    merge((1L, "a", 1.0, ts("2024-04-01")), (9L, "z", 9.0, nullTs))
    assert(new java.io.File(
      s"$path/part_date=__HIVE_DEFAULT_PARTITION__").isDirectory)
    // batch inserts ANOTHER null-date row: the merge must read the live
    // default partition or row 9 would be silently replaced by
    // batch-only rows
    assert(merge((10L, "y", 10.0, nullTs)) ==
      Map("inserted" -> 1L, "kept" -> 1L))
    val state = latest.orderBy("id")
      .select("id", "name").as[(Long, String)].collect().toSeq
    assert(state == Seq((1L, "a"), (9L, "z"), (10L, "y")))
    // and a null-date UPDATE round-trips too
    assert(merge((9L, "z2", 9.5, nullTs)) ==
      Map("updated" -> 1L, "kept" -> 1L))
    assert(latest.filter(col("id") === 9L)
      .select("name").as[String].head() == "z2")
  }

  test("bvec rotation: identity and axis swap goldens") {
    val id = BvecMath.rotationFromOrientation((1, 0, 0), (0, 1, 0))
    assert(BvecMath.rotate(id, (0.5, -0.5, 0.7)) == ((0.5, -0.5, 0.7)))
    // row along +y, col along +z → third dir = y×z = +x
    val rot = BvecMath.rotationFromOrientation((0, 2, 0), (0, 0, 4))
    assert(rot._3 == ((1.0, 0.0, 0.0)))
    assert(BvecMath.rotate(rot, (1, 0, 0)) == ((0.0, 1.0, 0.0)))
    assert(BvecMath.flipSigns((1, 2, 3), flipX = true, flipY = false,
      flipZ = true) == ((-1.0, 2.0, -3.0)))
  }

  test("metaIndexedProbe collects present indexed keys in order") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      Map("asList[0]" -> "a", "asList[2]" -> "c"),
      Map[String, String]())
      .toDF("meta")
    val got = df.select(DicomLike.metaIndexedProbe(col("meta"), "asList", 4))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("a", "c"), Seq()))
  }

  test("decodeUtf8OrLatin1 falls back on invalid utf8") {
    assert(DicomLike.decodeUtf8OrLatin1("héllo".getBytes("UTF-8")) == "héllo")
    val latin1 = "Pâtient".getBytes("ISO-8859-1") // invalid as UTF-8
    assert(DicomLike.decodeUtf8OrLatin1(latin1) == "Pâtient")
  }

  test("metaFallback resolves dotted keys in order with default") {
    val df = Seq(
      Map("CsaImage.CoilName" -> "HeadNeck"),
      Map("CoilString" -> "Spine"),
      Map("unrelated" -> "x"))
      .toDF("meta")
    val got = df.select(DicomLike.metaFallback(col("meta"),
      Seq("CsaImage.CoilName", "CoilString"), "NULL")).as[String]
      .collect().toSeq
    assert(got == Seq("HeadNeck", "Spine", "NULL"))
  }
}
