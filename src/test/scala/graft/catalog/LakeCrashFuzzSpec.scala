package graft.catalog

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** A local filesystem whose MUTATING operations (create, rename,
  * delete, mkdirs, setTimes) count down to an armed kill point; from
  * the kill on, every further mutation fails too. That models process
  * death better than a single thrown exception: a crashed writer's
  * `finally` blocks never run, and here they run but their cleanup
  * I/O fails — on-disk state stays exactly what the crash left.
  * Reads stay live so invariants can be checked "after the restart"
  * without rebuilding filesystem objects. */
class FaultInjectingFs extends RawLocalFileSystem {
  override def getScheme: String = "failfs"
  override def getUri: URI = URI.create("failfs:///")
  // both create overloads RawLocalFileSystem implements: every
  // permission-less create, the lake's `fs.create(path, overwrite)`
  // included (snapshot temp files, markers, lease generations),
  // reaches this one; a create with a permission reaches the one below
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultInjectingFs.gate()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultInjectingFs.gate()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FaultInjectingFs.gate(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultInjectingFs.gate(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultInjectingFs.gate(); super.mkdirs(f, permission)
  }
  override def setTimes(f: Path, mtime: Long, atime: Long): Unit = {
    FaultInjectingFs.gate(); super.setTimes(f, mtime, atime)
  }
}
object FaultInjectingFs {
  val ops = new AtomicLong(0)
  @volatile var killAt: Long = Long.MaxValue
  @volatile var killed = false
  def arm(n: Long): Unit = { ops.set(0); killed = false; killAt = n }
  def disarm(): Unit = { killAt = Long.MaxValue; killed = false }
  def gate(): Unit = {
    if (killed)
      throw new IOException("failfs: filesystem dead after crash point")
    val c = ops.incrementAndGet()
    if (c >= killAt) {
      killed = true
      throw new IOException(s"failfs: injected crash at mutation #$c")
    }
  }
}

/** Randomized kill-point fuzz for the partitioned lake's commit
  * protocol: inject a crash at sampled mutating filesystem operations
  * inside `commitMerge` (data write, version claim, v-dir rename,
  * commit marker, lock release, snapshot publish — whichever the
  * sampled op index lands on) and assert the protocol invariants hold
  * at every point:
  *
  *  1. no torn snapshot — every published snapshot's pins all exist on
  *     disk with commit markers, and time-travel reads of every
  *     snapshot scan cleanly;
  *  2. `readLatest` stays consistent — it reads cleanly and serves
  *     each merge key exactly once;
  *  3. the commit is atomic — `readLatest` serves exactly the
  *     pre-commit rows or exactly the post-commit rows;
  *  4. recovery is complete — one fresh `commitMerge` succeeds over
  *     the crash debris (leftover claim locks are skipped, unpublished
  *     versions are merged past), and the post-recovery snapshot equals
  *     `readLatest` row-for-row.
  *
  * Kill points are sampled with a FIXED seed from the measured
  * op-count of a clean run, always including the first mutation and
  * the protocol-dense tail (marker/lock/publish ops). The exact
  * op→operation mapping varies run to run with Spark task scheduling
  * inside the staged parquet write — that nondeterminism widens
  * coverage across CI runs; the seed keeps the sampled points stable.
  */
class LakeCrashFuzzSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("lakefuzz").toFile
    d.delete(); d.getAbsolutePath
  }

  private def df(rows: (Long, String, String)*) =
    rows.toSeq.toDF("id", "ts", "val")

  private def setupBatch = df(
    (1L, "2026-06-01", "a"), (2L, "2026-06-02", "b"))
  private def crashBatch = df( // updates partition 06-01, opens 06-03
    (1L, "2026-06-01", "a2"), (3L, "2026-06-03", "c"))
  private val preRows = Set(1L -> "a", 2L -> "b")
  private val postRows = Set(1L -> "a2", 2L -> "b", 3L -> "c")
  private def recoveryBatch = df(
    (1L, "2026-06-01", "a3"), (4L, "2026-06-03", "d"))

  private def freshLake(): String = {
    val dir = tmp()
    val root = s"failfs://$dir"
    FaultInjectingFs.disarm()
    PartitionedSnapshotLake.commitMerge(spark, root, setupBatch,
      "id", "ts")
    root
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    URI.create("failfs:///"), spark.sparkContext.hadoopConfiguration)

  private def latestRows(root: String): Set[(Long, String)] =
    PartitionedSnapshotLake.readLatest(spark, root)
      .select("id", "val").as[(Long, String)].collect().toSet

  /** Invariants 1 + 2, checkable at ANY crash point. */
  private def assertInvariants(root: String, clue: String): Unit = {
    val snaps = PartitionedSnapshotLake.snapshots(spark, root)
    snaps.foreach { s =>
      val pins = PartitionedSnapshotLake.manifest(spark, root, s)
      assert(pins.nonEmpty, s"$clue: snapshot $s has an empty manifest")
      pins.foreach { case (p, v) =>
        assert(fs.exists(new Path(s"$root/$p/v=$v")),
          s"$clue: snapshot $s pins missing data dir $p/v=$v — torn")
        assert(fs.exists(new Path(s"$root/$p/_commits/$v")),
          s"$clue: snapshot $s pins UNCOMMITTED version $p/v=$v")
      }
      assert(PartitionedSnapshotLake.readVersion(spark, root, s)
        .count() > 0, s"$clue: snapshot $s does not scan")
    }
    val latest = PartitionedSnapshotLake.readLatest(spark, root)
      .select("id").as[Long].collect().toSeq
    assert(latest.distinct.size == latest.size,
      s"$clue: readLatest serves a merge key twice: " +
        latest.groupBy(identity).filter(_._2.size > 1).keys.mkString(","))
  }

  test("sampled crash points through commitMerge leave no torn state, " +
      "serve the pre- or the post-commit rows, and recover with one " +
      "fresh commit", graft.SlowTest) {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[FaultInjectingFs].getName)
    try {
      // clean probe run: how many mutations does the crash-commit make?
      val probe = freshLake()
      FaultInjectingFs.arm(Long.MaxValue)
      PartitionedSnapshotLake.commitMerge(spark, probe, crashBatch,
        "id", "ts")
      val totalOps = FaultInjectingFs.ops.get()
      FaultInjectingFs.disarm()
      assert(totalOps > 10, s"probe saw only $totalOps mutations")

      // fixed-seed sample + the protocol-dense tail + the first op
      val rnd = new scala.util.Random(0xfa112)
      val points = (Seq.fill(10)(1L + rnd.nextLong(totalOps)) ++
        Seq(1L, totalOps, totalOps - 1, totalOps - 2, totalOps - 4,
          totalOps - 7))
        .distinct.filter(p => p >= 1 && p <= totalOps).sorted
      info(s"clean run = $totalOps mutations; kill points: " +
        points.mkString(", "))

      points.foreach { k =>
        val root = freshLake()
        FaultInjectingFs.arm(k)
        val crashed =
          try { PartitionedSnapshotLake.commitMerge(spark, root,
            crashBatch, "id", "ts"); false }
          catch { case scala.util.control.NonFatal(_) => true }
        FaultInjectingFs.disarm()
        val clue = s"kill@$k (crashed=$crashed)"
        assertInvariants(root, clue)
        val seen = latestRows(root)
        assert(seen == preRows || seen == postRows,
          s"$clue: readLatest serves part of the commit: $seen")
        // recovery: a fresh merge must ride over the crash debris
        val (snap, _) = PartitionedSnapshotLake.commitMerge(spark, root,
          recoveryBatch, "id", "ts")
        assertInvariants(root, s"$clue post-recovery")
        val latest = latestRows(root)
        val snapRows = PartitionedSnapshotLake
          .readVersion(spark, root, snap)
          .select("id", "val").as[(Long, String)].collect().toSet
        assert(latest == snapRows,
          s"$clue: post-recovery snapshot $snap diverges from latest")
        assert(latest.contains(1L -> "a3") && latest.contains(4L -> "d"),
          s"$clue: recovery batch rows missing from $latest")
        assert(latest.contains(2L -> "b"),
          s"$clue: setup partition lost in recovery: $latest")
      }
    } finally FaultInjectingFs.disarm()
  }

  test("sampled crash points through vacuum never break retained " +
      "snapshots, and a rerun completes the interrupted sweep",
      graft.SlowTest) {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[FaultInjectingFs].getName)
    try {
      def build(): String = {
        val root = freshLake() // snapshot 1 (2 partitions)
        FaultInjectingFs.disarm()
        PartitionedSnapshotLake.commitMerge(spark, root, crashBatch,
          "id", "ts") // snapshot 2
        PartitionedSnapshotLake.commitMerge(spark, root, recoveryBatch,
          "id", "ts") // snapshot 3
        root
      }
      def vac(root: String): Unit =
        PartitionedSnapshotLake.vacuum(spark, root, retainSnapshots = 1,
          readerHazardMs = 0L)
      // clean probe: mutations in a full sweep of this lake shape
      val probe = build()
      FaultInjectingFs.arm(Long.MaxValue)
      vac(probe)
      val total = FaultInjectingFs.ops.get()
      FaultInjectingFs.disarm()
      assert(total >= 3, s"vacuum probe saw only $total mutations")

      val rnd = new scala.util.Random(0xdead5eed)
      val points = (Seq.fill(6)(1L + rnd.nextLong(total)) ++
        Seq(1L, total)).distinct.filter(p => p >= 1 && p <= total).sorted
      info(s"vacuum sweep = $total mutations; kill points: " +
        points.mkString(", "))
      points.foreach { k =>
        val root = build()
        FaultInjectingFs.arm(k)
        val crashed =
          try { vac(root); false }
          catch { case scala.util.control.NonFatal(_) => true }
        FaultInjectingFs.disarm()
        val clue = s"vacuum kill@$k (crashed=$crashed)"
        // whatever the crash point: the snapshot that must survive
        // (newest) reads in full, and readLatest stays consistent
        val snaps = PartitionedSnapshotLake.snapshots(spark, root)
        assert(snaps.contains(3L), s"$clue: newest snapshot lost")
        assert(PartitionedSnapshotLake.readVersion(spark, root, 3L)
          .count() == 4, s"$clue: retained snapshot no longer whole")
        val ids = PartitionedSnapshotLake.readLatest(spark, root)
          .select("id").as[Long].collect().toSeq
        assert(ids.sorted == Seq(1L, 2L, 3L, 4L),
          s"$clue: readLatest rows wrong: $ids")
        // the rerun finishes the job and converges to the clean state
        vac(root)
        assert(PartitionedSnapshotLake.snapshots(spark, root) == Seq(3L),
          s"$clue: rerun did not converge")
        assert(PartitionedSnapshotLake.readVersion(spark, root, 3L)
          .count() == 4, s"$clue: post-rerun snapshot broken")
      }
    } finally FaultInjectingFs.disarm()
  }
}
