package graft.catalog

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** A local filesystem that counts its calls by kind — list, stat
  * (`getFileStatus` and `exists`), open, create, rename, delete and
  * mkdirs — the probe the O(touched) commit contract and the
  * filesystem-call census are asserted against. Only the outermost call
  * of a thread counts: `RawLocalFileSystem` stats each child of a
  * listing and creates through a second overload, and those inner
  * calls are not round trips of their own. Registered under the
  * `countfs` scheme via `fs.countfs.impl`. */
class CountingLocalFs extends RawLocalFileSystem {
  import CountingLocalFs.counted
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
  override def listStatus(f: Path): Array[FileStatus] = counted("list") {
    CountingLocalFs.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus =
    counted("stat")(super.getFileStatus(f))
  override def exists(f: Path): Boolean = counted("stat")(super.exists(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open")(super.open(f, bufferSize))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = counted("create")(
    super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = counted("create")(
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete")(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = counted("mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs")(super.mkdirs(f, permission))
}
object CountingLocalFs {
  val Kinds: Seq[String] =
    Seq("list", "stat", "open", "create", "rename", "delete", "mkdirs")
  private val counts = Kinds.map(_ -> new AtomicLong(0)).toMap
  private val depth = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }
  val listed = new ConcurrentLinkedQueue[String]()

  private def counted[T](kind: String)(body: => T): T = {
    val d = depth.get
    if (d == 0) counts(kind).incrementAndGet()
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  def count(kind: String): Long = counts(kind).get
  /** Every kind's count since the last [[reset]]. */
  def census: Map[String, Long] = Kinds.map(k => k -> count(k)).toMap
  def reset(): Unit = { counts.values.foreach(_.set(0)); listed.clear() }
}

/** An "object store": counts listStatus like [[CountingLocalFs]], but
  * registers under the `s3a` scheme and reports mtime 0 for every
  * DIRECTORY — the flat-namespace semantics (S3/GCS/ABFS) where a
  * parent dir's mtime never reflects child creation, so nothing the
  * lake reads may depend on dir mtimes. */
class NoMtimeCountingFs extends CountingLocalFs {
  override def getScheme: String = "s3a"
  override def getUri: URI = URI.create("s3a:///")
  // rebuild EVERY status as a plain FileStatus (default permissions
  // pre-set): Spark's s3a listing path wraps statuses into
  // LocatedFileStatus, whose constructor eagerly loads permissions —
  // on a lazy DeprecatedRawLocalFileStatus that re-enters File(URI)
  // with the s3a scheme and throws. Dirs additionally get mtime 0
  // (the flat-namespace semantics under test).
  private def strip(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize,
      if (st.isDirectory) 0L else st.getModificationTime, st.getPath)
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(strip)
  override def getFileStatus(f: Path): FileStatus =
    strip(super.getFileStatus(f))
}

/** A local filesystem under the `skewfs` scheme whose reported mtimes
  * lag the host clock by [[LaggingMtimeFs.LagMs]] (2 h): the shape of a
  * vacuum host whose clock runs ahead of the filesystem's. Statuses are
  * rebuilt as plain `FileStatus`es (see [[NoMtimeCountingFs]]). */
class LaggingMtimeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("skewfs:///")
  override def getScheme: String = "file"
  // the lag is taken from the file itself, so a status that passes
  // through both overrides (listStatus stats each child) lags once
  private def lag(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, new java.io.File(st.getPath.toUri.getPath)
        .lastModified - LaggingMtimeFs.LagMs, st.getPath)
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(lag)
  override def getFileStatus(f: Path): FileStatus =
    lag(super.getFileStatus(f))
}
object LaggingMtimeFs {
  val LagMs: Long = 2L * 60 * 60 * 1000
}

/** A local filesystem under the `holdfs` scheme that parks a committer
  * thread once at one filesystem call until the test lets it go. A
  * thread arms itself by setting [[HoldingFs.hold]]: `"rename"` parks
  * before the first rename onto a `v=` dir (a staged partition about to
  * become a version: the merge base is read, the version claimed),
  * `"release"` right after the first claim-lock delete (one partition
  * version is committed). `getScheme` reports `file`, so the lake's
  * create-if-absent and its snapshot publish keep their atomic local
  * paths (`RawLocalFileSystem.rename` replaces an existing file). */
class HoldingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("holdfs:///")
  override def getScheme: String = "file"
  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getName.startsWith("v=")) HoldingFs.at("rename")
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    val ok = super.delete(f, recursive)
    if (f.getName.endsWith(".lock")) HoldingFs.at("release")
    ok
  }
}
object HoldingFs {
  /** Where a thread parks, and the latches that sequence it. */
  final class Hold(val call: String) {
    val parked = new java.util.concurrent.CountDownLatch(1)
    val go = new java.util.concurrent.CountDownLatch(1)
    /** Wait (bounded) until the thread parked. */
    def awaitParked(): Boolean =
      parked.await(60, java.util.concurrent.TimeUnit.SECONDS)
  }
  val hold: ThreadLocal[Hold] = new ThreadLocal[Hold]
  val timeouts = new ConcurrentLinkedQueue[String]()

  private def at(call: String): Unit =
    Option(hold.get).filter(h => h.call == call && h.parked.getCount > 0)
      .foreach { h =>
        h.parked.countDown()
        if (!h.go.await(60, java.util.concurrent.TimeUnit.SECONDS))
          timeouts.add(s"${Thread.currentThread.getName} parked at $call")
      }
}

/** A local filesystem under the `probefs` scheme that interleaves two
  * callers' (roles A and B) filesystem-clock probes: each probe's stat
  * waits until both probes are created, and B's stat also waits until
  * A has deleted its probe — create A, create B, stat A, delete A,
  * stat B. */
class ProbeLatchFs extends RawLocalFileSystem {
  import ProbeLatchFs._
  override def getUri: URI = URI.create("probefs:///")
  override def getScheme: String = "file"
  private def probe(f: Path) =
    role.get != null && f.getName.startsWith("clock")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication,
      blockSize, progress)
    if (probe(f)) created.countDown()
    out
  }
  override def getFileStatus(f: Path): FileStatus = {
    if (probe(f)) {
      created.await(20, java.util.concurrent.TimeUnit.SECONDS)
      if (role.get == "B")
        aDeleted.await(20, java.util.concurrent.TimeUnit.SECONDS)
    }
    super.getFileStatus(f)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    val r = super.delete(f, recursive)
    if (probe(f) && role.get == "A") aDeleted.countDown()
    r
  }
}
object ProbeLatchFs {
  val role: ThreadLocal[String] = new ThreadLocal[String]
  val created = new java.util.concurrent.CountDownLatch(2)
  val aDeleted = new java.util.concurrent.CountDownLatch(1)
}

/** Lock-protocol and at-scale contracts of the snapshot lakes that the
  * black-box [[graft.SnapshotLakeSpec]] cannot reach: the claim ABA
  * recheck, the vacuum heartbeat, the one visibility rule of the
  * partitioned lake (reader atomicity, publish conflicts), its
  * filesystem-call census, and the O(touched-partitions) commit +
  * single-scan snapshot read over a 500-partition lake. */
class LakeProtocolSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("lakeproto").toFile
    d.delete(); d.getAbsolutePath
  }

  private def localFs: FileSystem = FileSystem.get(
    new URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def frame(rows: (Long, String)*) = rows.toSeq.toDF("id", "val")

  private def df(rows: (Long, String, String)*) =
    rows.toSeq.toDF("id", "ts", "val")

  /** The on-disk state a [[PartitionedSnapshotLake.commitMerge]] leaves
    * when its writer dies after a partition commit and before its
    * snapshot publish: the v-dir and its commit marker. `dir` is the
    * lake's local path, whatever scheme the lake uses. */
  private def strandCommit(dir: String, part: String, v: Long,
      rows: (Long, String, String)*): Unit = {
    df(rows: _*).write
      .parquet(new java.io.File(dir, s"$part/v=$v").getAbsolutePath)
    val commits = new java.io.File(dir, s"$part/_commits")
    commits.mkdirs()
    assert(new java.io.File(commits, v.toString).createNewFile())
  }

  /** The pins [[PartitionedSnapshotLake.readLatest]] resolves: the
    * newest snapshot's. */
  private def latestPins(root: String): Map[String, Long] =
    PartitionedSnapshotLake.manifest(spark, root,
      PartitionedSnapshotLake.latestSnapshot(spark, root).get)

  /** Copy of `src` at `dst`, file by file. */
  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(c =>
        copyTree(c, new java.io.File(dst, c.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)
  }

  /** Run `body` on a new thread; its failure is returned by `join`. */
  private def thread(name: String)(body: => Unit) = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() =>
      try body catch { case e: Throwable => failure.set(e) }, name)
    t.start()
    () => { t.join(120000); Option(failure.get) }
  }

  test("ABA guard: a claim computed from a STALE latest cannot re-take " +
      "a committed version whose lock was already released") {
    val root = tmp()
    val fs = localFs
    SnapshotLake.commit(spark, root, frame(1L -> "a")) // v1
    SnapshotLake.commit(spark, root, frame(1L -> "b")) // v2, lock freed
    // writer B read latest=1 BEFORE v2 committed; without the recheck
    // it would atomically re-create the freed 2.lock and own v2
    var calls = 0
    val stale = () => {
      calls += 1
      if (calls == 1) 1L
      else SnapshotLake.latestVersion(spark, root).getOrElse(0L)
    }
    val n = SnapshotLake.claimVersion(fs, root, stale)
    try assert(n == 3L,
      s"claim returned $n: a stale read re-claimed committed version 2")
    finally SnapshotLake.releaseVersion(fs, root, n)
    // and the committed data was never disturbed
    assert(SnapshotLake.readVersion(spark, root, 2)
      .select("val").as[String].head() == "b")
  }

  test("commit refuses to overwrite an existing commit marker " +
      "(belt over the ABA recheck)") {
    val root = tmp()
    val fs = localFs
    SnapshotLake.commit(spark, root, frame(1L -> "a"))
    // force-claim the already-committed version 1 (protocol violation)
    assert(SnapshotLake.atomicCreate(fs,
      new Path(s"$root/_commits", "1.lock")))
    try {
      // replicate commit()'s marker step for the stolen number
      assert(!SnapshotLake.atomicCreate(fs,
        new Path(s"$root/_commits", "1")),
        "marker create-if-absent must fail on a committed version")
    } finally SnapshotLake.releaseVersion(fs, root, 1L)
  }

  test("heartbeat keeps a LIVE writer's aged lock fresh, so vacuum " +
      "spares its claim and in-flight data") {
    val root = tmp()
    val fs = localFs
    SnapshotLake.commit(spark, root, frame(1L -> "v1"))
    // a live writer claimed v2 and is mid-write
    val lock = new java.io.File(s"$root/_commits/2.lock")
    lock.getParentFile.mkdirs()
    assert(lock.createNewFile())
    frame(9L -> "inflight").write.parquet(s"$root/v=2")
    val oldBeat = SnapshotLake.heartbeatIntervalMs
    SnapshotLake.heartbeatIntervalMs = 25L
    try {
      SnapshotLake.withLockHeartbeat(fs, new Path(lock.getAbsolutePath)) {
        // the lock somehow looks ancient (clock skew, slow commit far
        // beyond the TTL) — the heartbeat must re-freshen it
        assert(lock.setLastModified(
          System.currentTimeMillis() - 3L * 60 * 60 * 1000))
        Thread.sleep(250) // >= several beats
        assert(System.currentTimeMillis() - lock.lastModified() <
          60 * 1000, "heartbeat did not refresh the lock mtime")
        SnapshotLake.vacuum(spark, root, retain = 1) // TTL default 1 h
        assert(lock.exists(),
          "vacuum swept a heartbeating (live) writer's lock")
        assert(new java.io.File(s"$root/v=2").exists(),
          "vacuum swept a heartbeating writer's in-flight data")
      }
    } finally SnapshotLake.heartbeatIntervalMs = oldBeat
  }

  test("two concurrent filesystem-clock probes of one directory never " +
      "delete each other's probe") {
    val fs = new ProbeLatchFs
    fs.initialize(URI.create("probefs:///"),
      spark.sparkContext.hadoopConfiguration)
    val dir = new Path(tmp(), "_commits")
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val now = new ConcurrentLinkedQueue[Long]()
    val ts = Seq("A", "B").map(r => new Thread(() => {
      ProbeLatchFs.role.set(r)
      try now.add(SnapshotLake.fsNow(fs, dir))
      catch { case t: Throwable => errors.add(t) }
    }))
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(errors.isEmpty, s"an fsNow call failed: $errors")
    assert(now.size == 2)
    assert(fs.listStatus(dir).isEmpty, "a probe file was left behind")
  }

  test("SnapshotLake.vacuum ages locks on the filesystem's clock: a " +
      "just-claimed version survives a filesystem whose mtimes lag the " +
      "vacuum host's clock by 2 h") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.skewfs.impl", classOf[LaggingMtimeFs].getName)
    val root = tmp()
    SnapshotLake.commit(spark, root, frame(1L -> "v1"))
    // a live writer just claimed v2 and is writing it; another writer
    // commits v3 past it
    val lock = new java.io.File(s"$root/_commits/2.lock")
    assert(lock.createNewFile())
    frame(9L -> "inflight").write.parquet(s"$root/v=2")
    assert(SnapshotLake.commit(spark, root, frame(1L -> "v3")) == 3L)
    SnapshotLake.vacuum(spark, s"skewfs://$root", retain = 1) // TTL 1 h
    assert(lock.exists(),
      "vacuum aged a just-claimed lock on the host clock and deleted it")
    assert(new java.io.File(s"$root/v=2").exists(),
      "vacuum deleted a live writer's in-flight data")
    assert(!new java.io.File(s"$root/v=1").exists(),
      "the retention sweep did not run")
  }

  test("vacuum drops a crash-left filesystem-clock probe older than the " +
      "lock TTL and keeps a young one") {
    val root = tmp()
    SnapshotLake.commit(spark, root, frame(1L -> "v1"))
    // a crash between fsNow's create and its delete leaves its probe
    val old = new java.io.File(s"$root/_commits/clock.crashed-long-ago")
    val young = new java.io.File(s"$root/_commits/clock.crashed-just-now")
    assert(old.createNewFile() && young.createNewFile())
    assert(old.setLastModified(System.currentTimeMillis() - 2L * 3600000L))
    SnapshotLake.vacuum(spark, root, retain = 1) // TTL 1 h
    assert(!old.exists(), "vacuum left an aged clock probe behind")
    assert(young.exists(), "vacuum deleted a young clock probe")
  }

  test("vacuum sweeps the clock probes and publish temp files a crash " +
      "left in _snapshots once as old as the lock TTL, and keeps young " +
      "ones") {
    val root = tmp()
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-04-01", "a")), "id", "ts")
    val snaps = new java.io.File(root, "_snapshots")
    val (old, young) = Seq("clock.", "tmp.").map { prefix =>
      val o = new java.io.File(snaps, s"${prefix}crashed-long-ago")
      val y = new java.io.File(snaps, s"${prefix}crashed-just-now")
      assert(o.createNewFile() && y.createNewFile())
      assert(o.setLastModified(System.currentTimeMillis() - 2L * 3600000L))
      (o, y)
    }.unzip
    PartitionedSnapshotLake.vacuum(spark, root, retainSnapshots = 1) // TTL 1 h
    old.foreach(f => assert(!f.exists(), s"vacuum left aged $f behind"))
    young.foreach(f => assert(f.exists(), s"vacuum deleted young $f"))
    assert(snaps.list().toSet == Set("1") ++ young.map(_.getName),
      s"unexpected _snapshots entries: ${snaps.list().toSeq}")
  }

  test("a reader between the two partition commits of a batch sees the " +
      "pre-batch rows in both partitions") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.holdfs.impl", classOf[HoldingFs].getName)
    val root = s"holdfs://${tmp()}"
    def rows() = PartitionedSnapshotLake.readLatest(spark, root)
      .select("id", "val").as[(Long, String)].collect().toSet
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2027-10-01", "a"), (2L, "2027-10-02", "b")), "id", "ts")
    HoldingFs.timeouts.clear()
    val h = new HoldingFs.Hold("release")
    val join = thread("committer") {
      HoldingFs.hold.set(h)
      PartitionedSnapshotLake.commitMerge(spark, root,
        df((1L, "2027-10-01", "a2"), (2L, "2027-10-02", "b2")), "id", "ts")
    }
    val during =
      try {
        assert(h.awaitParked(), "the committer never committed a partition")
        rows()
      } finally h.go.countDown()
    assert(join().isEmpty, "the batch failed to commit")
    assert(HoldingFs.timeouts.isEmpty, s"${HoldingFs.timeouts}")
    assert(during == Set(1L -> "a", 2L -> "b"),
      s"a reader mid-commit saw part of the batch: $during")
    assert(rows() == Set(1L -> "a2", 2L -> "b2"))
  }

  test("two committers merged against the same pin of one partition: the " +
      "loser's publish throws ConcurrentModificationException and the " +
      "winner's rows are served") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.holdfs.impl", classOf[HoldingFs].getName)
    val dir = tmp()
    val root = s"holdfs://$dir"
    val p = "part_date=2027-11-01"
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2027-11-01", "seed")), "id", "ts")
    HoldingFs.timeouts.clear()
    // both committers read the base and stage their merge, then park
    // before their partition version lands; A commits and publishes
    // first, then B goes on
    val holds = Seq("A", "B").map(_ -> new HoldingFs.Hold("rename")).toMap
    def committer(r: String, id: Long) = thread(r) {
      HoldingFs.hold.set(holds(r))
      PartitionedSnapshotLake.commitMerge(spark, root,
        df((id, "2027-11-01", r)), "id", "ts")
    }
    val joinA = committer("A", 2L)
    val joinB = committer("B", 3L)
    val (a, b) =
      try {
        assert(holds.values.forall(_.awaitParked()),
          "a committer never reached its partition commit")
        holds("A").go.countDown()
        val a = joinA()
        holds("B").go.countDown()
        (a, joinB())
      } finally holds.values.foreach(_.go.countDown())
    assert(HoldingFs.timeouts.isEmpty, s"${HoldingFs.timeouts}")
    assert(a.isEmpty, s"the first committer failed: $a")
    assert(b.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"the second committer's publish did not conflict: $b")
    val latest = PartitionedSnapshotLake.readLatest(spark, root)
      .select("id", "val").as[(Long, String)].collect().toSet
    assert(latest == Set(1L -> "seed", 2L -> "A"),
      s"readLatest does not serve exactly the winner's batch: $latest")
    assert(PartitionedSnapshotLake.snapshots(spark, root) == Seq(1L, 2L))
    // the loser's version is on disk, on the partition's own axis only
    val loser = PartitionedSnapshotLake.partitionVersions(spark, root, p)
      .filterNot(_ == latestPins(root)(p)).max
    assert(PartitionedSnapshotLake.readPartitionVersion(spark, root, p, loser)
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("filesystem-call census: one commitMerge of a 1-partition batch " +
      "into a 3-partition lake, and one readLatest") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val root = s"countfs://${tmp()}"
    PartitionedSnapshotLake.commitMerge(spark, root, df(
      (1L, "2027-12-01", "a"), (2L, "2027-12-02", "b"),
      (3L, "2027-12-03", "c")), "id", "ts")
    CountingLocalFs.reset()
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2027-12-01", "a2")), "id", "ts")
    val commit = CountingLocalFs.census
    CountingLocalFs.reset()
    PartitionedSnapshotLake.readLatest(spark, root)
    val read = CountingLocalFs.census
    info(s"commitMerge: $commit")
    info(s"readLatest: $read")
    // the whole call, Spark's merge-base planning and staging write
    // included. The lake's own commit calls: one _snapshots listing
    // and one snapshot read (the merge base), the version claim (a
    // mkdirs, two _commits listings, the lock create), the v-dir exists
    // check and rename, the marker create, the lock delete, the staging
    // listing and delete, and the publish (a create and a rename here;
    // a create, a link and a delete on file://). The read: one
    // _snapshots listing and one snapshot read, then the footer schema
    // and Spark's file index over the pinned v-dirs
    assert(commit == Map("list" -> 8L, "stat" -> 14L, "open" -> 3L,
      "create" -> 5L, "rename" -> 4L, "delete" -> 4L, "mkdirs" -> 2L))
    assert(read == Map("list" -> 5L, "stat" -> 5L, "open" -> 2L,
      "create" -> 0L, "rename" -> 0L, "delete" -> 0L, "mkdirs" -> 0L))
  }

  test("a lake of the old layout (empty snapshot markers beside " +
      "N.manifest files) is refused with an error that names it") {
    val root = tmp()
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-04-01", "a")), "id", "ts")
    val snaps = new java.io.File(root, "_snapshots")
    java.nio.file.Files.move(new java.io.File(snaps, "1").toPath,
      new java.io.File(snaps, "1.manifest").toPath)
    assert(new java.io.File(snaps, "1").createNewFile())
    Seq[() => Any](
      () => PartitionedSnapshotLake.readLatest(spark, root),
      () => PartitionedSnapshotLake.commitMerge(spark, root,
        df((2L, "2026-04-01", "b")), "id", "ts")).foreach { call =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("old layout"), e.getMessage)
    }
  }

  // SlowTest tier: ~11 s of pure partition fan-out.
  test("AT SCALE: over a 500-partition lake, commit touches O(touched) " +
      "filesystem listings (never the root), the manifest carries " +
      "forward untouched pins, and snapshot reads plan ONE scan",
      graft.SlowTest) {
    // 500 partitions: every assertion below is an ABSOLUTE bound (root
    // listings == 0, listStatus ≤ constants), so the O(touched)/O(1)
    // claims are exactly as strong — a linear-in-partitions regression
    // still blows the constants by 30×+ at this scale
    val NParts = 500
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val dir = tmp()
    val root = s"countfs://$dir"

    // seed partition 0 through the real protocol, then fabricate 499
    // more partitions by direct file copy (cheap, no Spark jobs): the
    // commit under test must not care HOW the others got there
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((0L, "2023-01-01", "seed")), "id", "ts")
    val seed = new java.io.File(dir, "part_date=2023-01-01")
    val day0 = java.time.LocalDate.parse("2023-01-01")
    val parts = (0 until NParts).map(i => s"part_date=${day0.plusDays(i)}")
    parts.drop(1).foreach { p =>
      copyTree(seed, new java.io.File(dir, p))
    }
    // hand-publish snapshot 2 pinning all NParts at v1
    java.nio.file.Files.write(new java.io.File(dir, "_snapshots/2").toPath,
      parts.sorted.map(p => s"$p\t1").mkString("\n").getBytes("UTF-8"))

    // the measured commit: touches 2 of NParts partitions
    CountingLocalFs.reset()
    val (s3, _) = PartitionedSnapshotLake.commitMerge(spark, root,
      df((10L, "2023-01-05", "x"), (11L, "2023-01-06", "y")), "id", "ts")
    val listCalls = CountingLocalFs.count("list")
    def rootLists(): Int = {
      val canonical = new java.io.File(dir).getAbsolutePath
      CountingLocalFs.listed.toArray(Array.empty[String])
        .count(p => p.stripSuffix("/") == canonical)
    }
    assert(s3 == 3L)
    assert(rootLists() == 0,
      s"commit listed the lake ROOT ${rootLists()} times — that is " +
        "O(partitions), not O(touched)")
    assert(listCalls < 150,
      s"commit of 2 touched partitions issued $listCalls listStatus " +
        s"calls over a $NParts-partition lake — not O(touched)")

    // snapshot 3 = snapshot 2 + the 2-partition overlay
    val m3 = PartitionedSnapshotLake.manifest(spark, root, 3L)
    assert(m3.size == NParts)
    assert(m3("part_date=2023-01-05") == 2L &&
      m3("part_date=2023-01-06") == 2L)
    assert(m3("part_date=2023-01-09") == 1L)

    // snapshot read over all pinned partition versions: ONE scan
    val snap = PartitionedSnapshotLake.readVersion(spark, root, 3L)
    val scans = snap.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"time-travel read planned ${scans.size} scans — must be a " +
        "single multi-path FileSourceScan")
    assert(snap.count() == NParts + 2L) // seeds + the 2 new rows
    // part_date survives as a real DATE column parsed from the path
    assert(snap.filter($"part_date" === "2023-01-06")
      .select("val").as[String].collect().toSet == Set("seed", "y"))

    // readLatest's PIN RESOLUTION is one listing of _snapshots and one
    // snapshot-file read — never the lake root, never a per-partition
    // marker walk. (The data scan itself then lists the pinned v-dirs,
    // as any scan of hundreds of partitions must — that part is Spark's
    // parallel file index, not the protocol.)
    CountingLocalFs.reset()
    val pins = latestPins(root)
    assert(CountingLocalFs.count("list") == 1,
      s"pin resolution issued ${CountingLocalFs.count("list")} " +
        s"listStatus calls over a $NParts-partition lake")
    assert(rootLists() == 0)
    assert(pins == m3)
    assert(PartitionedSnapshotLake.readLatest(spark, root)
      .count() == NParts + 2L)
  }

  test("OBJECT STORE (no usable dir mtimes): readLatest's pins come from " +
      "the newest snapshot file in one listing, and a partition version " +
      "no snapshot publishes is never served") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[NoMtimeCountingFs].getName)
    val dir = tmp()
    val root = s"s3a://$dir"

    // seed partition 0 through the real protocol, then fabricate 499
    // more partitions by file copy and hand-publish snapshot 2 pinning
    // all 500 at v1
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((0L, "2024-01-01", "seed")), "id", "ts")
    val seed = new java.io.File(dir, "part_date=2024-01-01")
    val day0 = java.time.LocalDate.parse("2024-01-01")
    val parts = (0 until 500).map(i => s"part_date=${day0.plusDays(i)}")
    parts.drop(1).foreach(p => copyTree(seed, new java.io.File(dir, p)))
    java.nio.file.Files.write(new java.io.File(dir, "_snapshots/2").toPath,
      parts.sorted.map(p => s"$p\t1").mkString("\n").getBytes("UTF-8"))

    // pin resolution is one listing with NO mtime help
    CountingLocalFs.reset()
    val pins = latestPins(root)
    assert(CountingLocalFs.count("list") == 1,
      s"pin resolution issued ${CountingLocalFs.count("list")} " +
        "listStatus calls over a 500-partition object-store lake")
    assert(pins.size == 500 && pins.values.forall(_ == 1L))

    // a crash-stranded version: v-dir and marker, writer died before
    // its publish — never served, and the next commit to the partition
    // merges against the published pin and claims past the strand
    val p = "part_date=2024-01-09"
    strandCommit(dir, p, 2L, (99L, "2024-01-09", "stranded"))
    assert(latestPins(root)(p) == 1L)
    assert(PartitionedSnapshotLake.readLatest(spark, root).count() == 500L)
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((20L, "2024-01-09", "later")), "id", "ts")
    assert(latestPins(root)(p) == 3L)
    assert(PartitionedSnapshotLake.readLatest(spark, root)
      .filter($"part_date" === "2024-01-09")
      .select("val").as[String].collect().toSet == Set("seed", "later"))
  }

  test("a lake created and grown purely through commitMerge on an " +
      "object store gets O(1) readLatest with ZERO repairManifest " +
      "calls") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[NoMtimeCountingFs].getName)
    val dir = tmp()
    val root = s"s3a://$dir"
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2027-01-01", "a"), (2L, "2027-01-02", "b")), "id", "ts")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2027-01-01", "a2"), (3L, "2027-01-03", "c")), "id", "ts")
    CountingLocalFs.reset()
    val pins = latestPins(root)
    assert(pins == Map("part_date=2027-01-01" -> 2L,
      "part_date=2027-01-02" -> 1L, "part_date=2027-01-03" -> 1L))
    assert(CountingLocalFs.count("list") == 1,
      s"a commitMerge-grown lake cost ${CountingLocalFs.count("list")} " +
        "listStatus calls to resolve its pins")
  }

  test("a lake root without a scheme resolves against fs.defaultFS, " +
      "like Spark's own reads and writes of it") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val prev = Option(conf.get("fs.defaultFS"))
    val root = tmp()
    conf.set("fs.defaultFS", "countfs:///")
    try {
      CountingLocalFs.reset()
      PartitionedSnapshotLake.commitMerge(spark, root,
        Seq((1L, "2027-02-01", "a"), (2L, "2027-02-02", "b"))
          .toDF("id", "ts", "val"), "id", "ts")
      val got = PartitionedSnapshotLake.readLatest(spark, root)
        .select("id", "val").as[(Long, String)].collect().sorted.toSeq
      assert(got == Seq((1L, "a"), (2L, "b")))
      // Spark never lists the lake's own protocol dirs: these listings
      // can only come from the lake's filesystem calls
      val listed = CountingLocalFs.listed.toArray(Array.empty[String])
        .map(_.stripSuffix("/")).toSet
      assert(listed.exists(_.endsWith("/_snapshots")),
        s"the lake listed its snapshots off the default FS: $listed")
    } finally prev match {
      case Some(v) => conf.set("fs.defaultFS", v)
      case None => conf.unset("fs.defaultFS")
    }
  }

  test("a stalled writer's late manifest never lowers a pin") {
    val root = tmp()
    val p = "part_date=2027-07-01"
    def merge(id: Long) =
      PartitionedSnapshotLake.commitMerge(spark, root,
        Seq((id, "2027-07-01", "x")).toDF("id", "ts", "val"), "id", "ts")
    merge(1L) // snapshot 1 pins p@1
    // writer A merged on snapshot 1 and committed p@2, then stalled
    // before its publish
    strandCommit(root, p, 2L, (1L, "2027-07-01", "x"), (2L, "2027-07-01", "A"))
    merge(3L) // writer B merges on snapshot 1: p@3, snapshot 2
    assert(latestPins(root)(p) == 3L)
    // A's snapshot lands late: it loses snapshot 2 to B, whose pin moved
    // the partition A merged against
    intercept[java.util.ConcurrentModificationException] {
      PartitionedSnapshotLake.publishSnapshot(localFs, root, 1L,
        PartitionedSnapshotLake.manifest(spark, root, 1L), Map(p -> 2L))
    }
    assert(PartitionedSnapshotLake.snapshots(spark, root) == Seq(1L, 2L),
      "a late manifest was published over a moved pin")
    assert(latestPins(root)(p) == 3L, "a late manifest rolled the pin back")
    assert(PartitionedSnapshotLake.readLatest(spark, root).count() == 2,
      "readLatest lost a later writer's rows to a late manifest")
  }

  test("readLatest under a commit storm serves committed partition " +
      "versions only, never an out-of-band one") {
    val root = tmp()
    val (a, b) = ("2027-08-01", "2027-08-02")
    val oob = "part_date=2027-08-03"
    def batch(k: Int) = df((1L, a, s"$k"), (2L, a, s"$k"),
      (11L, b, s"$k"), (12L, b, s"$k"))
    PartitionedSnapshotLake.commitMerge(spark, root,
      batch(0).union(df((21L, "2027-08-03", "seed"))), "id", "ts")
    // a marker-only version committed out of band: no snapshot pins it,
    // so readLatest keeps serving v1
    SnapshotLake.commit(spark, s"$root/$oob",
      df((21L, "2027-08-03", "out-of-band")))

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // a storm of commits to a disjoint partition races the writer for
    // every snapshot number: the loser of each race publishes on top of
    // the winner
    val storm = thread("storm") {
      var k = 0
      while (!stop.get) {
        k += 1
        PartitionedSnapshotLake.commitMerge(spark, root,
          df((31L, "2027-08-04", s"$k")), "id", "ts")
      }
    }
    val writer = new java.util.concurrent.atomic.AtomicBoolean(true)
    val joinWriter = thread("writer") {
      try (1 to 4).foreach(k =>
        PartitionedSnapshotLake.commitMerge(spark, root, batch(k), "id", "ts"))
      finally writer.set(false)
    }
    var reads = 0
    try {
      while (writer.get) {
        val rows = PartitionedSnapshotLake.readLatest(spark, root)
          .select($"id", $"val").as[(Long, String)].collect().toSeq
        assert(rows.map(_._1).filter(_ != 31L).sorted ==
          Seq(1L, 2L, 11L, 12L, 21L))
        assert(rows.filter(_._1 == 21L).map(_._2) == Seq("seed"),
          s"readLatest served the out-of-band version: $rows")
        // both partitions read back as ONE batch
        val vals = rows.filter(_._1 < 21L).map(_._2).distinct
        assert(vals.size == 1, s"a read mixes batches: $rows")
        reads += 1
      }
    } finally {
      stop.set(true)
      joinWriter().foreach(throw _)
      storm().foreach(throw _)
    }
    assert(reads > 0)
    assert(PartitionedSnapshotLake.readLatest(spark, root)
      .filter($"id" < 21L).select("val").as[String].collect().toSet ==
      Set("4"))
  }
}
