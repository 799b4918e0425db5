package graft.catalog

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** A local filesystem that counts `listStatus` calls — the probe the
  * O(touched) commit contract is asserted against. Registered under the
  * `countfs` scheme via `fs.countfs.impl`. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.calls.incrementAndGet()
    CountingLocalFs.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
}
object CountingLocalFs {
  val calls = new AtomicLong(0)
  val listed = new ConcurrentLinkedQueue[String]()
  def reset(): Unit = { calls.set(0); listed.clear() }
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

/** A local filesystem under the `slowlog` scheme whose listing of a
  * commit-log dir (`_log`) sleeps 20 ms on threads that opted in: it
  * widens a reader's pin resolution so that concurrent manifest commits
  * land inside it. `getScheme` reports `file`, so the lake's
  * create-if-absent CAS keeps its atomic `File.createNewFile` path. */
class SlowLogListingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("slowlog:///")
  override def getScheme: String = "file"
  override def listStatus(f: Path): Array[FileStatus] = {
    if (SlowLogListingFs.slowed.get && f.getName == "_log") Thread.sleep(20)
    super.listStatus(f)
  }
}
object SlowLogListingFs {
  val slowed: ThreadLocal[Boolean] = ThreadLocal.withInitial(() => false)
}

/** Lock-protocol and at-scale contracts of the snapshot lakes that the
  * black-box [[graft.SnapshotLakeSpec]] cannot reach: the claim ABA
  * recheck, the vacuum heartbeat, the manifest mutex, and the
  * O(touched-partitions) commit + single-scan snapshot read over a
  * 500-partition lake. */
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

  /** The on-disk state a [[PartitionedSnapshotLake.commitMerge]] leaves
    * when its writer dies after a partition commit and before its
    * manifest: the v-dir, its commit-log entry and its commit marker.
    * `dir` is the lake's local path, whatever scheme the lake uses. */
  private def strandCommit(dir: String, part: String, v: Long,
      rows: (Long, String, String)*): Unit = {
    rows.toSeq.toDF("id", "ts", "val").write
      .parquet(new java.io.File(dir, s"$part/v=$v").getAbsolutePath)
    val log = new java.io.File(dir, "_snapshots/_log")
    log.mkdirs()
    assert(new java.io.File(log, s"$part@$v").createNewFile())
    val commits = new java.io.File(dir, s"$part/_commits")
    commits.mkdirs()
    assert(new java.io.File(commits, v.toString).createNewFile())
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

  test("a stale manifest mutex (crashed holder) is broken by the next " +
      "committer; a fresh one blocks until released") {
    val root = tmp()
    def df(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "ts", "val")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-03-01", "a")), "id", "ts")
    // crashed holder: mutex exists, no heartbeat, mtime far in the past
    val mlock = new java.io.File(
      s"$root/_snapshots/_commits/manifest.lock")
    mlock.getParentFile.mkdirs()
    assert(mlock.createNewFile())
    assert(mlock.setLastModified(
      System.currentTimeMillis() - 3L * 60 * 60 * 1000))
    val (s2, _) = PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-03-01", "a2")), "id", "ts")
    assert(s2 == 2L, "commit did not break the stale manifest mutex")
    assert(!mlock.exists, "broken+released mutex must not linger")
  }

  test("repairManifest picks up partition versions stranded by a crash " +
      "between partition commits and the manifest") {
    val root = tmp()
    def df(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "ts", "val")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2026-04-01", "a"), (2L, "2026-04-02", "b")), "id", "ts")
    // a writer that committed a partition version but died before
    // its manifest
    val p = "part_date=2026-04-03"
    strandCommit(root, p, 1L, (3L, "2026-04-03", "c"))
    assert(PartitionedSnapshotLake
      .manifest(spark, root, 1L).get(p).isEmpty,
      "stranded partition must be absent from the pre-crash manifest")
    assert(PartitionedSnapshotLake.readLatest(spark, root).count() == 3,
      "readLatest must already see the orphan through its log entry")
    val s2 = PartitionedSnapshotLake.repairManifest(spark, root)
    assert(s2 == 2L)
    assert(PartitionedSnapshotLake.manifest(spark, root, s2) ==
      Map("part_date=2026-04-01" -> 1L, "part_date=2026-04-02" -> 1L,
        p -> 1L))
    assert(PartitionedSnapshotLake.readVersion(spark, root, s2)
      .count() == 3)
  }

  // SlowTest tier since r14 (~11 s of pure partition fan-out;
  // suite-budget ask #7). Runs every round in the bench window.
  test("AT SCALE: over a 500-partition lake, commit touches O(touched) " +
      "filesystem listings (never the root), the manifest carries " +
      "forward untouched pins, and snapshot reads plan ONE scan",
      graft.SlowTest) {
    // 500 partitions, not 1000 (r12 suite-budget trim): every
    // assertion below is an ABSOLUTE bound (root listings == 0,
    // listStatus ≤ constants), so the O(touched)/O(1) claims are
    // exactly as strong — a linear-in-partitions regression still
    // blows the constants by 30×+ at this scale
    val NParts = 500
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val dir = tmp()
    val root = s"countfs://$dir"

    // seed partition 0 through the real protocol, then fabricate 999
    // more partitions by direct file copy (cheap, no Spark jobs): the
    // commit under test must not care HOW the others got there
    def df(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "ts", "val")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((0L, "2023-01-01", "seed")), "id", "ts")
    val seed = new java.io.File(dir, "part_date=2023-01-01")
    val day0 = java.time.LocalDate.parse("2023-01-01")
    def copyTree(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(c =>
          copyTree(c, new java.io.File(dst, c.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    val parts = (0 until NParts).map(i => s"part_date=${day0.plusDays(i)}")
    parts.drop(1).foreach { p =>
      copyTree(seed, new java.io.File(dir, p))
    }
    // hand-write manifest 2 pinning all NParts at v1 (the repair shape)
    val snaps = new java.io.File(dir, "_snapshots")
    java.nio.file.Files.write(new java.io.File(snaps, "2.manifest").toPath,
      parts.sorted.map(p => s"$p\t1").mkString("\n")
        .getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(snaps, "2").toPath,
      Array.emptyByteArray)

    // the measured commit: touches 2 of NParts partitions
    CountingLocalFs.reset()
    val (s3, _) = PartitionedSnapshotLake.commitMerge(spark, root,
      df((10L, "2023-01-05", "x"), (11L, "2023-01-06", "y")), "id", "ts")
    val listCalls = CountingLocalFs.calls.get()
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

    // manifest 3 = manifest 2 + the 2-partition overlay
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

    // readLatest's PIN RESOLUTION is O(1)-listing: newest-manifest
    // pins + one commit-log listing — never the lake root, never a
    // per-partition marker walk over them all. (The data scan itself
    // then lists the pinned v-dirs, as any scan of hundreds of
    // partitions must — that part is Spark's parallel file index, not
    // the protocol.)
    CountingLocalFs.reset()
    val pins = PartitionedSnapshotLake.latestPins(spark, root)
    val pinCalls = CountingLocalFs.calls.get()
    assert(pinCalls <= 12,
      s"latestPins issued $pinCalls listStatus calls over a " +
        s"$NParts-partition lake — pin resolution is O(partitions), " +
        "not O(1)-listing")
    assert(rootLists() == 0,
      s"latestPins listed the lake ROOT ${rootLists()} times — the " +
        "delta must come from the commit log alone")
    assert(pins.size == NParts)
    assert(pins("part_date=2023-01-05") == 2L &&
      pins("part_date=2023-01-09") == 1L)
    assert(PartitionedSnapshotLake.readLatest(spark, root)
      .count() == NParts + 2L)

    // a partition version stranded AFTER the manifest (crashed writer)
    // must still be visible: its log entry names exactly that partition
    strandCommit(dir, "part_date=2023-01-09", 2L,
      (99L, "2023-01-09", "stranded"))
    CountingLocalFs.reset()
    val pins2 = PartitionedSnapshotLake.latestPins(spark, root)
    val strandCalls = CountingLocalFs.calls.get()
    assert(pins2("part_date=2023-01-09") == 2L,
      "latestPins missed a partition version committed after the " +
        "newest manifest")
    assert(strandCalls <= 15,
      s"the 1-partition delta cost $strandCalls listStatus calls — " +
        "delta resolution is not O(delta)")
    // v=2 is a full partition snapshot, so latest serves exactly it —
    // while snapshot 3 still time-travels to the pre-strand v=1
    assert(PartitionedSnapshotLake.readLatest(spark, root)
      .filter($"part_date" === "2023-01-09")
      .select("val").as[String].collect().toSet == Set("stranded"),
      "readLatest must serve the stranded version through the delta")
    assert(PartitionedSnapshotLake.readVersion(spark, root, 3L)
      .filter($"part_date" === "2023-01-09")
      .select("val").as[String].collect().toSet == Set("seed"))

    // the carried-pin trap: a LATER writer now commits a DIFFERENT
    // partition, minting manifest 4 that carries 2023-01-09 forward at
    // its stale pin. The strand must STAY visible — the carried v1 pin
    // does not cover the v2 entry, so manifest-commit pruning keeps it
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((20L, "2023-01-07", "later")), "id", "ts")
    val pins3 = PartitionedSnapshotLake.latestPins(spark, root)
    assert(pins3("part_date=2023-01-09") == 2L,
      "a later writer's manifest hid a crash-stranded partition " +
        "version from readLatest (carried pin went untested)")
  }

  test("OBJECT STORE (no usable dir mtimes): latestPins derives its " +
      "delta from the COMMIT LOG alone — O(1) listStatus in partition " +
      "count, crash-stranded versions served, dangling entries " +
      "filtered, later manifests can't hide the strand") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[NoMtimeCountingFs].getName)
    val dir = tmp()
    val root = s"s3a://$dir"
    def df(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "ts", "val")

    // seed partition 0 through the real protocol (manifest 1 + the
    // commit log dir), then fabricate 499 more partitions by file copy
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((0L, "2024-01-01", "seed")), "id", "ts")
    val seed = new java.io.File(dir, "part_date=2024-01-01")
    val day0 = java.time.LocalDate.parse("2024-01-01")
    def copyTree(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(c =>
          copyTree(c, new java.io.File(dst, c.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    val parts = (0 until 500).map(i => s"part_date=${day0.plusDays(i)}")
    parts.drop(1).foreach(p => copyTree(seed, new java.io.File(dir, p)))
    val snaps = new java.io.File(dir, "_snapshots")
    // the fabricated partitions carry no log entries (they arrived out
    // of band): repairManifest pins all 500 at v1 (manifest 2)
    assert(PartitionedSnapshotLake.repairManifest(spark, root) == 2L)

    // clean state: pin resolution is O(1)-listing with NO mtime help
    CountingLocalFs.reset()
    val pins = PartitionedSnapshotLake.latestPins(spark, root)
    val cleanCalls = CountingLocalFs.calls.get()
    assert(pins.size == 500)
    assert(pins.values.forall(_ == 1L))
    assert(cleanCalls <= 8,
      s"latestPins issued $cleanCalls listStatus calls over a " +
        "500-partition object-store lake — not O(1)")

    // crash-stranded version: the exact commitMerge crash state —
    // v-dir renamed in, LOG ENTRY written, marker written, writer
    // died before its manifest
    val p = "part_date=2024-01-09"
    strandCommit(dir, p, 2L, (0L, "2024-01-09", "seed"))
    // and a DANGLING entry (died between entry and marker): must not
    // surface — its version never committed
    val q = "part_date=2024-01-10"
    java.nio.file.Files.write(
      new java.io.File(snaps, s"_log/$q@2").toPath,
      Array.emptyByteArray)

    CountingLocalFs.reset()
    val pins2 = PartitionedSnapshotLake.latestPins(spark, root)
    val strandCalls = CountingLocalFs.calls.get()
    assert(pins2(p) == 2L,
      "the commit log failed to surface a crash-stranded version on " +
        "an object store (dir mtimes useless there)")
    assert(pins2(q) == 1L,
      "a dangling log entry (no commit marker) leaked an uncommitted " +
        "version into readLatest")
    assert(strandCalls <= 8,
      s"log-delta resolution cost $strandCalls listStatus calls — " +
        "not O(delta)")
    assert(PartitionedSnapshotLake.readLatest(spark, root)
      .count() == 500L)

    // the carried-pin trap, object-store edition: a later writer
    // commits a DIFFERENT partition (manifest 3 carries p at v1);
    // manifest-commit pruning must keep p@2 (not covered) and the
    // strand must stay visible
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((20L, "2024-01-03", "later")), "id", "ts")
    val pins3 = PartitionedSnapshotLake.latestPins(spark, root)
    assert(pins3(p) == 2L,
      "a later writer's manifest pruned/hid the stranded version's " +
        "log entry")
    assert(pins3("part_date=2024-01-03") == 2L)
    // repair heals: the strand gets pinned, its entry pruned, and the
    // log path keeps serving O(1)
    PartitionedSnapshotLake.repairManifest(spark, root)
    assert(!new java.io.File(snaps, s"_log/$p@2").exists,
      "repairManifest's manifest covers the strand — its log entry " +
        "should be pruned at manifest commit")
    CountingLocalFs.reset()
    val pins4 = PartitionedSnapshotLake.latestPins(spark, root)
    assert(pins4(p) == 2L && pins4.size == 500)
    assert(CountingLocalFs.calls.get() <= 8)
  }

  test("vacuum's dangling-log-entry sweep: a live (young-locked) " +
      "writer's pre-marker entry survives; true crash debris goes " +
      "once past the TTL; covered entries are pruned") {
    def df(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "ts", "val")
    val root = tmp()
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2025-05-01", "a"), (2L, "2025-05-02", "b")), "id", "ts")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2025-05-01", "a2")), "id", "ts")
    val p = "part_date=2025-05-01"
    val logDir = new java.io.File(s"$root/_snapshots/_log")
    logDir.mkdirs()
    val old = System.currentTimeMillis() - 3L * 60 * 60 * 1000
    // (1) live writer mid-commit: aged entry for v=9, NO marker, but a
    // YOUNG claim lock — must survive the sweep
    val live = new java.io.File(logDir, s"$p@9")
    assert(live.createNewFile()); assert(live.setLastModified(old))
    val lock = new java.io.File(s"$root/$p/_commits/9.lock")
    assert(lock.createNewFile()) // fresh mtime = heartbeating holder
    // (2) crash debris: aged entry for v=8, no marker, no lock
    val dead = new java.io.File(logDir, s"$p@8")
    assert(dead.createNewFile()); assert(dead.setLastModified(old))
    // (3) covered: entry for v=1, pinned (≥) by the newest manifest
    val covered = new java.io.File(logDir, s"$p@1")
    assert(covered.createNewFile())
    PartitionedSnapshotLake.vacuum(spark, root, retainSnapshots = 2)
    assert(live.exists,
      "vacuum deleted a young-locked (live) writer's log entry — a " +
        "writer between its entry and marker would lose its version " +
        "from the object-store read path")
    assert(!dead.exists, "aged no-marker no-lock entry not swept")
    assert(!covered.exists, "manifest-covered entry not pruned")
    lock.delete(): Unit
  }

  test("a lake created and grown purely through commitMerge on an " +
      "object store gets O(1) readLatest with ZERO repairManifest " +
      "calls") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[NoMtimeCountingFs].getName)
    val dir = tmp()
    val root = s"s3a://$dir"
    def df(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "ts", "val")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2027-01-01", "a"), (2L, "2027-01-02", "b")), "id", "ts")
    PartitionedSnapshotLake.commitMerge(spark, root,
      df((1L, "2027-01-01", "a2"), (3L, "2027-01-03", "c")), "id", "ts")
    CountingLocalFs.reset()
    val pins = PartitionedSnapshotLake.latestPins(spark, root)
    assert(pins == Map("part_date=2027-01-01" -> 2L,
      "part_date=2027-01-02" -> 1L, "part_date=2027-01-03" -> 1L))
    assert(CountingLocalFs.calls.get() <= 8,
      s"a commitMerge-grown lake cost ${CountingLocalFs.calls.get()} " +
        "listStatus calls — the O(1) log path is not on by default")
    // a crash-stranded commit (entry + marker, no manifest) is served
    // through the log alone
    val p = "part_date=2027-01-02"
    strandCommit(dir, p, 2L, (2L, "2027-01-02", "b"))
    assert(PartitionedSnapshotLake.latestPins(spark, root)(p) == 2L,
      "the commit-log path missed a crash-stranded version")
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
      assert(listed.exists(_.endsWith("/_snapshots/_log")),
        s"the lake listed its commit log off the default FS: $listed")
    } finally prev match {
      case Some(v) => conf.set("fs.defaultFS", v)
      case None => conf.unset("fs.defaultFS")
    }
  }

  test("out-of-band commits into a CERTIFIED lake are detected and " +
      "warned on the next commitMerge; in-contract commits stay silent") {
    val root = tmp()
    def merge(id: Long, v: String) =
      PartitionedSnapshotLake.commitMerge(spark, root,
        Seq((id, "2027-06-01", v)).toDF("id", "ts", "val"), "id", "ts")
    merge(1L, "a")
    merge(2L, "b") // in-contract: detector must stay SILENT
    assert(PartitionedSnapshotLake.lastOutOfBandWarning.isEmpty,
      "an in-contract commit false-flagged as out-of-band")
    // OUT-OF-BAND: a direct SnapshotLake.commit into the partition dir
    // writes a marker but no log entry — the class readLatest's log
    // delta cannot see, on file:// exactly as on an object store
    val p = "part_date=2027-06-01"
    SnapshotLake.commit(spark, s"$root/$p",
      Seq((9L, "2027-06-01", "c")).toDF("id", "ts", "val")) // v3
    assert(PartitionedSnapshotLake.latestPins(spark, root)(p) == 2L,
      "readLatest served an out-of-band version with no log entry — " +
        "freshness must come from the commit log alone")
    merge(3L, "d") // next commitMerge touching the partition: WARNs
    val missing = PartitionedSnapshotLake.lastOutOfBandWarning
    assert(missing.get(p).exists(_ == Seq(3L)),
      s"the out-of-band v3 went undetected: $missing")
    // this merge's manifest pinned v4 >= v3: the orphan is covered,
    // the data is served, and the follow-up check is clean again
    merge(4L, "e")
    assert(PartitionedSnapshotLake.lastOutOfBandWarning.isEmpty,
      "the detector kept warning after a manifest covered the orphan")
  }

  test("a stalled writer's late manifest never lowers a pin") {
    val root = tmp()
    val p = "part_date=2027-07-01"
    def merge(id: Long) =
      PartitionedSnapshotLake.commitMerge(spark, root,
        Seq((id, "2027-07-01", "x")).toDF("id", "ts", "val"), "id", "ts")
    merge(1L) // writer A's p@1 — A stalls before its manifest
    merge(2L) // writer B merges on v1: p@2, its manifest, log pruned
    assert(PartitionedSnapshotLake.readLatest(spark, root).count() == 2)
    // A's manifest lands late, overlaying p -> 1
    val n = PartitionedSnapshotLake.commitManifest(spark, root, Map(p -> 1L))
    assert(PartitionedSnapshotLake.manifest(spark, root, n)(p) == 2L,
      "a late manifest rolled the partition's pin back")
    assert(PartitionedSnapshotLake.readLatest(spark, root).count() == 2,
      "readLatest lost a later writer's rows to a late manifest")
  }

  test("readLatest under a commit storm serves committed partition " +
      "versions only, never an out-of-band one") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.slowlog.impl", classOf[SlowLogListingFs].getName)
    val root = s"slowlog://${tmp()}"
    def frame(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "ts", "val")
    val (a, b) = ("2027-08-01", "2027-08-02")
    val oob = "part_date=2027-08-03"
    def batch(k: Int) = frame((1L, a, s"$k"), (2L, a, s"$k"),
      (11L, b, s"$k"), (12L, b, s"$k"))
    PartitionedSnapshotLake.commitMerge(spark, root,
      batch(0).union(frame((21L, "2027-08-03", "seed"))), "id", "ts")
    // a marker-only version committed out of band: readLatest must keep
    // serving the logged v1 until a commitMerge or repairManifest
    SnapshotLake.commit(spark, s"$root/$oob",
      frame((21L, "2027-08-03", "out-of-band")))

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def thread(body: => Unit) = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => failure.compareAndSet(null, e) })
      t.start(); t
    }
    // manifest-only commits, back to back: with the reader's log
    // listing slowed, the snapshot moves under every pin resolution
    // it makes
    val storm = thread {
      while (!stop.get) {
        PartitionedSnapshotLake.commitManifest(spark, root, Map.empty)
        Thread.sleep(2) // lets the writer's 20 ms mutex poll in
      }
    }
    val writer = thread {
      (1 to 4).foreach(k => PartitionedSnapshotLake.commitMerge(spark,
        root, batch(k), "id", "ts"))
    }
    var reads = 0
    SlowLogListingFs.slowed.set(true)
    try {
      while (writer.isAlive && failure.get == null) {
        val pins = PartitionedSnapshotLake.latestPins(spark, root)
        assert(pins(oob) == 1L, s"latestPins served the out-of-band $pins")
        if (reads % 20 == 0) {
          val rows = PartitionedSnapshotLake.readLatest(spark, root)
            .select($"id", $"val", $"part_date".cast("string"))
            .as[(Long, String, String)].collect().toSeq
          assert(rows.map(_._1).sorted == Seq(1L, 2L, 11L, 12L, 21L))
          assert(rows.filter(_._1 == 21L).map(_._2) == Seq("seed"))
          // each partition reads back as ONE committed version
          rows.filter(_._1 < 21L).groupBy(_._3).foreach { case (d, rs) =>
            assert(rs.map(_._2).distinct.size == 1,
              s"partition $d mixes versions: $rs")
          }
        }
        reads += 1
      }
    } finally {
      SlowLogListingFs.slowed.set(false)
      stop.set(true)
      writer.join(); storm.join()
    }
    Option(failure.get).foreach(throw _)
    assert(reads > 0)
    assert(PartitionedSnapshotLake.readLatest(spark, root)
      .filter($"id" < 21L).select("val").as[String].collect().toSet ==
      Set("4"))
  }
}
