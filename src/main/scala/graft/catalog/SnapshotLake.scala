package graft.catalog

import graft.util.Fs
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.operators.MergeOps

/** Versioned snapshot lake — MVCC history for a parquet table: every
  * commit is a NEW immutable version directory, so "what did the exam
  * table look like before yesterday's merge" (the reference's
  * rerun/recovery theme, do_common.py `--twice`) becomes a time-travel
  * read instead of a restore-from-backup.
  *
  * Layout under `root`:
  * {{{
  *   v=3/part-*.parquet     immutable data, one dir per version
  *   _commits/3             zero-byte marker; its EXISTENCE commits v=3
  * }}}
  *
  * Commit protocol (MULTI-writer, crash-safe at every step):
  *  1. claim a version: atomically create `_commits/n.lock` with
  *     create-if-absent (n = latest+1, bumping past every taken number
  *     until a claim wins) — from here `v=n` belongs to THIS writer
  *     exclusively, so concurrent writers can never interleave on one
  *     data dir;
  *  2. write the frame to `v=n` (invisible — readers only trust markers)
  *  3. create marker `_commits/n` — the commit point — then drop the
  *     lock.
  * The claim is the CAS: `File.createNewFile` (O_CREAT|O_EXCL) on
  * file://, `create(overwrite=false)` on HDFS-likes — both atomic, so
  * two writers racing on `n = latest+1` serialize into versions n and
  * n+1 instead of both thinking they own n. Concurrent
  * [[commitMerge]]s are optimistic: each merges against the latest it
  * READ, so two simultaneous merges land as two versions whose second
  * does not contain the first's batch — no version is ever lost or
  * overwritten, but read-merge-write conflict detection is the
  * caller's policy (compare parent version on commit and retry).
  * A writer that dies before (3) leaves an orphan `v=n` dir and a
  * stale lock that readers never see; later commits skip past the
  * locked number (a gap in the version sequence) and [[vacuum]]
  * reclaims the orphan. Readers never lock: `latest` is a marker
  * listing, data dirs are immutable once committed.
  *
  * Rollback = deleting markers above the target — O(versions), no data
  * copied, and the rolled-back dirs become invisible immediately (the
  * next commit overwrites them). Vacuum deletes data dirs that are
  * below the retention horizon or no longer committed; it never
  * touches the latest version.
  *
  * At 100 TB each version is a full snapshot directory, which is the
  * right shape for the catalog tables this serves (the reference's
  * exam/serie tables — GB-scale); the fact-scale lake
  * ([[PartitionedSnapshotLake]]) versions per partition instead and
  * runs this object's protocol steps under each `part_date=`
  * directory: the version commit ([[commitVersion]]) and the retention
  * sweep ([[sweep]]) exist here once and serve both lakes.
  */
object SnapshotLake {

  private[catalog] def commitsDir(root: String) = new Path(root, "_commits")
  private def versionDir(root: String, v: Long) = new Path(root, s"v=$v")
  private[catalog] def lockPath(root: String, v: Long) =
    new Path(commitsDir(root), s"$v.lock")
  private[catalog] def markerPath(root: String, v: Long) =
    new Path(commitsDir(root), v.toString)

  /** A claim lock's file name: `<n>.lock` under `_commits`. */
  private val LockName = "^(\\d+)\\.lock$".r

  /** Atomic create-if-absent — the commit protocol's CAS primitive —
    * writing `content` in the creating stream. An O_CREAT|O_EXCL open
    * (`Files.newOutputStream(CREATE_NEW)`) for file:// because Hadoop's
    * RawLocalFileSystem `create(overwrite=false)` is a non-atomic
    * exists-then-open; HDFS-like filesystems get
    * `fs.create(overwrite=false)`, which is atomic on the namenode. */
  private[catalog] def atomicCreate(fs: FileSystem, p: Path,
      content: Array[Byte] = Array.emptyByteArray): Boolean =
    // ONLY already-exists means "taken" — any other IOException
    // (permissions, network) must propagate, or a claim loop would spin
    // forever mistaking a broken filesystem for contention
    try {
      val out =
        if (fs.getScheme == "file") {
          val f = new java.io.File(p.toUri.getPath)
          f.getParentFile.mkdirs()
          java.nio.file.Files.newOutputStream(f.toPath,
            java.nio.file.StandardOpenOption.CREATE_NEW)
        } else fs.create(p, false)
      try out.write(content) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
    }

  /** Publish `content` at `p` only if `p` is absent — the commit point
    * of a partitioned-lake snapshot. The content is written whole to a
    * temp file beside `p` (`tmp.<uuid>`) and closed first, so no reader
    * ever sees a partial file. On file:// the temp file then appears at
    * `p` by a hard link, which link(2) refuses onto an existing name;
    * elsewhere by `rename`, which HDFS refuses onto an existing target.
    * An object store's rename is copy-then-delete, which is not a
    * put-if-absent: concurrent publishers there are unsupported. False
    * when `p` already exists; a temp file a crash leaves behind is swept
    * by [[PartitionedSnapshotLake.vacuum]]. */
  private[catalog] def publish(fs: FileSystem, p: Path,
      content: Array[Byte]): Boolean = {
    val tmp = new Path(p.getParent, s"tmp.${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(content) finally out.close()
    if (fs.getScheme == "file")
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(p.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally fs.delete(tmp, false)
    else if (fs.rename(tmp, p)) true
    else {
      fs.delete(tmp, false)
      if (fs.exists(p)) false
      else throw new java.io.IOException(
        s"could not publish $p: the rename of $tmp failed")
    }
  }

  /** Claim the next free version ≥ latest+1 via lock-file CAS; the
    * returned number is owned exclusively by this writer, which must
    * create the commit marker and then [[releaseVersion]] the lock.
    *
    * ABA guard: locks are deleted once their owner commits, so winning
    * the lock CAS alone does NOT prove `n` is free — a writer that read
    * `latest` before a racing commit landed can re-create the lock of
    * an ALREADY-COMMITTED version and silently overwrite it. With the
    * lock held nobody else can commit `n`, so one re-read of `latest`
    * after the win closes the window: a marker at or past `n` means
    * this claim is stale — drop the lock and re-claim higher. */
  private[catalog] def claimVersion(fs: FileSystem, root: String,
      latest: () => Long): Long = {
    var n = latest() + 1L
    while (true) {
      if (atomicCreate(fs, lockPath(root, n))) {
        if (latest() < n) return n
        releaseVersion(fs, root, n) // lost an ABA race on a freed lock
      }
      n = math.max(n + 1L, latest() + 1L)
    }
    -1L // unreachable
  }

  private[catalog] def releaseVersion(fs: FileSystem, root: String,
      v: Long): Unit = fs.delete(lockPath(root, v), false)

  /** Heartbeat cadence for [[withLockHeartbeat]] — package-visible so
    * race specs can shrink it; production default 30 s, far below any
    * sane vacuum `lockTtlMs`. */
  @volatile private[catalog] var heartbeatIntervalMs: Long = 30000L

  /** Refresh `lock`'s mtime on a daemon thread while `body` runs, so
    * [[vacuum]]'s lock-age liveness test keeps seeing a live writer as
    * live no matter how long its commit write takes. `lockTtlMs` then
    * bounds the detection delay for CRASHED writers only — a live
    * commit can safely outlast the TTL. A full process freeze (STW GC
    * pause, SIGSTOP) longer than the TTL still defeats the heartbeat;
    * that bound is inherent to lease-style locks and stays documented
    * on [[vacuum]]. */
  private[catalog] def withLockHeartbeat[T](fs: FileSystem, lock: Path)
      (body: => T): T = {
    val beat = new Thread(() => {
      try {
        while (true) {
          Thread.sleep(heartbeatIntervalMs)
          try {
            val now = System.currentTimeMillis()
            fs.setTimes(lock, now, -1)
          } catch { case _: java.io.IOException => () } // retry next beat
        }
      } catch { case _: InterruptedException => () }
    }, s"lake-lock-heartbeat-${lock.getName}")
    beat.setDaemon(true)
    beat.start()
    try body finally { beat.interrupt(); beat.join(1000) }
  }

  /** The numeric file names in `dir`, ascending; empty when `dir` does
    * not exist. Both lakes' numbered axes are such a listing: a table's
    * commit markers ([[versions]]) and a partitioned lake's snapshot
    * snapshot files ([[PartitionedSnapshotLake.snapshots]]). */
  private[catalog] def numbered(fs: FileSystem, dir: Path): Seq[Long] =
    try fs.listStatus(dir).toSeq.flatMap(_.getPath.getName.toLongOption)
      .sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Committed versions, ascending (empty if the table doesn't exist). */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    numbered(Fs.forPath(spark, root), commitsDir(root))

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** Commit `df` as the next version; returns the new version number.
    * Multi-writer safe: the version number is claimed by lock-file CAS
    * BEFORE any data is written, so racing writers serialize into
    * distinct versions (see the protocol in the class doc).
    * mode=overwrite clobbers an orphan dir a crashed writer left at
    * the same uncommitted version number. */
  def commit(spark: SparkSession, root: String, df: DataFrame): Long =
    commitVersion(Fs.forPath(spark, root), root)(dir =>
      df.write.mode("overwrite").parquet(dir.toString))

  /** The version-commit step of both lakes and both stores
    * ([[StoreLake]]): claim the next version ([[claimVersion]]), `land`
    * the data in its `v=n` dir, create the empty commit marker —
    * create-if-absent, so an existing marker (a protocol violation)
    * fails loudly instead of being overwritten — then release the
    * claim. The claim lock is heartbeated
    * ([[withLockHeartbeat]]) for the whole step, so a concurrent
    * vacuum's lock-TTL test never mistakes a long-running LIVE commit
    * for crash residue, and it is released on EVERY exit: on success
    * the marker exists first, on failure the freed number is safely
    * re-claimable (`land` must clobber an orphan dir it finds). */
  private[catalog] def commitVersion(fs: FileSystem, root: String)(
      land: Path => Unit): Long = {
    fs.mkdirs(commitsDir(root))
    val n = claimVersion(fs, root,
      () => numbered(fs, commitsDir(root)).lastOption.getOrElse(0L))
    try withLockHeartbeat(fs, lockPath(root, n)) {
      land(versionDir(root, n))
      if (!atomicCreate(fs, markerPath(root, n)))
        throw new IllegalStateException(
          s"commit marker $n already exists at $root — concurrent " +
            "commit protocol violation, refusing to overwrite")
    } finally releaseVersion(fs, root, n)
    n
  }

  /** Read the latest committed snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root,
      latestVersion(spark, root).getOrElse(
        throw new IllegalStateException(s"no committed versions at $root")))

  /** Time travel: read snapshot `v` exactly as committed, with the
    * schema its own footer records ([[readKnownSchema]]) — planning
    * the read runs no Spark job. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val fs = Fs.forPath(spark, root)
    require(fs.exists(markerPath(root, v)),
      s"version $v is not committed at $root (rolled back, vacuumed, " +
        s"or never existed); committed: ${versions(spark, root)}")
    readKnownSchema(spark, Seq(versionDir(root, v)), None)
  }

  /** The row schema Spark stored in the footer of the first parquet
    * file found under `dirs`, tried in order (usually one listing and
    * one footer read, in the calling JVM). None when no dir holds a parquet
    * file or the file carries no Spark schema. */
  private[catalog] def footerSchema(spark: SparkSession,
      dirs: Seq[Path]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.iterator.flatMap { d =>
      Fs.forPath(spark, d.toString).listStatus(d).iterator.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
    }.nextOption().flatMap { file =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(file, conf))
      val json =
        try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally reader.close()
      Option(json).map(DataType.fromJson(_).asInstanceOf[StructType])
    }
  }

  /** A parquet read of `dirs` that passes [[footerSchema]] to the reader
    * instead of letting it infer one — inference is a Spark job per
    * read, and every file of a lake version carries the same schema.
    * Hive-style partition columns under `basePath` are still discovered
    * from the paths. Falls back to inference when no footer schema is
    * found. */
  private[catalog] def readKnownSchema(spark: SparkSession, dirs: Seq[Path],
      basePath: Option[String]): DataFrame = {
    val r = basePath.fold(spark.read)(spark.read.option("basePath", _))
    footerSchema(spark, dirs).fold(r)(r.schema)
      .parquet(dirs.map(_.toString): _*)
  }

  /** MERGE `batch` into the latest snapshot and commit the result as a
    * new version. Returns (newVersion, per-merge-status counts); the
    * counts are observed on the commit's own write pass. */
  def commitMerge(spark: SparkSession, root: String, batch: DataFrame,
      key: String, exclude: Seq[String] = Nil): (Long, Map[String, Long]) = {
    val merged = latestVersion(spark, root) match {
      case Some(v) =>
        val db = readVersion(spark, root, v)
        MergeOps.requireSameSchema(db.schema, batch.schema)
        MergeOps.merge(db, batch, key, exclude)
      case None => batch.withColumn("merge_status",
        org.apache.spark.sql.functions.lit("inserted"))
    }
    MergeOps.writeCounted(merged)(commit(spark, root, _))
  }

  /** Roll back to version `v`: every later commit marker is deleted, so
    * `v` is the latest again. Data dirs of rolled-back versions remain
    * until [[vacuum]] (or until a later commit reuses their number). */
  def rollback(spark: SparkSession, root: String, v: Long): Unit = {
    val fs = Fs.forPath(spark, root)
    val vs = versions(spark, root)
    require(vs.contains(v), s"cannot roll back to uncommitted $v ($vs)")
    vs.filter(_ > v).foreach(n => fs.delete(markerPath(root, n), false))
  }

  /** Delete data dirs that are (a) committed but older than the last
    * `retain` versions — their markers go too, so reads past the
    * horizon fail loudly rather than half-read — or (b) uncommitted
    * orphans (crash leftovers / rollbacks) whose version is NOT under
    * a recent claim lock. The latest version is never touched. The
    * deletes are [[sweep]], the retention sweep both lakes share; this
    * vacuum only supplies its keep set.
    *
    * Live-writer safety under multi-writer commits: a lock younger
    * than `lockTtlMs` marks a possibly-IN-FLIGHT claim — its version
    * number can sit below `latest` (other writers commit past a slow
    * one), so position proves nothing; lock AGE does. Young-locked
    * versions and their data dirs are left entirely alone. Live
    * writers HEARTBEAT their claim lock ([[withLockHeartbeat]], every
    * [[heartbeatIntervalMs]] = 30 s) for the whole commit write, so a
    * lock older than the TTL is crash residue (or a process frozen
    * longer than the TTL — the inherent lease bound) and is reclaimed
    * together with its orphan dir. Ages are taken on the FILESYSTEM's
    * clock ([[fsNow]]), the clock that stamped the lock mtimes, so a
    * vacuum host whose clock runs ahead of the filesystem's never
    * ages a live lock past the TTL. `lockTtlMs` therefore only needs
    * to exceed the heartbeat cadence with slack, not the longest
    * commit.
    *
    * READER-side hazard (locks protect writers only): a long-running
    * [[readVersion]] — or a [[commitMerge]] whose merge base is a lazy
    * read of the previous latest — holds no lock, so if enough NEWER
    * commits land during the read that its version ages past `retain`,
    * a concurrent vacuum deletes the files mid-scan → task-time
    * FileNotFound. Same inherent race as Delta/Iceberg VACUUM: size
    * `retain` (and commit cadence) so the retention horizon exceeds
    * the longest read or merge in flight. */
  def vacuum(spark: SparkSession, root: String, retain: Int,
      lockTtlMs: Long = 60L * 60 * 1000): Unit = {
    require(retain >= 1, "retain >= 1")
    val fs = Fs.forPath(spark, root)
    if (fs.exists(commitsDir(root)))
      sweep(fs, root, fsNow(fs, commitsDir(root)), lockTtlMs)(
        _.keys.toSeq.sorted.takeRight(retain).toSet)
  }

  /** "Now" on the filesystem's clock: one throwaway file in `dir`,
    * created and statted back. Every age a vacuum computes compares
    * against FS-stamped mtimes, so its "now" must come from the same
    * clock — a vacuum host running ahead of the namenode by more than
    * `lockTtlMs` would otherwise delete a live writer's claim lock and
    * its in-flight `v=` dir. Each call probes its own uniquely named
    * file, so concurrent vacuums of one lake never delete each other's
    * probe between its create and its stat. The probe's delete is
    * best-effort: a failed delete (or a crash before it) leaves one
    * `clock.<uuid>` file, which [[sweep]] drops once it is as old as
    * the lock TTL. */
  private[catalog] def fsNow(fs: FileSystem, dir: Path): Long = {
    val probe = new Path(dir, s"clock.${java.util.UUID.randomUUID()}")
    fs.mkdirs(dir)
    fs.create(probe, true).close()
    try fs.getFileStatus(probe).getModificationTime
    finally
      try fs.delete(probe, false)
      catch { case _: java.io.IOException => () }
  }

  /** The retention sweep of ONE versioned directory (a table root, or
    * one partition of the partitioned lake), ages taken against `now`
    * ([[fsNow]]):
    *  - claim locks (`<n>.lock`) split into young (younger than
    *    `lockTtlMs`: a possibly-live writer) and stale (crash residue);
    *  - committed versions outside `keep(markerMtimes)` are deleted with
    *    their markers — never the latest;
    *  - uncommitted `v=` dirs below the latest that no young lock claims
    *    (crash leftovers, rollbacks) are deleted;
    *  - stale locks are dropped, and so are [[fsNow]] probe files
    *    (`clock.<uuid>`) as old as `lockTtlMs` — a crash between a
    *    probe's create and its delete leaves one behind.
    * `keep` maps each committed version to its marker's mtime — the
    * only thing the two lakes' retention rules differ on. No-op on a
    * directory with no committed version. */
  private[catalog] def sweep(fs: FileSystem, root: String, now: Long,
      lockTtlMs: Long)(keep: Map[Long, Long] => Set[Long]): Unit = {
    val listing =
      try fs.listStatus(commitsDir(root)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val markers: Map[Long, Long] = listing.flatMap { st =>
      st.getPath.getName.toLongOption.map(_ -> st.getModificationTime)
    }.toMap
    if (markers.isEmpty) return
    val (young, stale) = listing.flatMap { st =>
      st.getPath.getName match {
        case LockName(n) => Some(n.toLong -> st)
        case _ => None
      }
    }.partition { case (_, st) => now - st.getModificationTime < lockTtlMs }
    val latest = markers.keys.max
    val kept = keep(markers) + latest
    markers.keys.filterNot(kept).foreach { v =>
      fs.delete(versionDir(root, v), true)
      fs.delete(markerPath(root, v), false)
    }
    val liveLocked = young.map(_._1).toSet
    fs.listStatus(new Path(root)).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("v="))
        name.stripPrefix("v=").toLongOption.foreach { v =>
          if (!kept(v) && v < latest && !liveLocked(v))
            fs.delete(st.getPath, true)
        }
    }
    stale.foreach { case (_, st) => fs.delete(st.getPath, false) }
    listing.foreach { st =>
      if (st.getPath.getName.startsWith("clock.") &&
        now - st.getModificationTime >= lockTtlMs)
        fs.delete(st.getPath, false)
    }
  }
}
