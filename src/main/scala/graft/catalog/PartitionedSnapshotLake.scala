package graft.catalog

import graft.util.Fs
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, date_format, lit, to_date}
import org.apache.spark.sql.types.DateType
import graft.operators.MergeOps

/** Fact-scale snapshot lake: [[SnapshotLake]]'s version commit applied
  * PER `part_date=` PARTITION, plus numbered global snapshots — the
  * shape SnapshotLake's own doc prescribes for tables where a full-copy
  * version per commit is unpayable (at 100 TB a daily batch touches a
  * handful of date partitions; versioning must cost O(touched), not
  * O(table)).
  *
  * Layout under `root`:
  * {{{
  *   part_date=2026-01-07/
  *     v=1/part-*.parquet      immutable partition snapshot
  *     v=2/...
  *     _commits/1 2            per-partition markers (SnapshotLake CAS)
  *   _snapshots/
  *     3                       "partition TAB version" lines; publishing
  *                             this file commits global snapshot 3
  * }}}
  *
  * ONE visibility rule: a commit is visible once its snapshot file is
  * published, and readers and mergers trust nothing else. A commit
  * (a) reads the newest snapshot N once — its pins are the merge base
  * of the affected partitions and one pinned file's footer is the live
  * schema; (b) merges the batch against those pins only; (c) commits
  * each rewritten partition as a new partition version through
  * [[SnapshotLake.commitVersion]] (lock-CAS claim with the ABA recheck,
  * heartbeated while held); (d) publishes snapshot N+1 = N's pins ++
  * its own versions ([[SnapshotLake.publish]]: written whole beside
  * `N+1`, then made to appear there only if absent). O(touched) work:
  * untouched partitions are carried forward without a listing.
  *
  * Multi-writer: a committer that loses the publish race reads the
  * winning snapshot. If the winner moved a partition this commit merged
  * against, the commit throws `ConcurrentModificationException` and its
  * partition versions stay unpublished; otherwise it publishes on top
  * of the winner. Writers on disjoint partitions compose; writers on
  * the same partition never lose a batch silently. The publish is
  * atomic where the filesystem gives a put-if-absent: a hard link on
  * file://, a rename on HDFS. On object stores rename is copy-then-
  * delete, so concurrent committers there are unsupported.
  *
  * Crash safety: death anywhere before the publish leaves partition
  * versions that no snapshot pins — readers never see them, and the
  * next commit to the partition claims a higher version merged against
  * the published pin. A reader sees either the whole commit or none of
  * it.
  *
  * Reads:
  *  - [[readLatest]]: the newest published snapshot;
  *  - [[readVersion]] (global time travel): exactly the per-partition
  *    versions snapshot N pinned, whatever has been committed since;
  *  - [[readPartitionVersion]]: one partition's history on its own
  *    axis (the "what did yesterday's partition look like before
  *    today's backfill" question, without touching the other 36500).
  *
  * Retention runs [[SnapshotLake.sweep]] per partition ([[vacuum]]).
  *
  * Contract: `to_date(tsCol)` must be stable per key (the reference's
  * AcqDate-never-changes invariant, common.py:267-306) — rows outside
  * the batch's dates are never read, so a key that moved dates would
  * insert a second copy. The schema is fixed at the lake's first
  * commit: [[commitMerge]] refuses a batch that adds, lacks or
  * retypes a column against the live schema
  * ([[graft.operators.MergeOps.requireSameSchema]]) instead of
  * dropping or casting it, so a schema change is a new lake written
  * explicitly, never a merge side effect. A lake of the old layout
  * (empty `_snapshots/N` markers beside `N.manifest` files) is refused
  * with an error naming it.
  */
object PartitionedSnapshotLake {

  private val DefaultPart = "part_date=__HIVE_DEFAULT_PARTITION__"

  /** The vacuum reader-hazard horizon: readers and merge bases hold no
    * lock, so a vacuum may only delete versions no in-flight reader can
    * still be scanning. A snapshot's pins are immune while its
    * successor is younger than this. Default 1 h — the same order as
    * `lockTtlMs`, and far above any single read at the scales this lake
    * targets; deployments with longer scans (a full-table
    * model-training read over days) must raise it to ≥ max read
    * duration. 0 means retention purely by snapshot count. */
  val DefaultReaderHazardMs: Long = 60L * 60 * 1000

  /** Threads for vacuum's per-partition sweep (each partition's
    * listings + deletes are independent; the sweep is FS-latency
    * bound, so parallelism pays on remote stores and is harmless
    * locally). */
  val VacuumParallelism: Int =
    math.min(32, Runtime.getRuntime.availableProcessors())

  private def partRoot(root: String, part: String) = s"$root/$part"
  private def snapsDir(root: String) = new Path(root, "_snapshots")
  private def snapPath(root: String, snap: Long) =
    new Path(snapsDir(root), snap.toString)

  /** Partition directory names present on disk (committed or not). */
  def partitions(spark: SparkSession, root: String): Seq[String] = {
    val fs = Fs.forPath(spark, root)
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("part_date=")).sorted
  }

  /** Committed versions of one partition (its own history axis). */
  def partitionVersions(spark: SparkSession, root: String,
      part: String): Seq[Long] =
    SnapshotLake.versions(spark, partRoot(root, part))

  /** Published global snapshot numbers, ascending. */
  def snapshots(spark: SparkSession, root: String): Seq[Long] =
    SnapshotLake.numbered(Fs.forPath(spark, root), snapsDir(root))

  def latestSnapshot(spark: SparkSession, root: String): Option[Long] =
    snapshots(spark, root).lastOption

  /** The partition→version pins of a published global snapshot, one
    * `partition TAB version` line each. */
  def manifest(spark: SparkSession, root: String,
      snap: Long): Map[String, Long] =
    readSnapshot(Fs.forPath(spark, root), root, snap)

  private def readSnapshot(fs: FileSystem, root: String,
      snap: Long): Map[String, Long] = {
    val in =
      try fs.open(snapPath(root, snap))
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"snapshot $snap is not published at $root; published: " +
              SnapshotLake.numbered(fs, snapsDir(root)))
      }
    val pins =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { line =>
          line.split('\t') match {
            case Array(p, v) => p -> v.toLong
            case _ => throw new IllegalStateException(
              s"malformed snapshot line for snapshot $snap at $root: $line")
          }
        }.toMap
      finally in.close()
    // a published snapshot always pins a partition; an empty file is
    // the old layout's commit marker, whose pins sat in N.manifest
    if (pins.isEmpty) throw new IllegalStateException(
      s"snapshot $snap at $root is an empty marker: a lake of the old " +
        "layout (empty _snapshots/N markers beside N.manifest files), " +
        "which is no longer read — rewrite it through commitMerge into " +
        "a new root")
    pins
  }

  /** Read one partition at one of its own versions, `part_date`
    * restored from the directory name (v-dirs store data columns only,
    * like any hive-partitioned layout). A partition version can belong
    * to a commit that never published (it crashed, or lost a conflict
    * before its snapshot): this axis serves it all the same, while no
    * snapshot read ever does. */
  def readPartitionVersion(spark: SparkSession, root: String,
      part: String, v: Long): DataFrame = {
    val df = SnapshotLake.readVersion(spark, partRoot(root, part), v)
    val value = part.stripPrefix("part_date=")
    if (part == DefaultPart)
      df.withColumn("part_date", lit(null).cast("date"))
    else df.withColumn("part_date", lit(value).cast("date"))
  }

  /** The pinned v-dirs, in partition order. */
  private def pinDirs(root: String, pins: Map[String, Long]): Seq[Path] =
    pins.toSeq.sortBy(_._1)
      .map { case (p, v) => new Path(partRoot(root, p), s"v=$v") }

  /** ONE multi-path parquet scan over all pinned v-dirs — a snapshot
    * read over 10 000 partitions plans a single `FileSourceScan`
    * relation instead of a 10 000-way union. The data schema comes from
    * one pinned file's footer ([[SnapshotLake.readKnownSchema]]), so
    * planning the read runs no schema-inference job. Hive-style
    * discovery under `basePath` parses BOTH path levels into columns:
    * `part_date` (kept, cast to DATE; the default partition reads back
    * as null) and `v` (the pinned version number — dropped, it is
    * protocol metadata, not data). Data columns named `v` are
    * therefore reserved on this path. */
  private def readPins(spark: SparkSession, root: String,
      pins: Map[String, Long]): DataFrame = {
    val df = SnapshotLake.readKnownSchema(spark, pinDirs(root, pins),
      Some(root))
    val dated =
      if (df.columns.contains("part_date"))
        df.withColumn("part_date", col("part_date").cast("date"))
      else df.withColumn("part_date", lit(null).cast("date"))
    dated.drop("v")
  }

  /** Global time travel: the table exactly as snapshot `snap` pinned
    * it, per-partition versions and all. */
  def readVersion(spark: SparkSession, root: String, snap: Long): DataFrame =
    readPins(spark, root, manifest(spark, root, snap))

  /** The current table: the newest published snapshot. One listing of
    * `_snapshots` and one snapshot-file read resolve the pins — O(1) in
    * the partition count, with no directory-mtime dependence. */
  def readLatest(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, latestSnapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no published snapshot at $root")))

  /** MERGE `batch` into the affected partitions and publish a global
    * snapshot. Returns (snapshot number, merge-status counts). Cost is
    * O(touched partitions) END-TO-END — data moved, filesystem calls,
    * and the snapshot alike: untouched partitions are carried forward
    * from the newest snapshot without so much as a listing. Throws
    * `ConcurrentModificationException` when a concurrent commit
    * published a new version of a partition this one merged against
    * (see the class doc); the batch is then not in any snapshot and may
    * be re-merged. */
  def commitMerge(spark: SparkSession, root: String, batch: DataFrame,
      key: String, tsCol: String, exclude: Seq[String] = Nil)
      : (Long, Map[String, Long]) = {
    val fs = Fs.forPath(spark, root)
    val b = batch.withColumn("part_date", to_date(col(tsCol)))

    // affected partition names from the batch's distinct dates —
    // bounded by the date span, not the row count. One job and no
    // shuffle: each task returns its own date set, merged here
    val affected: Set[String] = b
      .select(date_format(col("part_date"), "yyyy-MM-dd"))
      .as(Encoders.STRING)
      .mapPartitions((ds: Iterator[String]) => ds.toSet.iterator)(
        Encoders.STRING)
      .collect().toSet
      .map((d: String) => if (d == null) DefaultPart else s"part_date=$d")

    // the newest published snapshot, read once: its pins of the
    // affected partitions are the merge base (one scan over them), and
    // a pinned footer is the live schema a batch of only new dates is
    // checked against
    val snap = latestSnapshot(spark, root).getOrElse(0L)
    val pins =
      if (snap == 0L) Map.empty[String, Long] else readSnapshot(fs, root, snap)
    val basePins = pins.filter { case (p, _) => affected(p) }
    val existing =
      if (basePins.isEmpty) None else Some(readPins(spark, root, basePins))
    existing.map(_.schema)
      .orElse(SnapshotLake.footerSchema(spark, pinDirs(root, pins))
        .map(_.add("part_date", DateType)))
      .foreach(MergeOps.requireSameSchema(_, b.schema))
    val merged = existing match {
      case Some(db) => MergeOps.merge(db, b, key, exclude)
      case None => b.withColumn("merge_status", lit("inserted"))
    }
    // merge-status counts ride the staging write as observed metrics
    // (MergeOps.writeCounted): ONE pass computes, counts, and stages —
    // no second run of the merge join and no cache held across the
    // commit. One partitioned write to a private tmp dir; each
    // part_date= subdir then RENAMES (no second copy) into its
    // partition's next claimed version through the shared
    // version-commit step. The tmp dir never outlives the call: a
    // failure mid-loop leaves already-committed partition versions
    // unpublished but leaks neither claim locks nor the staged rewrite
    val tmp = new Path(root,
      s".tmp_commit_${java.util.UUID.randomUUID().toString.take(8)}")
    val (_, counts) = MergeOps.writeCounted(merged)(
      _.write.mode("overwrite").partitionBy("part_date")
        .parquet(tmp.toString))
    val committed =
      try {
        fs.listStatus(tmp).map(_.getPath)
          .filter(_.getName.startsWith("part_date=")).map { tp =>
            tp.getName -> SnapshotLake.commitVersion(fs,
                partRoot(root, tp.getName)) { dest =>
              if (fs.exists(dest)) fs.delete(dest, true) // stale orphan
              require(fs.rename(tp, dest), s"commit failed: $tp -> $dest")
            }
          }.toMap
      } finally fs.delete(tmp, true)
    // an empty delta (0-row batch) publishes nothing: over an empty
    // lake the snapshot would pin nothing, over a live lake it would
    // duplicate the newest pin set
    if (committed.isEmpty) (snap, counts)
    else (publishSnapshot(fs, root, snap, pins, committed), counts)
  }

  /** Publish snapshot `base`+1 = `pins` (snapshot `base`'s) ++
    * `versions`. A lost race reads the winning snapshot: if it moved a
    * partition of `versions` off its pin in `pins`, the commit
    * conflicts; otherwise the next number is tried on top of the
    * winner's pins. */
  private[catalog] def publishSnapshot(fs: FileSystem, root: String,
      base: Long, pins: Map[String, Long],
      versions: Map[String, Long]): Long = {
    var n = base + 1L
    var on = pins
    while (!SnapshotLake.publish(fs, snapPath(root, n),
        (on ++ versions).toSeq.sortBy(_._1)
          .map { case (p, v) => s"$p\t$v" }.mkString("\n")
          .getBytes("UTF-8"))) {
      val won = readSnapshot(fs, root, n)
      val moved = versions.keys.filter(p => won.get(p) != pins.get(p))
      if (moved.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"snapshot $n at $root, published concurrently, moved " +
            moved.toSeq.sorted.mkString(", ") + " past the version " +
            s"this commit merged against (snapshot $base); its partition " +
            "versions " + versions.toSeq.sorted
              .map { case (p, v) => s"$p@$v" }.mkString(", ") +
            " stay unpublished — re-merge the batch")
      on = won
      n += 1L
    }
    n
  }

  /** Retention: keep the last `retainSnapshots` snapshots and every
    * partition version they pin (so retained snapshots stay readable in
    * full), plus each partition's latest version. Everything else —
    * older committed versions, uncommitted orphan v-dirs NOT under a
    * young claim lock, stale (aged-out) claim locks, leaked
    * `.tmp_commit_*` staging dirs, expired snapshots, and in
    * `_snapshots` the filesystem-clock probes ([[SnapshotLake.fsNow]])
    * and publish temp files ([[SnapshotLake.publish]]) a crash left
    * behind, once as old as `lockTtlMs` — is deleted. Reads past the
    * horizon fail loudly rather than half-reading.
    *
    * Each partition is swept by [[SnapshotLake.sweep]], the same sweep
    * [[SnapshotLake.vacuum]] runs, so live-writer safety is the same:
    * lock AGE, not version position, distinguishes an in-flight claim
    * from crash residue — locks (and their in-flight data) younger than
    * `lockTtlMs` are never touched, and live holders heartbeat their
    * locks ([[SnapshotLake.withLockHeartbeat]]) so a long commit never
    * ages past the TTL. Every age is taken on the filesystem's clock
    * ([[SnapshotLake.fsNow]], probed in `_snapshots`), the clock that
    * stamped the mtimes it is compared with. The READER-side hazard is
    * different: readers and merge bases hold no lock (the Delta/Iceberg
    * VACUUM race), so the retention horizon must exceed the longest
    * read in flight. That bound is `readerHazardMs`
    * ([[DefaultReaderHazardMs]]), applied twice:
    *  - a snapshot whose SUCCESSOR was published within the horizon is
    *    kept regardless of `retainSnapshots` — it was what
    *    [[readLatest]] resolved until then;
    *  - a partition VERSION whose successor's commit marker is younger
    *    than the horizon is kept even when no snapshot pins it. That
    *    protects in-flight committers: the merge base a committer is
    *    scanning, and the versions it has made but not yet published.
    * Size it ≥ your longest snapshot read or merge; `retainSnapshots`
    * alone is only safe when retainSnapshots × commit cadence already
    * exceeds that.
    *
    * The per-partition sweep — listings and deletes, each partition
    * independent — fans out over [[VacuumParallelism]] threads:
    * maintenance over a 36 500-partition decade lake is latency-bound
    * on filesystem round trips, not CPU. */
  def vacuum(spark: SparkSession, root: String, retainSnapshots: Int,
      lockTtlMs: Long = 60L * 60 * 1000,
      readerHazardMs: Long = DefaultReaderHazardMs): Unit = {
    require(retainSnapshots >= 1, "retainSnapshots >= 1")
    val fs = Fs.forPath(spark, root)
    // ONE listing of _snapshots: the snapshot numbers, their publish
    // times, and the debris of crashed calls
    val listing =
      try fs.listStatus(snapsDir(root)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val published: Map[Long, Long] = listing.flatMap { st =>
      st.getPath.getName.toLongOption.map(_ -> st.getModificationTime)
    }.toMap
    if (published.isEmpty) return
    // every age this sweep computes (lock TTLs, snapshot and marker
    // supersession, debris staleness) is on the FS clock
    val now = SnapshotLake.fsNow(fs, snapsDir(root))
    val snaps = published.keys.toSeq.sorted
    // reader-hazard horizon: snapshot s was "the newest" — what a
    // lockless readLatest resolves — until its successor was
    // published, so s's hazard clock runs from the SUCCESSOR's mtime
    // (this also keeps every young snapshot: its successor is younger
    // still, and the newest is always in the takeRight)
    val hazardKept = snaps.zip(snaps.drop(1)).collect {
      case (s, nxt) if now - published(nxt) < readerHazardMs => s
    }
    val keepSnaps =
      (snaps.takeRight(retainSnapshots) ++ hazardKept).distinct.sorted
    val pinned: Map[String, Set[Long]] = keepSnaps
      .flatMap(s => readSnapshot(fs, root, s).toSeq)
      .groupBy(_._1).map { case (p, vs) => p -> vs.map(_._2).toSet }
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(VacuumParallelism)
    try {
      val sweeps = partitions(spark, root).map { p =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          // keep: the pinned versions plus every version superseded
          // within the hazard horizon — an in-flight committer may be
          // scanning it as its merge base, or have made it and not yet
          // published; its hazard clock runs from its SUCCESSOR's
          // marker (markers commit in version order under the claim
          // protocol)
          override def call(): Unit =
            SnapshotLake.sweep(fs, partRoot(root, p), now, lockTtlMs) {
              markerTimes =>
                val vs = markerTimes.keys.toSeq.sorted
                pinned.getOrElse(p, Set.empty[Long]) ++
                  vs.zip(vs.drop(1)).collect {
                    case (v, nxt)
                      if now - markerTimes(nxt) < readerHazardMs => v
                  }
            }
        })
      }
      // fail-stop: on the first failure cancel everything still queued
      // or running before rethrowing — deletion must not continue in
      // the background after vacuum has reported failure — and unwrap
      // the ExecutionException so callers see the original IOException
      try sweeps.foreach(_.get())
      catch {
        case e: java.util.concurrent.ExecutionException =>
          pool.shutdownNow()
          pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          throw Option(e.getCause).getOrElse(e)
      }
    } finally pool.shutdown()
    // leaked staging dirs from crashed commits (the success/failure
    // paths both delete theirs; only a process death leaves one)
    fs.listStatus(new Path(root)).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp_commit_") &&
        now - st.getModificationTime >= lockTtlMs)
        fs.delete(st.getPath, true)
    }
    // _snapshots debris: clock probes and publish temp files whose
    // delete a crash (or a failed delete) skipped
    listing.foreach { st =>
      val name = st.getPath.getName
      if ((name.startsWith("clock.") || name.startsWith("tmp.")) &&
        now - st.getModificationTime >= lockTtlMs)
        fs.delete(st.getPath, false)
    }
    snaps.filterNot(keepSnaps.contains)
      .foreach(s => fs.delete(snapPath(root, s), false))
  }
}
