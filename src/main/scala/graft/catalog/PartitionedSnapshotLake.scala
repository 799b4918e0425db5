package graft.catalog

import graft.util.Fs
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, date_format, lit, to_date}
import org.apache.spark.sql.types.{DateType, StructType}
import graft.operators.MergeOps

/** Fact-scale snapshot lake: [[SnapshotLake]]'s marker protocol applied
  * PER `part_date=` PARTITION, plus global manifest snapshots — the
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
  *     3.manifest              "partition TAB version" lines
  *     3                       zero-byte marker; its EXISTENCE commits
  *                             global snapshot 3
  *     _log/part_date=...@2    commit-log entry per partition version
  *                             not yet covered by a manifest
  * }}}
  *
  * Commit = (a) merge the batch against the LATEST version of each
  * affected partition only, (b) commit each rewritten partition as a
  * new partition version under that partition's own lock-CAS + marker
  * protocol, (c) commit a global manifest whose pins are the PREVIOUS
  * manifest overlaid with only this commit's partitions — O(touched)
  * work with no per-partition re-listing, and snapshots advance one
  * commit at a time (no torn read of another writer's half-finished
  * multi-partition commit). Each step is crash-safe: death before a
  * partition marker leaves an invisible orphan v-dir; death between
  * partition commits and the manifest leaves the new partition
  * versions visible to LATEST readers (their commit-log entries and
  * markers are on disk) but absent from global snapshots until
  * [[repairManifest]] (the recovery path — the only full-listing
  * manifest builder) picks them up.
  *
  * Reads:
  *  - [[readLatest]]: the "current table" — the newest manifest's pins
  *    plus the commit-log delta of versions committed since;
  *  - [[readVersion]] (global time travel): exactly the per-partition
  *    versions the manifest pinned, whatever has been committed since;
  *  - [[readPartitionVersion]]: one partition's history on its own
  *    axis (the "what did yesterday's partition look like before
  *    today's backfill" question, without touching the other 36500).
  *
  * Multi-writer: each partition version is committed by
  * [[SnapshotLake.commitVersion]] — the one version-commit step both
  * lakes share (lock-CAS claim with the ABA recheck, heartbeated while
  * held) — so concurrent committers serialize into distinct versions:
  * no version is lost or overwritten. Manifest commits serialize on a
  * [[WriterLease]] (`_snapshots/_commits/manifest.writer.lease/`:
  * numbered generations, heartbeated, a stale holder superseded by
  * exactly one contender's next generation), so manifest N is ALWAYS manifest N−1 plus exactly one
  * commit's overlay — numbers order content. Retention runs
  * [[SnapshotLake.sweep]] per partition. Like SnapshotLake.commitMerge,
  * the merge itself is optimistic (no read-conflict detection across
  * writers on the SAME partition; writers on disjoint partitions
  * compose perfectly).
  *
  * Freshness has ONE source on every filesystem: the commit log that
  * [[commitMerge]] writes. A version committed into a partition dir by
  * hand ([[SnapshotLake.commit]]) writes no entry, so [[readLatest]]
  * does not serve it until the next commitMerge to that partition or a
  * [[repairManifest]]; the next commitMerge touching the partition
  * WARNs about it.
  *
  * Contract: `to_date(tsCol)` must be stable per key (the reference's
  * AcqDate-never-changes invariant, common.py:267-306) — rows outside
  * the batch's dates are never read, so a key that moved dates would
  * insert a second copy. The schema is fixed at the lake's first
  * commit: [[commitMerge]] refuses a batch that adds, lacks or
  * retypes a column against the live schema
  * ([[graft.operators.MergeOps.requireSameSchema]]) instead of
  * dropping or casting it, so a schema change is a new lake written
  * explicitly, never a merge side effect.
  */
object PartitionedSnapshotLake {

  private val DefaultPart = "part_date=__HIVE_DEFAULT_PARTITION__"

  /** The vacuum reader-hazard horizon (VERDICT r9 ask #7): readers and
    * merge bases hold no lock, so a vacuum may only delete versions no
    * in-flight reader can still be scanning. A snapshot's pins are
    * immune while its manifest is younger than this. Default 1 h —
    * the same order as `lockTtlMs`, and far above any single read at
    * the scales this lake targets; deployments with longer scans (a
    * full-table model-training read over days) must raise it to
    * ≥ max read duration. 0 restores the pre-round-10 behavior
    * (retention purely by snapshot count). */
  val DefaultReaderHazardMs: Long = 60L * 60 * 1000

  /** Threads for vacuum's per-partition sweep (each partition's
    * listings + deletes are independent; the sweep is FS-latency
    * bound, so parallelism pays on remote stores and is harmless
    * locally). */
  val VacuumParallelism: Int =
    math.min(32, Runtime.getRuntime.availableProcessors())

  private def partRoot(root: String, part: String) = s"$root/$part"
  private def snapsDir(root: String) = new Path(root, "_snapshots")
  private def logDir(root: String) = new Path(snapsDir(root), "_log")
  private def snapCommitsDir(root: String) =
    new Path(snapsDir(root), "_commits")

  /** One commit-log entry per committed partition version — the one
    * delta source for [[latestPins]].
    * `_snapshots/_log/<partition>@<version>`, zero bytes,
    * written by [[commitMerge]] AFTER the v-dir rename, BEFORE the
    * commit marker, and RE-ASSERTED after the marker: every marker'd
    * version has an entry (a crash between entry and marker leaves a
    * dangling entry, filtered by the marker-existence check at read
    * time and swept by [[vacuum]] once it ages past the lock TTL;
    * the post-marker re-write restores an entry a concurrent vacuum
    * deleted while this writer was frozen past the TTL — the same
    * out-of-contract freeze the claim protocol already documents).
    * Entries covered by a manifest pin are redundant and pruned
    * opportunistically at manifest-commit time, so the log stays
    * O(commits since the newest manifest), not O(history).
    * Idempotent (content-free overwrite). */
  private def logPartitionCommit(fs: FileSystem, root: String,
      part: String, v: Long): Unit = {
    fs.mkdirs(logDir(root))
    val out = fs.create(new Path(logDir(root), s"$part@$v"), true)
    out.close()
  }

  /** `(partition, version)` of every commit-log entry; an absent log
    * dir (no commit yet) is an empty log. */
  private def logEntries(fs: FileSystem, root: String): Seq[(String, Long)] =
    if (!fs.exists(logDir(root))) Seq.empty
    else fs.listStatus(logDir(root)).toSeq.flatMap { st =>
      val n = st.getPath.getName
      val at = n.lastIndexOf('@')
      if (at <= 0) None
      else n.drop(at + 1).toLongOption.map(v => (n.take(at), v))
    }

  /** The commit-log delta over `base` pins: every logged version in
    * `entries` (a [[logEntries]] listing) newer
    * than its partition's pin whose commit marker EXISTS (max per
    * partition). Complete for every in-contract write, because
    * [[commitMerge]] writes the entry before the marker and every lake
    * is born through it; entries are pruned only once a manifest
    * covers them, so an empty `base` (no manifest yet) reads every
    * committed version. Cost: ONE `listStatus` of the log dir + one
    * `exists` per fresh entry — O(1) in partition count, O(delta) in
    * stranded commits, and no directory-mtime dependence. */
  private def logDelta(fs: FileSystem, root: String,
      entries: Seq[(String, Long)], base: Map[String, Long])
      : Map[String, Long] =
    entries
      .filter { case (p, v) => v > base.getOrElse(p, 0L) }
      .filter { case (p, v) =>
        fs.exists(SnapshotLake.markerPath(partRoot(root, p), v))
      }
      .groupBy(_._1).map { case (p, vs) => p -> vs.map(_._2).max }

  /** Last [[outOfBandVersions]] result surfaced by a commitMerge or
    * vacuum WARN — a test/ops hook mirroring BucketAudit's counter
    * (the log line alone is not assertable). Empty = the last check
    * was clean. */
  @volatile private[catalog] var lastOutOfBandWarning
      : Map[String, Seq[Long]] = Map.empty

  /** Out-of-band-commit detector: every in-contract [[commitMerge]]
    * writes a log entry BEFORE (and re-asserts it AFTER) its commit
    * marker, so a marker NEWER than the latest manifest pin with NO
    * log entry can only be an out-of-band [[SnapshotLake.commit]] into
    * the partition dir — exactly the class [[readLatest]]'s log delta
    * cannot see. Versions at or under the pin are excluded by design:
    * log entries are pruned once a manifest covers them, so lifetime
    * marker-vs-entry counts would false-alarm on every mature lake.
    * Cost: one manifest read + one log listing + one `_commits`
    * listing per checked partition. Dangling entries (entry, no
    * marker — a crashed writer) are the vacuum-swept case, not this
    * one. */
  private[catalog] def outOfBandVersions(spark: SparkSession,
      root: String, parts: Seq[String]): Map[String, Seq[Long]] = {
    val fs = Fs.forPath(spark, root)
    // READ ORDER IS LOAD-BEARING: markers FIRST, log entries SECOND,
    // the manifest LAST. In-contract commits write entry-before-marker,
    // so any marker visible in the first listing had its entry on disk
    // before it — a log listing taken AFTER the marker listing holds
    // that entry unless a prune removed it, and a prune removes only
    // entries a committed manifest covers: the manifest read after the
    // listing is that one or a newer one, and manifests never lower a
    // pin, so the version sits at or under its pin and is not flagged.
    // Any other order would race a concurrent healthy writer into a
    // false out-of-band WARN.
    val markers: Map[String, Seq[Long]] = parts.flatMap { p =>
      val commits = new Path(partRoot(root, p), "_commits")
      if (!fs.exists(commits)) None
      else Some(p -> fs.listStatus(commits).toSeq
        .flatMap(st => st.getPath.getName.toLongOption))
    }.toMap
    val logged: Map[String, Set[Long]] = logEntries(fs, root)
      .groupBy(_._1).map { case (p, vs) => p -> vs.map(_._2).toSet }
    val pins: Map[String, Long] = latestSnapshot(spark, root)
      .map(s => manifest(spark, root, s)).getOrElse(Map.empty)
    markers.flatMap { case (p, vers) =>
      val pin = pins.getOrElse(p, 0L)
      val entries = logged.getOrElse(p, Set.empty)
      val bad = vers.filter(v => v > pin && !entries.contains(v)).sorted
      if (bad.isEmpty) None else Some(p -> bad)
    }.toMap
  }

  /** Run [[outOfBandVersions]] best-effort and WARN naming the remedy
    * — never fails the surrounding commit/vacuum for a diagnostic. */
  private def warnOutOfBand(spark: SparkSession, root: String,
      parts: Seq[String]): Unit =
    try {
      val missing = outOfBandVersions(spark, root, parts)
      lastOutOfBandWarning = missing
      if (missing.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"lake at $root carries marker'd versions with NO " +
            "commit-log entry (an out-of-band SnapshotLake.commit into " +
            "the partition dir?): " +
            missing.toSeq.sortBy(_._1)
              .map { case (p, vs) => s"$p v${vs.mkString(",v")}" }
              .mkString("; ") +
            " — invisible to readLatest until the next commitMerge to " +
            "the partition or repairManifest(spark, root)")
    } catch {
      // NonFatal, not just IOException: a concurrent vacuum can
      // delete the snapshot between our listing and the manifest
      // read (manifest require → IllegalArgumentException),
      // and a best-effort diagnostic must never fail the data path
      case scala.util.control.NonFatal(_) => ()
    }

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

  /** Committed global snapshot numbers, ascending. */
  def snapshots(spark: SparkSession, root: String): Seq[Long] =
    SnapshotLake.numbered(Fs.forPath(spark, root), snapsDir(root))

  def latestSnapshot(spark: SparkSession, root: String): Option[Long] =
    snapshots(spark, root).lastOption

  /** The partition→version pins of a committed global snapshot, one
    * `partition TAB version` line each. */
  def manifest(spark: SparkSession, root: String,
      snap: Long): Map[String, Long] = {
    val fs = Fs.forPath(spark, root)
    require(fs.exists(new Path(snapsDir(root), snap.toString)),
      s"snapshot $snap is not committed at $root; " +
        s"committed: ${snapshots(spark, root)}")
    val in = fs.open(new Path(snapsDir(root), s"$snap.manifest"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        line.split('\t') match {
          case Array(p, v) => p -> v.toLong
          case _ => throw new IllegalStateException(
            s"malformed manifest line for snapshot $snap at $root: $line")
        }
      }.toMap
    finally in.close()
  }

  /** Read one partition at one of its own versions, `part_date`
    * restored from the directory name (v-dirs store data columns only,
    * like any hive-partitioned layout). */
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

  /** The live schema without a Spark job: the row schema Spark stores
    * in the footer of a file of the newest manifest's pinned versions
    * ([[SnapshotLake.footerSchema]]), plus the `part_date` the readers
    * restore. None before the first manifest. */
  private def pinnedSchema(spark: SparkSession,
      root: String): Option[StructType] =
    latestSnapshot(spark, root)
      .flatMap(s => SnapshotLake.footerSchema(spark,
        pinDirs(root, manifest(spark, root, s))))
      .map(_.add("part_date", DateType))

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
    require(pins.nonEmpty, s"empty snapshot at $root")
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

  /** The current table: every partition at its newest version
    * committed through [[commitMerge]], manifest or not. Listing cost
    * is O(1) in the partition count: the newest manifest supplies the
    * base pins, and only the DELTA — versions committed since that
    * manifest — comes from the COMMIT LOG (`_snapshots/_log/`, one
    * entry per committed partition version, pruned once a manifest
    * covers it): one listing of the log dir + a marker-existence check
    * per fresh entry. No directory-mtime dependence, so `file://`,
    * HDFS and s3a/gs/abfs resolve the same way.
    *
    * Every [[commitMerge]] mints a manifest AFTER its partition
    * commits, so the delta is empty except (a) mid-commit concurrent
    * writers and (b) crash-stranded partition versions — the log
    * entry is written BEFORE the commit marker, so both cases have
    * entries. A version committed out of band ([[SnapshotLake.commit]]
    * straight into a partition dir) has no entry and is served only
    * after the next commitMerge to that partition or a
    * [[repairManifest]]. Concurrent manifest commits prune log entries
    * a lockless reader may be about to list; [[latestPins]] stays
    * consistent by listing the log before it reads the manifest. */
  def readLatest(spark: SparkSession, root: String): DataFrame =
    readPins(spark, root, latestPins(spark, root))

  private def fullWalkPins(spark: SparkSession,
      root: String): Map[String, Long] =
    partitions(spark, root).flatMap { p =>
      SnapshotLake.latestVersion(spark, partRoot(root, p)).map(p -> _)
    }.toMap

  /** Pin resolution — newest manifest ++ [[logDelta]] — in ONE pass,
    * consistent against concurrent log pruning by ORDER: the log is
    * listed FIRST, the newest manifest read SECOND. An entry missing
    * from the listing was either never written (its version has no
    * marker yet) or pruned before the listing — and every prune
    * (manifest commit or vacuum) deletes only entries a committed
    * manifest already covers. That manifest committed before the
    * listing, so the manifest read after it is the same or newer, and
    * manifests never lower a pin ([[commitManifest]]): its pin covers
    * the pruned version. */
  private[catalog] def latestPins(spark: SparkSession,
      root: String): Map[String, Long] = {
    val fs = Fs.forPath(spark, root)
    val entries = logEntries(fs, root)
    val base = latestSnapshot(spark, root).map(manifest(spark, root, _))
      .getOrElse(Map.empty)
    base ++ logDelta(fs, root, entries, base)
  }

  /** MERGE `batch` into the affected partitions and commit a global
    * snapshot. Returns (snapshot number, merge-status counts). Cost is
    * O(touched partitions) END-TO-END — data moved, filesystem calls,
    * and the manifest alike: untouched partitions are carried forward
    * from the previous manifest without so much as a listing. */
  def commitMerge(spark: SparkSession, root: String, batch: DataFrame,
      key: String, tsCol: String, exclude: Seq[String] = Nil)
      : (Long, Map[String, Long]) = {
    val fs = Fs.forPath(spark, root)
    val b = batch.withColumn("part_date", to_date(col(tsCol)))

    // affected partition names from the batch's distinct dates —
    // bounded by the date span, not the row count. One job and no
    // shuffle: each task returns its own date set, merged here
    val affected: Seq[String] = b
      .select(date_format(col("part_date"), "yyyy-MM-dd"))
      .as(Encoders.STRING)
      .mapPartitions((ds: Iterator[String]) => ds.toSet.iterator)(
        Encoders.STRING)
      .collect().distinct.toSeq
      .map(d => if (d == null) DefaultPart else s"part_date=$d")

    // staleness detector (r12 ask #6): against the PRE-commit state —
    // this merge's own versions don't exist yet, so anything newer
    // than the pins without a log entry is an out-of-band commit
    warnOutOfBand(spark, root, affected)

    // current state of ONLY the affected partitions: one scan over
    // their latest versions
    val basePins = affected.flatMap { p =>
      SnapshotLake.latestVersion(spark, partRoot(root, p)).map(p -> _)
    }.toMap
    val existing =
      if (basePins.isEmpty) None else Some(readPins(spark, root, basePins))
    // schema drift guard: the base scan's schema is already resolved;
    // a batch of only new dates checks one pinned footer
    existing.map(_.schema).orElse(pinnedSchema(spark, root))
      .foreach(MergeOps.requireSameSchema(_, b.schema))
    val merged = existing match {
      case Some(db) => MergeOps.merge(db, b, key, exclude)
      case None => b.withColumn("merge_status", lit("inserted"))
    }
    {
      // merge-status counts ride the staging write as observed metrics
      // (MergeOps.writeCounted): ONE pass computes, counts, and stages —
      // no second run of the merge join and no cache held across the
      // commit. One partitioned write to a private tmp dir; each
      // part_date= subdir then RENAMES (no second copy) into its
      // partition's next claimed version
      val tmp = new Path(root,
        s".tmp_commit_${java.util.UUID.randomUUID().toString.take(8)}")
      val (_, counts) = MergeOps.writeCounted(merged)(
        _.write.mode("overwrite").partitionBy("part_date")
          .parquet(tmp.toString))
      // each staged part_date= subdir RENAMES into its partition's
      // next version through the shared version-commit step; the tmp
      // dir never outlives the call: a failure mid-loop leaves
      // already-committed partitions marker'd (the next manifest picks
      // them up) but leaks neither claim locks nor the staged rewrite
      val committed =
        try {
          fs.listStatus(tmp).map(_.getPath)
            .filter(_.getName.startsWith("part_date=")).map { tp =>
              // the commit-log entry is written BEFORE the marker, so
              // every marker'd version has one (readLatest's delta; a
              // crash in between leaves a dangling entry that the
              // marker-existence check filters and vacuum sweeps), and
              // re-asserted AFTER it (heals the frozen-writer ×
              // concurrent-vacuum window, see logPartitionCommit)
              tp.getName -> SnapshotLake.commitVersion(fs,
                  partRoot(root, tp.getName),
                  logPartitionCommit(fs, root, tp.getName, _)) { dest =>
                if (fs.exists(dest)) fs.delete(dest, true) // stale orphan
                require(fs.rename(tp, dest), s"commit failed: $tp -> $dest")
              }
            }.toMap
        } finally fs.delete(tmp, true)
      // an empty delta (0-row batch) must not mint a snapshot: over an
      // empty lake the manifest would pin nothing and every read of it
      // would fail; over a live lake it would duplicate the previous
      // pin set. No-op to the current latest instead.
      if (committed.isEmpty)
        (latestSnapshot(spark, root).getOrElse(0L), counts)
      else (commitManifest(spark, root, committed), counts)
    }
  }

  /** Retention: keep the last `retainSnapshots` global manifests and
    * every partition version they pin (so retained snapshots stay
    * readable in full), plus each partition's latest version (so
    * [[readLatest]] never breaks, manifest or not). Everything else —
    * older committed versions, uncommitted orphan v-dirs NOT under a
    * young claim lock, stale (aged-out) claim locks, leaked
    * `.tmp_commit_*` staging dirs, expired manifests — is deleted.
    * Reads past the horizon fail loudly at the marker check rather
    * than half-reading.
    *
    * Each partition is swept by [[SnapshotLake.sweep]], the same sweep
    * [[SnapshotLake.vacuum]] runs, so live-writer safety is the same:
    * lock AGE, not version position, distinguishes an in-flight claim
    * from crash residue — locks (and their in-flight data) younger than
    * `lockTtlMs` are never touched, and live holders heartbeat their
    * locks ([[SnapshotLake.withLockHeartbeat]]) so a long commit never
    * ages past the TTL. Every age is taken on the filesystem's clock
    * ([[SnapshotLake.fsNow]]), the clock that stamped the mtimes it is
    * compared with. The READER-side hazard is different: readers
    * and merge bases hold no lock (the Delta/Iceberg VACUUM race), so
    * the retention horizon must exceed the longest read in flight.
    * That bound is named here as `readerHazardMs`
    * ([[DefaultReaderHazardMs]]) and protects BOTH pin sources a
    * reader can resolve: any snapshot whose manifest is younger than
    * the horizon is retained (pins kept) regardless of
    * `retainSnapshots`, and any partition VERSION whose SUCCESSOR's
    * commit marker is younger is kept even when no manifest pins it —
    * readLatest serves manifest-less (crash-stranded, mid-commit)
    * versions through its commit-log delta, and such a version was
    * resolvable as "the latest" right up until its successor landed,
    * so its hazard clock runs from the successor's marker. Together:
    * a readLatest that resolved pins at time T is safe as long as its
    * scan finishes within readerHazardMs of T (each resolved pin was
    * either the newest manifest's — always retained — or its
    * partition's newest logged version at T, deletable only once
    * superseded for a full horizon).
    * Size it ≥ your longest snapshot read or merge; `retainSnapshots`
    * alone is only safe when retainSnapshots × commit cadence already
    * exceeds that (the previous, implicit contract).
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
    val snaps = snapshots(spark, root)
    if (snaps.isEmpty) return
    // staleness detector (r12 ask #6) over the WHOLE lake — vacuum
    // already pays O(partitions) listings, one more _commits pass is
    // in its cost class and this is the natural scheduled checkpoint
    // for "did anything commit out-of-band since the last manifest"
    warnOutOfBand(spark, root, partitions(spark, root))
    // every age this sweep computes (lock TTLs, manifest supersession,
    // marker supersession, tmp-dir staleness) is on the FS clock
    val now = SnapshotLake.fsNow(fs, snapCommitsDir(root))
    // reader-hazard horizon: snapshot s was "the newest" — what a
    // lockless readLatest resolves — until its successor's manifest
    // landed, so s's hazard clock runs from the SUCCESSOR's mtime:
    // keep s while the successor is younger than the horizon (this
    // also keeps every young snapshot: its successor is younger
    // still, and the newest is always in the takeRight)
    def manifestMtime(s: Long): Option[Long] = {
      val m = new Path(snapsDir(root), s"$s.manifest")
      if (fs.exists(m)) Some(fs.getFileStatus(m).getModificationTime)
      else None
    }
    val hazardKept = snaps.zip(snaps.drop(1)).collect {
      case (s, nxt)
        if manifestMtime(nxt).exists(now - _ < readerHazardMs) => s
    }
    val keepSnaps =
      (snaps.takeRight(retainSnapshots) ++ hazardKept).distinct.sorted
    val pinned: Map[String, Set[Long]] = keepSnaps
      .flatMap(s => manifest(spark, root, s).toSeq)
      .groupBy(_._1).map { case (p, vs) => p -> vs.map(_._2).toSet }
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(VacuumParallelism)
    try {
      val sweeps = partitions(spark, root).map { p =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          // keep: the pinned versions plus every version superseded
          // within the hazard horizon — readLatest serves manifest-less
          // (crash-stranded, mid-commit) versions through its commit-log
          // delta, so a lockless reader may be mid-scan on one, and
          // such a version was resolvable as "the latest" until its
          // SUCCESSOR's marker landed: its hazard clock runs from that
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
    // commit-log hygiene: entries covered by the newest KEPT manifest
    // are redundant (the delta test ignores v <= pin); dangling
    // entries (no commit marker — a crash between entry and marker,
    // or a version this sweep just deleted) go once older than the
    // lock TTL (younger ones may be a live writer between its entry
    // and marker). Correctness never depends on this — the
    // marker-existence check at read time filters dangling entries —
    // this bounds the log's size.
    if (fs.exists(logDir(root))) {
      val newestPins: Map[String, Long] =
        keepSnaps.lastOption.map(manifest(spark, root, _))
          .getOrElse(Map.empty)
      fs.listStatus(logDir(root)).foreach { st =>
        val name = st.getPath.getName
        val at = name.lastIndexOf('@')
        if (at > 0) name.drop(at + 1).toLongOption.foreach { v =>
          val p = name.take(at)
          val pr = partRoot(root, p)
          val covered = newestPins.get(p).exists(_ >= v)
          // dangling = no marker, aged past the TTL, AND no live
          // (young, heartbeated) claim lock on the version — a live
          // writer sits between its entry and its marker exactly
          // while it holds the claim, so the lock is the liveness
          // signal, not the entry's own mtime
          lazy val dangling =
            !fs.exists(SnapshotLake.markerPath(pr, v)) &&
            now - st.getModificationTime >= lockTtlMs &&
            (try now - fs.getFileStatus(
              SnapshotLake.lockPath(pr, v)).getModificationTime >=
              lockTtlMs
            catch { case _: java.io.FileNotFoundException => true })
          // dangling deletes re-verify marker ABSENCE at the last
          // instant: a frozen writer waking between the age checks and
          // this delete may have just written the marker (its
          // post-marker re-assert would heal the entry, but only if it
          // survives to run it) — one extra exists() shrinks the
          // marker'd-but-unlogged window to the exists→delete gap.
          // The residual self-heals on the next commit to the
          // partition or repairManifest (documented in USAGE.md).
          if (covered || (dangling &&
              !fs.exists(SnapshotLake.markerPath(pr, v))))
            fs.delete(st.getPath, false)
        }
      }
    }
    snaps.filterNot(keepSnaps.contains).foreach { s =>
      fs.delete(new Path(snapsDir(root), s.toString), false)
      fs.delete(new Path(snapsDir(root), s"$s.manifest"), false)
    }
  }

  /** Stale horizon of the manifest lease: a holder whose lease has not
    * been heartbeated for this long is presumed dead and the lease is
    * taken over by the next committer. The lease is held for
    * milliseconds (read the previous manifest + write one small file)
    * and heartbeated every [[SnapshotLake.heartbeatIntervalMs]] = 30 s,
    * so 2 minutes = four missed beats. A committer waits at most twice
    * this for a LIVE holder, then fails with
    * [[WriterLease.ConcurrentWriterException]]. Package-visible for
    * race specs. */
  @volatile private[catalog] var manifestLockTtlMs: Long = 2L * 60 * 1000

  /** The [[WriterLease]] key that serializes manifest commits; its lease
    * directory is `_snapshots/_commits/manifest.writer.lease/`. */
  private def manifestLease(root: String): String =
    new Path(snapCommitsDir(root), "manifest").toString

  /** Commit global snapshot N as snapshot N−1's pins overlaid with
    * `overlay` (the partitions this writer just committed) — O(touched
    * partitions), no filesystem re-listing. A pin is never LOWERED: the
    * overlay takes the max of the previous pin and its own version, so a
    * writer that committed `p@1` and stalled before its manifest cannot
    * roll `p` back under another writer's later `p@2` manifest (whose
    * log entry is already pruned — readLatest would lose its rows).
    * Partition versions stranded by a crash between partition commits
    * and the manifest are recovered by [[repairManifest]].
    *
    * Commits serialize on the manifest [[WriterLease]] (heartbeated;
    * a live holder is waited for up to twice [[manifestLockTtlMs]]; a
    * stale holder is superseded by creating the next lease generation,
    * which exactly one contender's create wins), so snapshot numbers
    * totally order manifest CONTENT: each snapshot is exactly one
    * commit applied to the previous one, and a concurrent writer's
    * half-finished partition commits can never leak into someone
    * else's pins. The lease is FENCED twice, before the manifest write
    * and before the marker ([[WriterLease.stillHeld]]): a holder that
    * lost the lease — frozen past the stale horizon and superseded —
    * aborts instead of overwriting the new holder's manifest or
    * committing a snapshot number the new holder owns. The residual is losing the lease after a check and
    * before the step it guards (from the first check through the
    * write, or from the second check to the marker): lease-style locks
    * without server-side fencing cannot close it (the Delta/Iceberg
    * catalog-commit problem). */
  private[catalog] def commitManifest(spark: SparkSession, root: String,
      overlay: Map[String, Long]): Long = {
    val fs = Fs.forPath(spark, root)
    val lease = manifestLease(root)
    def fence(step: String): Unit =
      if (!WriterLease.stillHeld(fs, lease))
        throw new java.util.ConcurrentModificationException(
          s"manifest lease at $root was taken over while held (writer " +
            s"stalled past manifestLockTtlMs); aborting before the $step")
    WriterLease.withLease(fs, lease, "commitManifest",
        staleMs = manifestLockTtlMs, waitMs = 2 * manifestLockTtlMs) {
      val prev = latestSnapshot(spark, root)
      val n = prev.getOrElse(0L) + 1L
      val prevPins = prev.map(manifest(spark, root, _))
        .getOrElse(Map.empty[String, Long])
      val pins = prevPins ++ overlay.map { case (p, v) =>
        p -> math.max(v, prevPins.getOrElse(p, 0L))
      }
      val body = pins.toSeq.sortBy(_._1)
        .map { case (p, v) => s"$p\t$v" }.mkString("\n")
      fence("manifest write")
      val out = fs.create(new Path(snapsDir(root), s"$n.manifest"), true)
      out.write(body.getBytes("UTF-8")); out.close()
      fence("snapshot marker")
      if (!SnapshotLake.atomicCreate(fs,
        new Path(snapsDir(root), n.toString)))
        throw new IllegalStateException(
          s"snapshot marker $n already exists at $root — concurrent " +
            "manifest commit protocol violation")
      // post-commit-point log pruning (still under the lease):
      // entries this manifest's pins now cover are redundant — the
      // delta test (`v > pin`) ignores them — so the log stays
      // O(commits since the newest manifest). Best-effort: a crash
      // mid-prune leaves harmless covered entries.
      logEntries(fs, root).foreach { case (p, v) =>
        if (pins.get(p).exists(_ >= v))
          try fs.delete(new Path(logDir(root), s"$p@$v"), false)
          catch { case scala.util.control.NonFatal(_) => }
          // the snapshot IS committed — a prune hiccup must not fail
          // the commit; vacuum re-sweeps covered entries
      }
      n
    }
  }

  /** Recovery: commit a manifest pinning EVERY partition at its latest
    * committed version from a FULL partition listing — O(partitions),
    * the only full-listing manifest builder. Run after a writer died
    * between its partition commits and its manifest (those versions
    * are visible to [[readLatest]] but absent from snapshots), or to
    * pin versions committed out of band (no commit-log entry, so not
    * yet visible to [[readLatest]]). */
  def repairManifest(spark: SparkSession, root: String): Long = {
    val full = fullWalkPins(spark, root)
    require(full.nonEmpty, s"nothing to repair at $root: no committed " +
      "partition versions")
    commitManifest(spark, root, full)
  }
}
