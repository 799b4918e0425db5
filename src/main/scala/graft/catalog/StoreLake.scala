package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** The mutable stores — the dedup signature store and the IVF vector
  * store — on the snapshot lake's version protocol. Every store write
  * (an append, a compaction, a split or a merge) commits ONE version
  * through [[SnapshotLake.commitVersion]]:
  * {{{
  *   v=n/...           the rows version n adds: an append's batch, a
  *                     split's or merge's moved rows, a compaction's
  *                     full rewrite
  *   v=n/_centroids/   (vector store) the centroid table, when version
  *                     n changed it
  *   v=n/_store        the version's fields: the base version n builds
  *                     on and any store-specific ones,
  *                     `base=b [key=value ...]`
  *   _commits/n        the empty commit marker, created after all of
  *                     the above
  * }}}
  * The store as of marker n is the union of the committed versions in
  * [base, n]. An append, split or merge keeps its predecessor's base;
  * a compaction rewrites everything and is its own base.
  *
  * Readers never lock, retry or heal: [[pin]] lists `_commits` once,
  * takes the newest marker and the committed versions in its range,
  * and [[read]] reads exactly those immutable directories. A version
  * leaves that range only when a later compaction commits, and
  * [[sweep]] keeps it for the reader hazard horizon after that, so a
  * pinned read stays whole. Writers hold the store's [[WriterLease]];
  * a writer killed anywhere leaves at most an uncommitted `v=` dir and
  * a claim lock that no reader sees.
  *
  * A store directory in the pre-version (flat) layout is refused by
  * name, never read or reseeded. */
private[graft] object StoreLake {

  /** A reader's pin: the newest commit marker `version`, the fields
    * its `_store` file records (`base` and any store-specific ones),
    * and the committed versions in [base, version], ascending. */
  final case class Pin(version: Long, fields: Map[String, Long],
      versions: Seq[Long]) {
    def base: Long = fields("base")
  }

  /** Pin the store's newest commit: one `_commits` listing plus one
    * `_store` read. None for a store with no commit yet (absent, or
    * only a crashed first writer's debris). */
  def pin(fs: FileSystem, root: String): Option[Pin] = {
    val markers = SnapshotLake.numbered(fs, SnapshotLake.commitsDir(root))
    if (markers.isEmpty) { refuseFlatLayout(fs, root); None }
    else {
      val n = markers.last
      val fields = fieldsOf(fs, root, n)
      require(fields.contains("base"), s"store at $root: version $n " +
        "records no base version — not a store written by this protocol")
      Some(Pin(n, fields, markers.filter(_ >= fields("base"))))
    }
  }

  /** A store root holding anything but `_commits` and `v=` dirs before
    * its first commit is a store of the flat pre-version layout. */
  private def refuseFlatLayout(fs: FileSystem, root: String): Unit = {
    val foreign =
      try fs.listStatus(new Path(root)).map(_.getPath.getName)
        .filterNot(n => n == "_commits" || n.startsWith("v="))
      catch { case _: java.io.FileNotFoundException => Array.empty[String] }
    if (foreign.nonEmpty)
      throw new IllegalStateException(
        s"store at $root is in the flat pre-version layout (found " +
          s"${foreign.sorted.take(5).mkString(", ")} and no commit " +
          "marker); it is neither read nor reseeded — rebuild it " +
          "through the store API into a new path")
  }

  private def fieldsPath(dir: Path) = new Path(dir, "_store")

  private def fieldsOf(fs: FileSystem, root: String,
      v: Long): Map[String, Long] = {
    val in = fs.open(fieldsPath(new Path(root, s"v=$v")))
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.split("\\s+").filter(_.contains('=')).map { kv =>
      val (k, x) = kv.splitAt(kv.indexOf('='))
      k -> x.drop(1).toLong
    }.toMap
  }

  /** The rows of `pin`'s versions. Hive-style partition dirs under
    * each `v=` dir (the vector store's `cid=`) are discovered from the
    * paths; the version column itself is dropped, so a store's own
    * columns must not be named `v`. The schema comes from one footer
    * under the base version — its own dir, or its `schemaDir` subdir
    * for a store whose rows sit one partition level down (a zero-row
    * file a base version writes there) — so planning the read runs no
    * inference job and opens no row file. The driver lists the pinned
    * versions itself (one listing per directory) and hands Spark that
    * listing: Spark lists more than 32 paths in a job of one task per
    * path, which every probe of a long-uncompacted store would run. */
  def read(spark: SparkSession, root: String, pin: Pin,
      schemaDir: Option[String] = None): DataFrame = {
    val fs = graft.util.Fs.forPath(spark, root)
    val dirs = pin.versions.map(v => fs.makeQualified(new Path(root, s"v=$v")))
    val schemaAt = schemaDir.fold(dirs.head)(new Path(dirs.head, _))
    val schema = SnapshotLake.footerSchema(spark, Seq(schemaAt))
      .getOrElse(throw new IllegalStateException(
        s"store at $root: no parquet file under $schemaAt"))
    val listed = dirs.map(d => d -> dataFiles(fs, d)).toMap
    val index = new InMemoryFileIndex(spark, dirs, Map("basePath" -> root),
      Some(schema), new FileStatusCache {
        override def getLeafFiles(p: Path) = listed.get(p)
        def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
        def invalidateAll(): Unit = ()
      })
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
        index.partitionSchema, schema, None, new ParquetFileFormat,
        Map.empty)(spark))
      .drop("v")
  }

  /** The files under a version dir that Spark would read there: none
    * below a `_`- or `.`-named entry (`_store`, `_centroids/`,
    * `_SUCCESS`, checksum files). */
  private def dataFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.flatMap(st =>
      if (st.isDirectory) dataFiles(fs, st.getPath) else Array(st))

  /** The parquet table at `v=<version>/<sub>` (the vector store's
    * centroid table). */
  def readAt(spark: SparkSession, root: String, version: Long,
      sub: String): DataFrame =
    SnapshotLake.readKnownSchema(spark,
      Seq(new Path(root, s"v=$version/$sub")), None)

  /** Commit one store version: `land` writes the version's rows under
    * its `v=n` dir (clobbering a crashed writer's orphan there), then
    * `v=n/_store` records `fields(n)`, which must include `base` — both
    * before the marker exists, so a pinned version always has its
    * fields. Returns n. The caller holds the store's [[WriterLease]]. */
  def commit(fs: FileSystem, root: String, fields: Long => Map[String, Long])
      (land: Path => Unit): Long =
    SnapshotLake.commitVersion(fs, root) { dir =>
      land(dir)
      val n = dir.getName.stripPrefix("v=").toLong
      val f = fields(n)
      require(f.contains("base"), s"store commit $n at $root records no base")
      val out = fs.create(fieldsPath(dir), true)
      try out.write(f.map { case (k, x) => s"$k=$x" }.mkString(" ")
        .getBytes(UTF_8))
      finally out.close()
    }

  /** The retention sweep that ends a compaction: one
    * [[SnapshotLake.sweep]] on the filesystem clock. A version below
    * the newest base was readable until the first compaction above it
    * committed, so it is kept while that compaction's marker is younger
    * than [[PartitionedSnapshotLake.DefaultReaderHazardMs]]; older
    * versions, uncommitted orphans and claim locks older than an hour
    * (the lakes' vacuum default) go. */
  def sweep(fs: FileSystem, root: String): Unit = {
    val now = SnapshotLake.fsNow(fs, SnapshotLake.commitsDir(root))
    val hazardMs = PartitionedSnapshotLake.DefaultReaderHazardMs
    SnapshotLake.sweep(fs, root, now, lockTtlMs = 60L * 60 * 1000) { mtimes =>
      // walk down from the newest marker; `supersededAt` is the marker
      // mtime of the lowest compaction above the version at hand
      var supersededAt = Long.MaxValue
      mtimes.keys.toSeq.sorted.reverse.takeWhile { v =>
        val kept = supersededAt == Long.MaxValue ||
          now - supersededAt < hazardMs
        if (kept && fieldsOf(fs, root, v).get("base").contains(v))
          supersededAt = mtimes(v)
        kept
      }.toSet
    }
  }
}
