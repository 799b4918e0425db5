package graft.sources.dicomlike

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{And => FAnd, EqualTo => FEq, Filter, GreaterThan => FGt, GreaterThanOrEqual => FGe, IsNotNull, LessThan => FLt, LessThanOrEqual => FLe, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for DICOM files (real explicit/implicit-VR header
  * decode via graft.ingest.DicomCodec) with **projection pushdown into
  * the file reader**: when the `content` column is not in the required
  * schema, each file read pulls only an initial 4 KB header window —
  * growing geometrically in the rare case the header straddles it —
  * the reference's `stop_before_pixels` (Exam_info.py:130) enforced at
  * the source instead of hoped-for in a UDF.
  *
  * **Filter pushdown into the LISTING** (SupportsPushDownFilters):
  * predicates on `mtime` (file modification time), `path` prefix, and
  * `length` prune the file manifest BEFORE input partitions are
  * planned, so the reference's `--days N` incremental mode
  * (common.py:267-306, do_dicom_series_DB.py:33-34) — "only files
  * modified since X" — costs O(matching files) tasks instead of
  * scanning the archive and filtering rows after the fact. At 100 TB
  * the listing itself is the cost: a path-prefix predicate also skips
  * whole top-level subtrees, so their recursive listings never run.
  * Pushed filters are evaluated exactly at planning time from the
  * FileStatus the listing already holds (no extra I/O) and are ALSO
  * left in the residual for Spark to re-check — the parquet reader's
  * stance, keeping row-level semantics the planner's problem.
  *
  * Usage: `spark.read.format("graft.sources.dicomlike").load(dir)`.
  * Non-DICOM files (bad magic, short header, or non-numeric header
  * digits) are skipped at read time (S5 sniff), never crash the scan.
  *
  * Scale notes (a DICOM archive is millions of split-resistant little
  * blobs):
  *  - listing is distributed: the driver lists only the root's first
  *    level, each subdirectory's recursive listing runs as a Spark job
  *    on executors (with the session's Hadoop conf broadcast, so s3a /
  *    hdfs settings survive); only the compact (path, length, mtime)
  *    manifest returns to the driver for planning;
  *  - files are greedily packed into size-targeted input partitions
  *    (`maxPartitionBytes`, default 128 MiB, with `openCostInBytes`
  *    per file — the same cost model as Spark's own FileSourceScan),
  *    so a million files plan as thousands of tasks, not a million;
  *  - `BytesReadCounter` exists for tests to prove the payload was
  *    never read under a header-only projection (and that pruned files
  *    were never opened at all).
  */
class DicomLikeSource extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "dicomlike"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DicomLikeSource.fullSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DicomLikeTable(properties.get("path"))
}

object DicomLikeSource {
  val fullSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("series_uid", StringType, nullable = false),
    StructField("instance_number", IntegerType, nullable = false),
    StructField("echo", StringType, nullable = false),
    StructField("expected_count", IntegerType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("mtime", TimestampType, nullable = false),
    StructField("content", BinaryType, nullable = true)))

  /** First header-only read window; doubles (×4) until the tag stream
    * parses complete, so a fat CSA header costs one short re-read while
    * the common case stays a single 4 KB pull. */
  final val InitialHeaderRead = 4096

  /** Size target per input partition and per-file open cost — the same
    * dials as spark.sql.files.maxPartitionBytes / openCostInBytes. */
  final val MaxPartitionBytes = 128L * 1024 * 1024
  final val OpenCostInBytes = 4L * 1024 * 1024

  /** Can this filter prune at planning time? Only predicates over the
    * listing-known columns (path / length / mtime) qualify; anything
    * touching header-derived columns needs the file read and stays
    * row-level only. */
  private[graft] def prunable(f: Filter): Boolean = f match {
    case FAnd(l, r) => prunable(l) && prunable(r)
    case StringStartsWith("path", _) => true
    case FEq(a, _) => a == "path" || a == "length"
    case FGt(a, _) => a == "length" || a == "mtime"
    case FGe(a, _) => a == "length" || a == "mtime"
    case FLt(a, _) => a == "length" || a == "mtime"
    case FLe(a, _) => a == "length" || a == "mtime"
    case IsNotNull(a) => a == "path" || a == "length" || a == "mtime"
    case _ => false
  }

  /** Timestamp filter values arrive as java.sql.Timestamp or (with the
    * java8 datetime API) java.time.Instant; normalize to epoch millis. */
  private def millisOf(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime)
    case i: java.time.Instant => Some(i.toEpochMilli)
    case _ => None
  }

  private def longOf(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case _ => None
  }

  /** Exact planning-time evaluation of a prunable filter against one
    * listed file. Unknown shapes keep the file (pruning must only ever
    * REMOVE work, never rows a residual check would have kept). */
  private[graft] def keeps(f: Filter, path: String, len: Long,
      mtimeMs: Long): Boolean = f match {
    case FAnd(l, r) =>
      keeps(l, path, len, mtimeMs) && keeps(r, path, len, mtimeMs)
    case StringStartsWith("path", v) => path.startsWith(v)
    case FEq("path", v: String) => path == v
    case FEq("length", v) => longOf(v).forall(len == _)
    case FGt("length", v) => longOf(v).forall(len > _)
    case FGe("length", v) => longOf(v).forall(len >= _)
    case FLt("length", v) => longOf(v).forall(len < _)
    case FLe("length", v) => longOf(v).forall(len <= _)
    // millisOf FLOORS the literal to epoch millis while file mtimes
    // are exact milliseconds. Under truncation, keep iff the true
    // predicate could still hold for SOME micros in the floored
    // millisecond: Gt/Ge/Le are already conservative with the plain
    // comparison; Lt needs <= (a file at exactly vMillis still
    // satisfies `mtime < v` when v carries sub-millisecond digits —
    // pruning it would drop rows the residual filter keeps).
    case FGt("mtime", v) => millisOf(v).forall(mtimeMs > _)
    case FGe("mtime", v) => millisOf(v).forall(mtimeMs >= _)
    case FLt("mtime", v) => millisOf(v).forall(mtimeMs <= _)
    case FLe("mtime", v) => millisOf(v).forall(mtimeMs <= _)
    case IsNotNull(_) => true // listing columns are never null
    case _ => true
  }

  /** Path prefixes demanded by the pushed filters, for subtree
    * skipping: a directory is listed only if it could contain a
    * matching path. Empty = no prefix constraint. */
  private[graft] def pathPrefixes(fs: Seq[Filter]): Seq[String] =
    fs.flatMap {
      case StringStartsWith("path", v) => Seq(v)
      case FEq("path", v: String) => Seq(v)
      case FAnd(l, r) => pathPrefixes(Seq(l, r))
      case _ => Nil
    }

  /** Could directory `dir` contain a path starting with `prefix`?
    * Either the prefix lies inside the dir (dir is an ancestor of the
    * prefix path) or the dir itself already starts with the prefix. */
  private[graft] def dirMayMatch(dir: String, prefix: String): Boolean =
    dir.startsWith(prefix) || prefix.startsWith(dir)
}

/** Test hook: bytes actually read from disk by this source. */
object BytesReadCounter {
  val bytes = new java.util.concurrent.atomic.AtomicLong(0)
  def reset(): Unit = bytes.set(0)
}

class DicomLikeTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"dicomlike($path)"
  override def schema(): StructType = DicomLikeSource.fullSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new DicomLikeScanBuilder(path)
}

class DicomLikeScanBuilder(path: String)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {
  private var required: StructType = DicomLikeSource.fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(DicomLikeSource.prunable)
    // everything stays residual: Spark re-evaluates row-level, the
    // source merely prunes the listing (the parquet-reader stance)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new DicomLikeScan(path, required, pushed)
}

class DicomLikeScan(path: String, required: StructType,
    pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Surfaces the pushed filters in `.explain` (BatchScanExec prints
    * the scan description), so plan audits can assert the listing was
    * actually pruned and not just row-filtered. */
  override def description(): String =
    s"DicomLikeScan path=$path, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  private val needContent = required.fieldNames.contains("content")

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val fs = graft.util.Fs.forPath(spark, path)
    val prefixes = DicomLikeSource.pathPrefixes(pushed.toSeq)
    def fileKept(p: String, len: Long, mtimeMs: Long): Boolean =
      pushed.forall(DicomLikeSource.keeps(_, p, len, mtimeMs))
    // driver lists only the first level; subdirectory recursion runs
    // on executors and ships back (path, length, mtime) triples only.
    // A path-prefix filter prunes whole subtrees here — their
    // recursive listings never even run.
    val top = fs.listStatus(new Path(path))
    val topFiles = top.filter(_.isFile)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .filter((fileKept _).tupled).toSeq
    val subDirs = top.filter(_.isDirectory).map(_.getPath.toString)
      .filter(d => prefixes.isEmpty ||
        prefixes.exists(DicomLikeSource.dirMayMatch(d, _)))
      .toSeq
    val nested: Seq[(String, Long, Long)] =
      if (subDirs.isEmpty) Nil
      else {
        val bc = spark.sparkContext.broadcast(
          new graft.util.SerializableHadoopConf(
            spark.sessionState.newHadoopConf()))
        val pushedBc = spark.sparkContext.broadcast(pushed)
        spark.sparkContext
          .parallelize(subDirs, math.min(subDirs.length, 64))
          .flatMap { d =>
            val p = new Path(d)
            val dfs = p.getFileSystem(bc.value.value)
            val it = dfs.listFiles(p, true)
            val buf =
              scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
            while (it.hasNext) {
              val f = it.next()
              if (f.isFile) {
                val t = (f.getPath.toString, f.getLen,
                  f.getModificationTime)
                // executor-side manifest pruning: a dense old archive
                // never ships its (path,len,mtime) rows to the driver
                if (pushedBc.value.forall(
                    DicomLikeSource.keeps(_, t._1, t._2, t._3)))
                  buf += t
              }
            }
            buf
          }.collect().toSeq
      }
    // greedy size-targeted packing, Spark's file-scan cost model:
    // each file costs max(bytes it will actually read, open cost).
    // Header-only scans read HeaderLen per file regardless of size.
    val maxPart = DicomLikeSource.MaxPartitionBytes
    val openCost = DicomLikeSource.OpenCostInBytes
    def cost(len: Long): Long =
      math.max(
        if (needContent) len
        else math.min(len, DicomLikeSource.InitialHeaderRead.toLong),
        openCost)
    val sorted = (topFiles ++ nested).sortBy(_._1)
    val parts = scala.collection.mutable.ArrayBuffer[InputPartition]()
    val cur = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    var curBytes = 0L
    sorted.foreach { f =>
      if (cur.nonEmpty && curBytes + cost(f._2) > maxPart) {
        parts += DicomLikeInputPartition(cur.toArray)
        cur.clear(); curBytes = 0L
      }
      cur += f; curBytes += cost(f._2)
    }
    if (cur.nonEmpty) parts += DicomLikeInputPartition(cur.toArray)
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    new DicomLikeReaderFactory(required,
      new graft.util.SerializableHadoopConf(conf))
  }
}

/** One task's worth of files (size-packed, never a single file unless
  * it alone exceeds the target); (path, length, mtime millis). */
case class DicomLikeInputPartition(files: Array[(String, Long, Long)])
  extends InputPartition

class DicomLikeReaderFactory(required: StructType,
    conf: graft.util.SerializableHadoopConf)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new DicomLikeReader(
      partition.asInstanceOf[DicomLikeInputPartition], required, conf)
}

class DicomLikeReader(part: DicomLikeInputPartition,
    required: StructType, conf: graft.util.SerializableHadoopConf)
  extends PartitionReader[InternalRow] {

  private val needContent = required.fieldNames.contains("content")
  private var idx = 0
  private var row: InternalRow = _

  /** Read the first `n` bytes of a file (or all of it if shorter) —
    * through the Hadoop FileSystem, so the same reader serves file://,
    * hdfs:// and s3a:// archives (executor-side open, like Spark's own
    * file readers). */
  private def readPrefix(p: Path, n: Int): Array[Byte] = {
    val fs = p.getFileSystem(conf.value)
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](n)
      var off = 0
      var r = 0
      while (r >= 0 && off < n) {
        r = in.read(buf, off, n - off)
        if (r > 0) off += r
      }
      if (off == n) buf else java.util.Arrays.copyOf(buf, off)
    } finally in.close()
  }

  /** Parse one file; None = skip (bad magic, or required header tags
    * missing/malformed — consistent with DicomLike.parseHeaders'
    * try_cast stance). Header-only projections read an initial window
    * and grow it only when the tag stream straddles the boundary. */
  private def parse(file: String, len: Long,
      mtimeMs: Long): Option[InternalRow] = {
    val p = new Path(file)
    var bytes: Array[Byte] = null
    var meta: Map[String, String] = null
    // a single byte[] caps at Int.MaxValue: clamp every read request,
    // and for full-content reads skip ≥2 GiB files outright (the
    // skip-malformed stance) instead of dying on a negative array size
    val maxRead = math.min(len, Int.MaxValue.toLong)
    if (needContent) {
      if (len > Int.MaxValue.toLong) return None
      bytes = readPrefix(p, len.toInt)
      BytesReadCounter.bytes.addAndGet(bytes.length.toLong)
      if (!graft.ingest.DicomCodec.isDicom(bytes)) return None
      meta = graft.ingest.DicomCodec.parse(bytes).meta
    } else {
      var readLen = math.min(maxRead,
        DicomLikeSource.InitialHeaderRead.toLong).toInt
      var done = false
      while (!done) {
        bytes = readPrefix(p, readLen)
        BytesReadCounter.bytes.addAndGet(bytes.length.toLong)
        if (!graft.ingest.DicomCodec.isDicom(bytes)) return None
        val res = graft.ingest.DicomCodec.parse(bytes)
        // the growth clamp at maxRead (not len) keeps readLen.toInt
        // from wrapping on multi-GiB files whose header never parses
        // complete — the pre-clamp loop could spin on zero-byte reads
        if (res.complete || readLen.toLong >= maxRead) {
          meta = res.meta; done = true
        } else readLen = math.min(maxRead, readLen.toLong * 4).toInt
      }
    }
    val series = meta.get("SeriesInstanceUID")
    val instOpt = meta.get("InstanceNumber").flatMap(_.toIntOption)
    val expOpt = meta.get("ImagesInAcquisition").flatMap(_.toIntOption)
    if (series.isEmpty || instOpt.isEmpty || expOpt.isEmpty) return None
    val values: Array[Any] = required.fieldNames.map {
      case "path" => UTF8String.fromString(file)
      case "series_uid" => UTF8String.fromString(series.get)
      case "instance_number" => instOpt.get
      case "echo" => UTF8String.fromString(meta.getOrElse("EchoNumbers", "1"))
      case "expected_count" => expOpt.get
      case "length" => len
      case "mtime" => mtimeMs * 1000L // TimestampType micros
      case "content" => bytes
    }
    Some(InternalRow.fromSeq(values.toIndexedSeq))
  }

  override def next(): Boolean = {
    while (idx < part.files.length) {
      val (file, len, mtimeMs) = part.files(idx)
      idx += 1
      parse(file, len, mtimeMs) match {
        case Some(r) => row = r; return true
        case None => // skipped file: fall through to the next one
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
