package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** File-manifest sources — SURVEY §2.1 S1–S4, S9.
  *
  * Reference shapes: per-level regex directory descent
  * (get_subdir_regex, common.py:314-369), regex file scan
  * (common.py:371-438), recursive scan (common.py:260-265),
  * mtime-filtered scan — the reference's partition pruning
  * (get_all_newer_subdir, common.py:267-306), and the id,path list
  * source with duplicate check (readList, common.py:470-494).
  *
  * Design: the *manifest* (path, mtime, size) is listed once into a
  * DataFrame — metadata only, content is NOT read (the reference's
  * stop_before_pixels discipline). Content reads go through
  * `spark.read.format("binaryFile")` on the already-filtered path set.
  * The driver lists only the root's first level; per-subdirectory
  * recursion runs on executors, so the manifest never materializes in
  * driver memory. Every filter after that is a DataFrame predicate.
  */
object FileScans {

  case class FileMeta(path: String, mtime: Long, size: Long, isDir: Boolean)

  /** S3 — recursive manifest scan of a root, distributed: the driver
    * lists only the root's immediate children; each subdirectory's
    * recursive listing runs on executors (flatMap), so a root with
    * millions of files never materializes in driver memory — only the
    * first level does. */
  def listFiles(spark: SparkSession, root: String): Dataset[FileMeta] = {
    import spark.implicits._
    val top = graft.util.Fs.forPath(spark, root).listStatus(new Path(root))
    val topFiles = top.filter(_.isFile).map(f =>
      FileMeta(f.getPath.toUri.getPath, f.getModificationTime,
        f.getLen, isDir = false)).toSeq
    val subDirs = top.filter(_.isDirectory).map(_.getPath.toString).toSeq
    // executors must see the session's Hadoop conf (s3a credentials,
    // endpoints) — a fresh Configuration() would silently drop them
    val bc = spark.sparkContext.broadcast(
      new graft.util.SerializableHadoopConf(
        spark.sessionState.newHadoopConf()))
    val nested = spark.createDataset(subDirs).flatMap { d =>
      val p = new Path(d)
      val dfs = p.getFileSystem(bc.value.value)
      val it = dfs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer[FileMeta]()
      while (it.hasNext) {
        val f = it.next()
        buf += FileMeta(f.getPath.toUri.getPath, f.getModificationTime,
          f.getLen, isDir = false)
      }
      buf
    }
    spark.createDataset(topFiles).union(nested)
  }

  /** S1/S2 — per-level regex descent: level i of the relative path must
    * match regexes(i); the file name must match the last regex.
    * Depth is checked first and levels are accessed with
    * try_element_at — files shallower than the regex depth must be
    * filtered out, not crash the scan (ANSI element_at throws). The
    * relative offset comes from the scheme-less URI path, matching what
    * listFiles stores. */
  def regexScan(spark: SparkSession, root: String,
      regexes: Seq[String]): Dataset[FileMeta] = {
    val rootPath = new Path(root).toUri.getPath.stripSuffix("/")
    val rel = expr(s"substring(path, ${rootPath.length + 2})")
    val parts = split(rel, "/")
    val conds = regexes.zipWithIndex.map { case (r, i) =>
      coalesce(expr(s"try_element_at(split(substring(path, ${rootPath.length + 2}), '/'), ${i + 1})")
        .rlike(r), lit(false))
    }
    val levelOk = size(parts) === regexes.length && conds.reduce(_ && _)
    listFiles(spark, root).filter(levelOk && !col("isDir"))
  }

  /** S4 — mtime-filtered scan (`--days N`): only entries modified on or
    * after the cutoff epoch-millis survive. */
  def newerThan(files: Dataset[FileMeta], cutoffMillis: Long)
      : Dataset[FileMeta] =
    files.filter(col("mtime") >= cutoffMillis)

  /** S9 — id,path list source; fails fast on duplicate ids (the
    * reference raises on dup, common.py:489-492). */
  def readList(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.option("header", "false").csv(path)
      .toDF("id", "path")
    val dups = df.groupBy("id").count().filter(col("count") > 1)
      .limit(1).collect()
    require(dups.isEmpty,
      s"duplicate id in list source: ${dups.headOption.map(_.get(0))}")
    df
  }

  /** Content read of an already-filtered path set (S5-style): binaryFile
    * with glob pushdown; pixel data stays unread until a downstream
    * operator asks for `content`. */
  def binaryContent(spark: SparkSession, root: String,
      glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(root)

  /** S10 — the three QC image-finder strategies (qcview.py:33-172):
    * a file of explicit paths, a subject list expanded through a
    * `#V0#` template, and a glob search. All return one manifest shape
    * (`path`), ready for the S14/J7 resume anti-join. */
  def qcFileFinder(spark: SparkSession, listFile: String): DataFrame =
    spark.read.text(listFile).toDF("path")
      .filter(length(trim(col("path"))) > 0)

  def qcListFinder(spark: SparkSession, subjectsFile: String,
      template: String): DataFrame =
    spark.read.text(subjectsFile).toDF("subject")
      .filter(length(trim(col("subject"))) > 0)
      // lit() carries the template verbatim — interpolating it into SQL
      // text would re-interpret quotes and backslashes
      .select(replace(lit(template), lit("#V0#"), col("subject"))
        .as("path"))

  def qcPathFinder(spark: SparkSession, root: String,
      glob: String): DataFrame = {
    import spark.implicits._
    listFiles(spark, root).filter(!col("isDir"))
      .filter(col("path").rlike(glob))
      .select(col("path"))
  }

  /** X3 — scanner-vs-disk reconciliation (do_results_DB.py:319-342):
    * manifest rows with no disk counterpart, or whose file count
    * disagrees, become findings. Pure anti-join + count-mismatch filter
    * over two manifests (key column `series_key`, expected `n_expected`
    * on the scanner side; actual counts grouped from the disk side). */
  def reconcile(scanner: DataFrame, disk: DataFrame): DataFrame = {
    val actual = disk.groupBy(col("series_key"))
      .agg(count(lit(1)).as("n_actual"))
    scanner.join(actual, Seq("series_key"), "left_outer")
      .withColumn("finding",
        when(col("n_actual").isNull, lit("missing_on_disk"))
          .when(col("n_actual") =!= col("n_expected"), lit("count_mismatch"))
          .otherwise(lit("ok")))
      .filter(col("finding") =!= "ok")
      .select(col("series_key"), col("n_expected"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"), col("finding"))
  }

  /** S13 — results-file source (seg8 parse, do_results_DB.py:101-133):
    * find result files by glob, parse the first tab-separated line into
    * three float columns keyed by file path. */
  def readSeg8(spark: SparkSession, root: String,
      glob: String = "*seg8.txt"): DataFrame = {
    val files = spark.read
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .text(root)
      .select(input_file_name().as("path"), col("value"))
    // try_* forms: a truncated or empty results file yields null columns
    // instead of failing the whole scan (ANSI element_at/cast throw)
    files
      .withColumn("fl",
        split(expr("try_element_at(split(value, '\n'), 1)"), "\t"))
      .select(
        col("path"),
        expr("try_cast(try_element_at(fl, 1) as double)").as("vbmgrayvol"),
        expr("try_cast(try_element_at(fl, 2) as double)").as("vbmwhitevol"),
        expr("try_cast(try_element_at(fl, 3) as double)").as("vbmcsfvol"))
  }
}
