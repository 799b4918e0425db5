package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each table is `<sfDir>/<table>.parquet`: one file in the testdata,
  * a directory of part files (a multi-file lake table) at 100 TB. The
  * loader API is the same either way (`spark.read.parquet(dir)` handles
  * both), so query code never cares.
  *
  * '''Table info, one cache.''' Each table's facts — its schema, its
  * scan-task count and its row count — live in one entry keyed by the
  * table's stamp: the path plus the Hadoop `FileStatus` (mtime, length)
  * of it, resolved like Spark's own read of the path
  * ([[graft.util.Fs]]), so it reads the real stamp on `hdfs://` and
  * `s3a://` too. An in-process rewrite of the same path (test tooling
  * overwriting `$dst/$t.parquet`) gets a fresh entry instead of a
  * stale schema; a directory table stamps with the directory's own
  * status, which bumps on a child add/remove where the filesystem
  * keeps directory mtimes. The schema is inferred on first load and passed explicitly
  * afterwards (a bare `spark.read.parquet` re-reads footers on every
  * plan build, ~30-80 ms per table — what a metastore saves at scale);
  * the scan-task and row counts are computed only when [[spread]]
  * needs them.
  *
  * '''One spread rule.''' [[spread]] is the only place that decides
  * whether a per-row hash/compute loop gets a hash repartition in
  * front of it, and how wide. Layout repartitions that a downstream
  * operator consumes are not spreads and stay where they are: a3's
  * `repartition(l_orderkey)` is its aggregate's own exchange moved
  * earlier (a fixed width would change its plan and AQE coalescing),
  * and GraphOps' `repartition(shuf, src)` is the layout of the three
  * PageRank joins.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table's facts under one stamp. The counts are taken only on
    * first use — scan tasks by partition planning (no job), rows from
    * footer statistics — through the active session, so a cached entry
    * never pins the session that created it. */
  private final class Info(path: String, val schema: StructType) {
    private def read = SparkSession.active.read.schema(schema).parquet(path)
    lazy val scanTasks: Int = read.rdd.getNumPartitions
    lazy val rows: Long = read.count()
  }

  private val infos = new java.util.concurrent.ConcurrentHashMap[String, Info]()

  private def info(spark: SparkSession, path: String): Info = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val st = graft.util.Fs.forPath(spark, path).getFileStatus(new Path(path))
    infos.computeIfAbsent(s"$path@${st.getModificationTime}:${st.getLen}",
      _ => new Info(path, spark.read.parquet(path).schema))
  }

  /** The events table stores TIMESTAMP(NANOS) parquet, which Spark only
    * reads via the nanosAsLong legacy conf (as a raw long; [[info]] sets
    * it for the session before the first read). We truncate
    * nanos → micros exactly like DuckDB's TIMESTAMP_NS → TIMESTAMP cast,
    * so both engines see identical microsecond timestamps.
    */
  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val df = spark.read.schema(info(spark, path).schema).parquet(path)
    df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None    => df
    }
  }

  /** Spread `df` — derived from `table`'s scan — over the cores before
    * a heavy per-row compute loop (guide §2.5), by a hash repartition
    * on `key`, only when the scan cannot fill the cores itself.
    *
    *  - If `table`'s scan already has at least `defaultParallelism`
    *    tasks (a multi-file lake table), `df` is returned unchanged:
    *    the repartition would be a pure extra full-corpus shuffle.
    *  - Otherwise (locally every testdata table is one small
    *    single-row-group file, so its scan is 1 task and the loop would
    *    run single-threaded) it is `repartition(n, col(key))` with
    *    n = min(shuffle width, rows/512 + 1): ~512 rows per task
    *    amortize the ~5 ms task launch (an unqualified
    *    `repartition(col)` pinned 32 few-hundred-row tasks at sf0.1
    *    whose launch cost exceeded their hash work), and the cap is the
    *    session's shuffle width, so at corpus scale n IS that width.
    *
    * The scan-task count is Spark's byte-range split count; it
    * over-estimates row parallelism only for a multi-hundred-MB file
    * holding one giant row group, a layout production writers bound.
    * The width is sized from `table`'s rows, not from `df`'s: d5 and d9
    * spread a union of 2× the base rows, d13/d14/d15 add re-keyed
    * copies of a seventh to a quarter of them. */
  def spread(df: DataFrame, sfDir: String, table: String, key: String)
      : DataFrame = {
    val spark = df.sparkSession
    val t = info(spark, s"$sfDir/$table.parquet")
    if (t.scanTasks >= spark.sparkContext.defaultParallelism) df
    else {
      val shuf = spark.conf.get("spark.sql.shuffle.partitions").toLong
      df.repartition(math.min(shuf, t.rows / 512 + 1).toInt, col(key))
    }
  }
}
