package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one FileSystem resolver for paths graft lists, stats, renames or
  * marks itself. A path resolves the way Spark's own reads and writes of
  * the same path do: a path without a scheme resolves against
  * `fs.defaultFS` (HDFS on a typical cluster, `file:` locally), never a
  * forced `file://`. Resolves through the context's Hadoop conf, not
  * `sessionState.newHadoopConf()`, which copies the whole conf on every
  * call (~150 µs against ~5 µs) — the lakes resolve on every helper
  * call. */
private[graft] object Fs {
  def forPath(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
