package graft.catalog

import org.apache.spark.sql.DataFrame

/** Parquet-lake layout writers: date-partitioned, bucketed, Z-ordered
  * and bloom-filtered writes — the physical layouts the catalog and
  * fact tables are scanned through. The catalog MERGE sink (the
  * reference's exam/serie upsert, Cenir_DB.py:62-135) is
  * [[PartitionedSnapshotLake.commitMerge]].
  */
object Lake {

  /** Date-partitioned lake layout: the reference's mtime-based `--days`
    * pruning (common.py:267-306) becomes partition pruning — a reader
    * filtering on `part_date` touches only the matching directories
    * (PartitionFilters in the scan, asserted in TypedPipelineSpec). */
  def writePartitionedByDay(df: DataFrame, tsCol: String,
      path: String): Unit =
    df.withColumn("part_date",
      org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col(tsCol)))
      .write.mode("overwrite").partitionBy("part_date").parquet(path)

  /** Bucketed layout for co-located joins: both fact tables bucketed by
    * the join key into the same bucket count join WITHOUT a shuffle
    * (no Exchange in the plan — asserted in BucketedJoinSpec). At 100 TB
    * this is the difference between re-shuffling the fact table per
    * query and a one-time layout cost at ingest. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Z-order (Morton-curve) clustered write — multi-dimensional data
    * skipping. A single-column sort makes per-file min/max ranges tiny
    * on that column and useless on every other; interleaving the bits
    * of ALL clustered columns into one sort key shrinks per-file
    * ranges on EVERY dimension (≈ numFiles^(1/n) reduction each), so
    * parquet row-group/file pruning works for predicates on any
    * clustered column. At 100 TB this is a one-time layout cost at
    * ingest (one range shuffle) bought back by every selective scan.
    *
    * Columns are min/max-normalized to 16-bit ranks via one tiny
    * aggregate (collected: 2·n doubles of driver state); heavily
    * skewed columns would want quantile boundaries instead — the
    * interleave is unchanged, only the normalization swaps. Nulls
    * rank 0. The z-key is dropped after ordering; files come from one
    * `repartitionByRange` on the key (range, not hash: the curve stays
    * contiguous per file). */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
      numFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && cols.size <= 4, "1..4 z-order columns")
    val aggExprs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).cast("double").as(s"mn$i"),
        max(col(c)).cast("double").as(s"mx$i"))
    }
    val mm = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    val n = cols.size
    val normed = cols.zipWithIndex.map { case (c, i) =>
      // an all-null column (or an empty frame) has null min/max: rank
      // everything 0 on that dimension, per the null contract below —
      // a raw getDouble would NPE from the driver
      val (mn, mx) =
        if (mm.isNullAt(2 * i) || mm.isNullAt(2 * i + 1)) (0.0, 0.0)
        else (mm.getDouble(2 * i), mm.getDouble(2 * i + 1))
      val span = if (mx > mn) mx - mn else 1.0
      least(lit(65535), greatest(lit(0),
        ((col(c).cast("double") - lit(mn)) / lit(span) * 65535.0)
          .cast("int"))).cast("long")
    }
    val zkey = (0 until 16).flatMap { bit =>
      normed.zipWithIndex.map { case (nc, j) =>
        shiftleft(shiftright(nc, bit).bitwiseAND(1), bit * n + j)
      }
    }.reduce(_ + _)
    df.withColumn("__zkey", zkey)
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Parquet bloom-filtered write — point-lookup pruning for
    * high-cardinality keys where min/max ranges are useless (a UID
    * equality probe hits every file by min/max but almost no file by
    * bloom). Complements [[zorderWrite]]: z-order serves range
    * predicates on few dimensions, blooms serve equality on columns
    * you cannot afford to cluster by. Pure write-time metadata — the
    * reader side is free (Spark's parquet reader consults the filter
    * on `col = literal` pushdown automatically). */
  def writeWithBloom(df: DataFrame, bloomCols: Seq[String], path: String,
      expectedNdv: Long = 100000L): Unit = {
    val w = bloomCols.foldLeft(df.write.mode("overwrite")) { (wr, c) =>
      wr.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c",
          expectedNdv.toString)
    }
    w.parquet(path)
  }
}
