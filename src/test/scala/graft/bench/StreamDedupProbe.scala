package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftFunctions
import graft.operators.DedupOps

/** Scale probe for the STREAMING dedup path (VERDICT r9 ask #4):
  * [[DedupOps.probeAndExtend]] claims per-batch cost ∝ batch size,
  * not store size — the micro-batch's band table probes the persisted
  * signature store through a band equi-join with the batch side
  * broadcast, so a 10× store must not make a batch 10× slower.
  *
  * Method: build signature stores from corpora at 1× and 10×
  * (`/root/testdata/sf0.1` and a ScaleUp output), then push the SAME
  * sequence of micro-batches through each store and time every batch
  * end-to-end (probe + verdict materialization + novel-band append —
  * the whole foreachBatch body). Batches mix novel docs (fresh letter
  * permutation per batch) with true copies of store docs, so both the
  * hit and the extend paths run. Results go to BENCH_NOTES by hand.
  *
  * Run:
  * {{{
  * sbt "Test/runMain graft.bench.StreamDedupProbe \
  *   /root/testdata/sf0.1 /tmp/sf1 /root/testdata/sf0.01 /tmp/sdprobe"
  * }}}
  */
object StreamDedupProbe {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val store1x = args.headOption.getOrElse("/root/testdata/sf0.1")
    val store10x = if (args.length > 1) args(1) else "/tmp/sf1"
    val batchSrc = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val work = if (args.length > 3) args(3) else "/tmp/sdprobe"
    val nBatches = 5

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)

    def docs(dir: String): DataFrame = spark.read
      .parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 8)

    /** The signature store a long-running ingest would have persisted,
      * seeded through the store API: one append of the whole corpus
      * (its novel docs' bands). */
    def buildStore(corpus: String, dest: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(dest).getFileSystem(
        spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(dest), true)
      DedupOps.probeAndExtend(dest, docs(corpus)).count(): Unit
      DedupOps.readStore(spark, dest).count()
    }

    /** Batch b: ~half novel (per-batch letter permutation keeps them
      * out of every store and every other batch), ~half verbatim
      * copies of 1×-corpus docs (so they hit stores built FROM that
      * corpus in all 16 bands). doc_ids are re-keyed per batch far
      * above any corpus id. */
    def batchOf(b: Int): DataFrame = {
      val base = docs(batchSrc)
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val perm = ScaleUp.permutation(1000 + b)
      val novel = base.filter(col("doc_id") % 2 === 0)
        .withColumn("text",
          translate(col("text"), lower + lower.toUpperCase,
            perm + perm.toUpperCase))
      val copies = docs(store1x).filter(col("doc_id") % 11 === b)
      novel.union(copies)
        .select((col("doc_id") + 10000000L * (b + 1)).as("doc_id"),
          col("text"))
    }

    val scales = Seq("store_1x" -> store1x, "store_10x" -> store10x)
    val results = scales.map { case (tag, corpus) =>
      val storeDir = s"$work/$tag"
      val storeRows = buildStore(corpus, storeDir)
      // warmup batch (JIT, codegen, listing) — not recorded
      DedupOps.probeAndExtend(storeDir, batchOf(99))
        .queryExecution.toRdd.count(): Unit
      val perBatch = (0 until nBatches).map { b =>
        val batch = batchOf(b).cache()
        val n = batch.count() // materialize outside the window
        val sec = time {
          DedupOps.probeAndExtend(storeDir, batch)
            .queryExecution.toRdd.count(): Unit
        }
        batch.unpersist()
        (b, n, sec)
      }
      (tag, storeRows, perBatch)
    }

    println("== streaming dedup store probe ==")
    results.foreach { case (tag, rows, perBatch) =>
      val secs = perBatch.map(_._3)
      println(f"$tag%-10s bands=$rows%9d  batches=" +
        perBatch.map { case (b, n, s) => f"b$b(n=$n):$s%.2fs" }
          .mkString(" ") +
        f"  median=${secs.sorted.apply(secs.size / 2)}%.2fs")
    }
    val m1 = results.head._3.map(_._3).sorted.apply(nBatches / 2)
    val m10 = results.last._3.map(_._3).sorted.apply(nBatches / 2)
    println(f"store 10x / store 1x median per-batch ratio: ${m10 / m1}%.2f")
    spark.stop()
  }
}
