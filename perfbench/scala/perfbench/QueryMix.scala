package perfbench

import java.io.File

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.StringType

import graft.SparkEntry

/** Order- and column-order-insensitive result checksum: every row is
  * projected to its values as strings, columns sorted by name (the
  * oracle compare's normal form), hashed, and the hashes summed. The
  * staging root is replaced by a placeholder, so queries that report
  * paths of files they staged check the same wherever the run works.
  * The projection runs over `queryExecution.toRdd`, so computing it is
  * the query's full materialization. */
object Checksum {
  def of(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    rows(qe.toRdd, qe.executedPlan.output)
  }

  def rows(rdd: RDD[InternalRow], attrs: Seq[Attribute]): (Long, Long) = {
    val exprs: Seq[Expression] = attrs.zipWithIndex
      .sortBy { case (a, i) => (a.name, i) }
      .map { case (a, i) =>
        StringReplace(Cast(BoundReference(i, a.dataType, a.nullable), StringType, Some("UTC")),
          Literal(graft.util.Stage.root), Literal("<stage>")) }
    rdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(exprs)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (n1, h1)) => (n + n1, h + h1) }
  }

  def format(c: (Long, Long)): String = s"${c._1}\t${java.lang.Long.toHexString(c._2)}"
}

/** query_mix: each op builds, plans and fully materializes one query of
  * the registry (`SparkEntry.queries`) over the bundled sf0.01 tables and
  * checks its result checksum against the recorded one. The ops cycle
  * through a fixed sample of the registry, each cycle in a seed-shuffled
  * order, so every run measures the same population. The sample holds
  * one query of each registry map (`Queries.scala`'s `++` chain) and one
  * of the core TPC-H map, so every operator module has a query in the
  * window. Where a map has them, they are its cheaper members, so that
  * three cycles fit a run, except where a map's query must show
  * something: t13_quality_filter runs the text quality gate, and
  * i3_tri_dicom stages files, so stored bytes are defined. */
final class QueryMix(spark: SparkSession, o: Main.Opts, t: Tracer) extends Workload {
  private val dir = new File(o.data, "sf0.01").getAbsolutePath
  private val registry = SparkEntry.queries.keys.toSeq.sorted
  private val names = Seq(
    "q1_pricing_summary", "q6_forecast_revenue", "a1_dup_exam_groups",
    "j1_examseries_join", "w1_keep_latest", "x2_db_disk_anti",
    "d1_exact_dedup", "v1_ann_bruteforce", "t13_quality_filter", "m1_binary_meta",
    "k13_scd2_history", "f2_derivations", "g2_supplier_affinity",
    "s4_click_attribution", "k1_jdbc_roundtrip", "i3_tri_dicom")
  private val expected: Map[String, String] = {
    val src = scala.io.Source.fromFile(new File(o.data, "query_mix_checksums.tsv"))
    try src.getLines().map(_.split("\t")).map(a => a(0) -> s"${a(1)}\t${a(2)}").toMap
    finally src.close()
  }
  require(expected.keySet == registry.toSet,
    s"recorded checksums do not cover the registry: missing " +
      s"${registry.filterNot(expected.contains).mkString(",")}, extra " +
      s"${expected.keySet.filterNot(registry.contains).mkString(",")}")

  /** the registry map each query comes from (Queries.scala's ++ chain) */
  private val module: Map[String, String] = {
    import graft.operators._
    Seq("TpchOps" -> TpchOps.queries, "AggOps" -> AggOps.queries,
      "JoinOps" -> JoinOps.queries, "WindowOps" -> WindowOps.queries,
      "SetOps" -> SetOps.queries, "DedupOps" -> DedupOps.queries,
      "SimilarityOps" -> SimilarityOps.queries, "TextOps" -> TextOps.queries,
      "MultimodalOps" -> MultimodalOps.queries, "MergeOps" -> MergeOps.queries,
      "DeriveOps" -> DeriveOps.queries, "GraphOps" -> GraphOps.queries,
      "EventStream" -> graft.streaming.EventStream.queries,
      "JdbcCatalog" -> graft.catalog.JdbcCatalog.queries,
      "IngestPipeline" -> graft.ingest.IngestPipeline.queries)
      .flatMap { case (m, q) => q.keys.map(_ -> m) }.toMap
      .withDefaultValue("Queries")
  }
  require(names.map(module).distinct.length == names.length && names.forall(registry.contains),
    s"the sample must hold one registry query of each map: ${names.map(module)}")
  private val rng = new scala.util.Random(o.seed)
  private val order = scala.collection.mutable.ArrayBuffer[String]()
  private def nameAt(i: Int): String = {
    while (order.length <= i) order ++= rng.shuffle(names)
    order(i)
  }
  private val got = scala.collection.mutable.Map[Int, String]()
  private val ran = scala.collection.mutable.ArrayBuffer[(Int, String)]()
  private val stage = new File(graft.util.Stage.root)

  /** The input digest and a warm-up pass over the sample: JIT, codegen
    * and the table caches are filled, and every staging query has
    * written its artifacts, before the window opens. The pass runs the
    * queries on one thread per core: most of a cold query's cost is
    * single-threaded planning and code generation on the driver. */
  def setup(): Unit = {
    digest = Digest.ofDir(new File(dir))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    try {
      val runs = names.map { n =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = Checksum.format(Checksum.of(SparkEntry.queries(n)(spark, dir)))
        })
      }
      names.zip(runs).foreach { case (n, r) =>
        val c = r.get()
        require(c == expected(n), s"warm-up: $n checksum $c, recorded ${expected(n)}")
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    spark.catalog.clearCache()
  }
  private var digest = ""

  def op(i: Int): Unit = {
    val n = nameAt(i)
    val df = t.span("planning.build") { SparkEntry.queries(n)(spark, dir) }
    t.span("planning.optimize") { df.queryExecution.executedPlan }
    got(i) = Checksum.format(t.span("exec.run") { Checksum.of(df) })
    ran += i -> n
  }

  def check(i: Int): Seq[(String, Boolean)] = {
    val n = nameAt(i)
    Seq(s"checksum:$n" -> (got.remove(i).contains(expected(n))))
  }

  override def betweenOps(): Unit = spark.catalog.clearCache()
  override def opKey(i: Int): String = nameAt(i)
  override def cycle: Int = names.length
  /** three cycles: op_tail_s (p80) then has at least 10 samples beyond
    * it, a traced run traces every query, and every run holds the same
    * number of cycles, since two take less than the window on a quiet
    * host and three more than it */
  override def minOps: Int = 3 * names.length
  /** half of each cycle, alternating between cycles, so every query is
    * traced and untraced alike */
  override def traced(i: Int): Boolean = (names.indexOf(nameAt(i)) + i / cycle) % 2 == 1

  def inputBytes: Long = Main.dirBytes(new File(dir))
  def storedBytes: Long = Main.dirBytes(stage)
  def opInput: String =
    s"1 of ${names.length} sampled registry queries over sf0.01 (${inputBytes} bytes)"
  def inputDigest: String = digest
  def tailPct: Int = 80

  def layers(tracer: Tracer, tracedOps: Int): Map[String, Double] = {
    val per = math.max(1, tracedOps).toDouble
    val builds = tracer.spans.filter(_.name == "planning.build")
    val opSpans = tracer.spans.filter(_.name == "op").map(s => s.op -> s.seconds).toMap
    // a module's time: its query's mean traced latency
    val byModule = ran.collect { case (i, n) if opSpans.contains(i) => module(n) -> opSpans(i) }
      .groupMap(_._1)(_._2)
    Map("planning.build_jobs" -> builds.map(_.delta("jobs")).sum / per) ++
      byModule.map { case (m, s) => s"operators.${m}_s" -> s.sum / s.length }
  }
}

/** Records the registry's expected checksums (`record <data> <out.tsv>`)
  * or the checksums of the result directories graft.Verify writes
  * (`dirs <verifyOut> <out.tsv>`), which the benchmark's tests compare. */
object QueryMixTool {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = args(0) match {
      case "record" =>
        val dir = new File(args(1), "sf0.01").getAbsolutePath
        SparkEntry.queries.keys.toSeq.sorted.map { n =>
          val t0 = System.nanoTime
          val c = Checksum.of(SparkEntry.queries(n)(spark, dir))
          spark.catalog.clearCache()
          System.err.println(f"$n ${(System.nanoTime - t0) / 1e9}%.3f s")
          s"$n\t${Checksum.format(c)}"
        }
      case "dirs" =>
        new File(args(1)).listFiles.filter(_.isDirectory).map(_.getName).sorted.toSeq.map { n =>
          s"$n\t${Checksum.format(Checksum.of(spark.read.parquet(new File(args(1), n).getPath)))}"
        }
    }
    val pw = new java.io.PrintWriter(args(2))
    try lines.foreach(pw.println) finally pw.close()
    spark.stop()
  }
}

object Digest {
  /** sha-256 over every file's relative path and bytes, in path order */
  def ofDir(root: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Main.files(root).foreach { f =>
      md.update(root.toPath.relativize(f.toPath).toString.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}
