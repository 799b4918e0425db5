package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `setup` builds the workload's state and
  * inputs and warms the engine up, `op` is one timed operation, `check`
  * verifies that operation's outputs outside the timed window. */
trait Workload {
  def setup(): Unit
  def op(i: Int): Unit
  def check(i: Int): Seq[(String, Boolean)]
  /** bytes of input the timed ops consumed and bytes they left on disk */
  def inputBytes: Long
  def storedBytes: Long
  /** what one op consumes, for the result record */
  def opInput: String
  /** digest of every generated input byte */
  def inputDigest: String
  /** the op-latency percentile reported as op_tail_s */
  def tailPct: Int
  /** workload-specific per-layer metrics over the traced ops */
  def layers(tracer: Tracer, tracedOps: Int): Map[String, Double]
  /** runs untimed between ops */
  def betweenOps(): Unit = ()
  /** ops with the same key do the same work (query_mix: the query) */
  def opKey(i: Int): String = ""
  /** the window ends on a multiple of this many ops, so every run
    * weighs the op kinds alike */
  def cycle: Int = 1
  /** the window holds at least this many ops */
  def minOps: Int = 1
  /** which ops a traced run traces: every other one */
  def traced(i: Int): Boolean = i % 2 == 1
}

object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, work: File, data: File, out: File,
      source: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("cores").toInt, new File(m("work")),
      new File(m("data")), new File(m("out")), m.getOrElse("source", "unknown"))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** percentile, linear between the closest ranks */
  def pct(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = r.toInt
    if (lo + 1 >= s.length) s(lo) else s(lo) + (r - lo) * (s(lo + 1) - s(lo))
  }

  /** the regular files under `f`, in path order */
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(files)
    else if (f.exists) Seq(f) else Nil

  def dirBytes(f: File): Long = files(f).map(_.length).sum

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    LogTap.install()
    val sessionReadyS = (System.currentTimeMillis -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark.sparkContext)
    if (o.trace) spark.sparkContext.addSparkListener(new BenchListener)
    val w: Workload = o.workload match {
      case "query_mix"    => new QueryMix(spark, o, tracer)
      case "dicom_ingest" => new DicomIngest(spark, o, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up runs once: each run is a fresh JVM, and its cold start is
    // most of the set-up cost
    val t0 = System.nanoTime
    w.setup()
    val setupS = sessionReadyS + (System.nanoTime - t0) / 1e9
    System.err.println(f"perfbench setup: session $sessionReadyS%.3f s, total $setupS%.3f s")

    // timed window: one client, ops back to back, for --seconds of op
    // time rounded up to a whole cycle and to the workload's minimum op
    // count; checks run with the clock stopped. Traced runs trace half of
    // the ops, so traced and untraced ops interleave over the same state.
    val budgetNs = o.seconds * 1000000000L
    val windowStart = System.nanoTime
    var windowNs = 0L
    var i = 0
    val ops = ArrayBuffer[(String, Boolean, Double)]() // (key, traced, seconds)
    var failed = 0
    val failures = ArrayBuffer[String]()
    while (windowNs < budgetNs || i % w.cycle != 0 || i < w.minOps) {
      val on = o.trace && w.traced(i)
      tracer.on = on
      tracer.opId = i
      val t0 = System.nanoTime
      val err = try { tracer.span("op") { w.op(i) }; None }
        catch { case e: Throwable => Some(s"op $i: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)) }
      val dt = System.nanoTime - t0
      tracer.on = false
      windowNs += dt
      val bad = err.toSeq ++ (if (err.isEmpty)
        (try w.check(i) catch { case e: Throwable =>
          Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}" -> false) })
          .collect { case (name, false) => s"op $i: $name" }
        else Nil)
      if (bad.nonEmpty) { failed += 1; failures ++= bad }
      ops += ((w.opKey(i), on, dt / 1e9))
      w.betweenOps()
      i += 1
    }
    val windowS = windowNs / 1e9
    val lat = ops.map(_._3).toSeq
    System.err.println(f"perfbench window: $i ops, ${windowS}%.3f s timed, " +
      f"${(System.nanoTime - windowStart) / 1e9}%.3f s wall; op seconds " +
      ops.map { case (k, _, x) => f"$k $x%.3f".trim }.mkString(", "))
    val n = lat.length
    val tail = pct(lat, w.tailPct)
    val beyond = lat.count(_ > tail)
    failures.take(20).foreach(f => System.out.println(s"perfbench FAILED CHECK $f"))

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", n / windowS, "ops/s"),
      ("op_p50_s", median(lat), "s"),
      ("op_tail_s", tail, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("stored_bytes_per_input_byte",
        w.storedBytes.toDouble / math.max(1L, w.inputBytes), "bytes/byte"))

    val env = Seq(
      "workload" -> o.workload, "seed" -> o.seed.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_master_cores" -> o.cores.toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString,
      "source" -> o.source, "loop" -> "closed, 1 client",
      "op_input" -> w.opInput, "input_bytes" -> w.inputBytes.toString,
      "input_digest" -> w.inputDigest, "ops" -> n.toString,
      "window_s" -> f"$windowS%.3f", "tail" -> s"p${w.tailPct}",
      "samples_beyond_tail" -> beyond.toString)
    System.out.println("perfbench env " + env.map { case (k, v) =>
      s"$k=$v" }.mkString(" "))
    e2e.foreach { case (k, v, u) => System.out.println(s"perfbench metric $k ${jsonNum(v)} $u") }
    System.out.println(f"perfbench metric fail_ratio ${failed.toDouble / math.max(1, n)}%.6f ratio ($failed of $n)")

    if (o.trace) {
      val tracedOps = ops.count(_._2)
      // overhead: traced vs untraced mean latency of ops with the same
      // key, geometric mean over the keys that have both
      val ratios = ops.groupBy(_._1).values.flatMap { same =>
        val (on, off) = same.partition(_._2)
        if (on.isEmpty || off.isEmpty) None
        else Some(on.map(_._3).sum / on.length / (off.map(_._3).sum / off.length))
      }
      val perLayer = PerLayer(tracer, tracedOps, o.cores) ++ w.layers(tracer, tracedOps) ++ Map(
        "trace.overhead_ratio" ->
          (if (ratios.isEmpty) 0.0 else math.exp(ratios.map(math.log).sum / ratios.size)),
        "trace.ops_traced" -> tracedOps.toDouble)
      o.out.mkdirs()
      val spansFile = new File(o.out, s"spans-${o.workload}-${o.seed}.jsonl")
      val pw = new java.io.PrintWriter(spansFile)
      try tracer.toJsonLines.foreach(pw.println) finally pw.close()
      System.out.println(s"perfbench spans ${tracer.spans.length} -> ${spansFile.getPath}")
      perLayer.toSeq.sortBy(_._1).foreach { case (k, v) =>
        System.out.println(s"perfbench layer $k ${jsonNum(v)}") }
    }
    System.out.flush()
    spark.stop()
    System.out.println(s"perfbench result ${failed == 0} $n $failed")
    System.out.flush()
  }
}

/** Engine-level per-layer metrics (the `spark` layer), per traced op. */
object PerLayer {
  def apply(t: Tracer, tracedOps: Int, cores: Int): Map[String, Double] = {
    val ops = t.spans.filter(_.name == "op")
    val per = math.max(1, tracedOps).toDouble
    def sum(c: String): Double = ops.map(_.delta(c)).sum.toDouble
    val wall = ops.map(_.seconds).sum
    val self = t.selfSeconds
    val total = t.totalSeconds
    Map(
      "spark.jobs" -> sum("jobs") / per,
      "spark.stages" -> sum("stages") / per,
      "spark.tasks" -> sum("tasks") / per,
      "spark.task_run_s" -> sum("task_run_ms") / 1e3 / per,
      "spark.task_cpu_s" -> sum("task_cpu_ns") / 1e9 / per,
      "spark.sched_delay_s" -> sum("sched_delay_ms") / 1e3 / per,
      "spark.busy_ratio" -> (if (wall > 0) sum("task_run_ms") / 1e3 / (wall * cores) else 0.0),
      "spark.shuffle_read_bytes" -> sum("shuffle_read_bytes") / per,
      "spark.shuffle_write_bytes" -> sum("shuffle_write_bytes") / per,
      "spark.gc_s" -> sum("gc_ms") / 1e3 / per,
      "spark.spill_bytes" -> sum("spill_bytes") / per,
      "functions.codegen_fallbacks" -> sum("codegen_fallbacks") / per,
      "functions.wscg_disabled" -> sum("wscg_disabled") / per,
      "functions.codegen_compile_errors" -> sum("codegen_compile_errors") / per,
      "planning.codegen_compile_s" -> sum("codegen_compile_ms") / 1e3 / per,
      // layer spans are leaves under "op": their self time is their
      // duration, and op's self time is the benchmark's own share
      "op.self_s" -> self.getOrElse("op", 0.0) / per) ++
      total.collect { case (name, s) if name != "op" => s"${name}_s" -> s / per }
  }
}
