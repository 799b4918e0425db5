package graft

/** Profiling helper: run one named query (warmup + N timed runs) and
  * print per-run seconds — the single-query loupe for bench outliers.
  *
  * sbt "runMain graft.RunOne <name> [sfDir] [runs]"
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local()
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    Bench.consume(fn(spark, dir))
    println(f"[runone] $name warmup ${(System.nanoTime() - t0) / 1e9}%.2f s")
    (1 to runs).foreach { i =>
      val t = System.nanoTime()
      val n = Bench.consume(fn(spark, dir))
      println(f"[runone] $name run$i ${(System.nanoTime() - t) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
