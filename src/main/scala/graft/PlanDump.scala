package graft

import java.nio.file.{Files, Paths}

/** Optimization-round loupe: write `.explain("formatted")` for named
  * queries (or every query) to text files, one per query — the plan
  * evidence the round's before/after claims are checked against.
  *
  * sbt "runMain graft.PlanDump <outDir> [suffix] [names...]"
  *
  * Writes `<outDir>/<name>_<suffix>.txt` (suffix defaults to "plan").
  * Runs on [[Session.local]], like Bench, so the captured plan is the
  * one the bench executes. Queries that do real work at
  * plan-construction time (iterative loops, staging writes) run that
  * work here too — the dump is the FINAL returned frame's plan,
  * exactly what consume() executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans")
    val suffix = if (args.length > 1) args(1) else "plan"
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
        println(s"[plandump] wrote $n (${plan.length} chars)")
      } catch {
        case e: Throwable =>
          println(s"[plandump] ERROR $n: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
