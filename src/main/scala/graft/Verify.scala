package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Extra args past `<sfDir> <outDir>` restrict the dump to the named
  * queries (dev loop: `runMain graft.Verify <sf> <out> t24_gopher_rules`
  * then `tools/check.py` on the same outDir) — the driver passes none
  * and gets the full suite. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val subset = args.drop(2).toSet
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // Plain partitioned writes: check.py globs all part files, and
    // coalesce(1) would funnel large results through one task.
    // Queries run 4-at-a-time: Spark schedules concurrent jobs fine,
    // and most of these are too small to saturate the cluster alone.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val selected = SparkEntry.queries.toSeq
      .filter { case (n, _) => subset.isEmpty || subset(n) }
    val futures = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // Bench.jsonQ escapes every control char: a tab or CR in oracle SQL
    // must not make check.py's json.load fail
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => subset.isEmpty || subset(k) }
      .map { case (k, v) => s"${Bench.jsonQ(k)}: ${Bench.jsonQ(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
