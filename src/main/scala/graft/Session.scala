package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session the command-line mains (`Bench`,
  * `Verify`, `RunOne`, `PlanDump`) run on, so a plan dumped or
  * profiled by one of them is the plan the others execute.
  * `SPARK_GRAFT_CPUS` sets the core count (and the shuffle width);
  * unset, it is the cores this JVM may use. */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
