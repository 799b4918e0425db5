package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Test probes over Spark-private state, which is why they live in this
  * package: the generated-class census and a job log drained from the
  * listener bus. */
object SparkProbes {

  /** Empties Spark's JVM-wide cache of compiled generated classes
    * (`CodeGenerator.cache`, 100 entries by default), so the next use
    * of every generated class compiles it again. */
  def flushCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    // `loadingCache` is Scala-protected, public in bytecode
    cache.getClass.getMethod("loadingCache").invoke(cache)
      .asInstanceOf[org.sparkproject.guava.cache.Cache[_, _]].invalidateAll()
  }

  /** Runs `body` from a flushed codegen cache and returns its result
    * with the number of classes it compiled — its distinct generated
    * classes, as long as they fit the cache. Counts compiles on every
    * thread of the JVM, local-mode tasks included. */
  def classesCompiled[T](body: => T): (T, Long) = {
    flushCodegenCache()
    val before = compiles()
    val out = body
    (out, compiles() - before)
  }

  /** Generated classes compiled in this JVM so far. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` and returns its result with one entry per Spark job it
    * started: the job's SQL execution id, None for a job run outside
    * any SQL execution (a schema-inference or listing job). */
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Seq[Option[Long]]) = {
    val jobs = new ConcurrentLinkedQueue[Option[Long]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
