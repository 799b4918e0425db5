package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftFunctions.register]] runs on every ingest op and most dedup
  * and similarity queries, so a repeat call must be silent. */
class GraftFunctionsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** Messages the function registry logs while `body` runs. */
  private def registryLog(body: => Unit): Seq[String] = {
    val logger = LogManager.getLogger(
      spark.sessionState.functionRegistry.getClass.getName)
      .asInstanceOf[CoreLogger]
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("registry-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try body
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("a repeat register logs no 'replaced a previously registered " +
      "function' WARN; a user's function of the same name is replaced") {
    GraftFunctions.register(spark)
    val warned = registryLog(GraftFunctions.register(spark))
      .filter(_.contains("replaced a previously registered function"))
    assert(warned.isEmpty,
      s"a repeat register re-registered graft's own functions: $warned")

    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("simhash60")
    val ours = GraftFunctions.all.collectFirst {
      case (`id`, _, builder) => builder
    }.get
    val user = (_: Seq[Expression]) => Literal(0L)
    registry.createOrReplaceTempFunction(id.funcName, user, "scala_udf")
    GraftFunctions.register(spark)
    assert(registry.lookupFunctionBuilder(id).exists(_ eq ours),
      "register left a user's function in place of graft's")
  }
}
