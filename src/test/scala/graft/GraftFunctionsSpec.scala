package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions

/** The native-function catalog is installed at the entry boundaries,
  * once per session: a fresh session gets it from the query boundary,
  * and repeated or concurrent [[GraftFunctions.ensure]] calls never
  * replace a registered function. */
class GraftFunctionsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  /** Session with the builtin registry only (no temp functions). */
  private def fresh() = SparkSuite.spark.newSession()

  /** Registry "replaced a previously registered function" warnings
    * logged while `f` runs. The logger is non-additive so the captured
    * events stay out of the console log. */
  private def replaceEvents(f: => Unit): Int = {
    val n = new AtomicInteger
    val appender = new AbstractAppender("graft-functions-spec", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .contains("replaced a previously registered function"))
          n.incrementAndGet()
    }
    appender.start()
    val logger = "org.apache.spark.sql.catalyst.analysis"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(logger, Level.WARN, false)
    lc.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(logger, lc)
    ctx.updateLoggers()
    try f
    finally {
      ctx.getConfiguration.removeLogger(logger)
      ctx.updateLoggers()
      appender.stop()
    }
    n.get
  }

  private def missing(s: org.apache.spark.sql.SparkSession): Seq[String] =
    GraftFunctions.catalog.map(_._1).filterNot(s.catalog.functionExists)

  test("the query boundary installs the catalog on a session without it") {
    val s = fresh()
    assert(missing(s).nonEmpty, "a new session starts without temp functions")
    val df = SparkEntry.defs("t04_simhash").production(s, sf)
    assert(df.collect().nonEmpty)
    assert(missing(s).isEmpty)
    // the folded kernel keeps its width out of the plan text
    val plan = df.queryExecution.executedPlan.toString
    assert("""simhash16\(split\(lower\(text#\d+\),  , -1\)\)""".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("ensure twice replaces nothing") {
    val s = fresh()
    assert(replaceEvents { GraftFunctions.ensure(s); GraftFunctions.ensure(s) } == 0)
    // control: the appender does see a real replacement
    assert(replaceEvents {
      s.sessionState.functionRegistry.createOrReplaceTempFunction(
        "float_dot", _ => Literal(0.0), "built-in")
    } == 1)
  }

  test("concurrent ensure on one session registers each name once") {
    val s = fresh()
    val threads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    val events = replaceEvents {
      val futures = (1 to threads).map(_ =>
        pool.submit(new Runnable {
          def run(): Unit = { start.await(); GraftFunctions.ensure(s) }
        }))
      start.countDown()
      futures.foreach(_.get(60, TimeUnit.SECONDS)) // rethrows any failure
    }
    pool.shutdown()
    assert(events == 0)
    assert(GraftFunctions.catalog.size == 16)
    assert(missing(s).isEmpty)
  }
}
