package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (UTC, 4 shuffle partitions — small
  * data; production sizing is per-run in Bench/Verify).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
  override def afterAll(): Unit = () // session shared across suites

  /** The messages loggers whose names end in one of `loggers` log while
    * `body` runs.
    */
  def logged(loggers: String*)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("spec-log-capture", null, null, true,
      Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (loggers.exists(e.getLoggerName.endsWith))
          seen.add(e.getMessage.getFormattedMessage)
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    capture.start()
    root.addAppender(capture)
    try body
    finally {
      root.removeAppender(capture)
      capture.stop()
    }
    seen.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
