package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import scala.jdk.CollectionConverters._

/** Collects what is logged at WARN or above while a block runs (an appender
  * on the root logger, removed afterwards). */
object LogCapture {
  def warnings[T](f: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-log-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try {
      val r = f
      (r, seen.asScala.toSeq)
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }
}
