package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Collects the WARN messages that any logger reaching the root logger
  * emits while a block runs, through a log4j2 appender attached for the
  * block's duration only.
  */
object WarnCapture {
  def apply[A](body: => A): (A, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"warn-capture-${System.nanoTime}", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        if (event.getLevel == Level.WARN) seen.add(event.getMessage.getFormattedMessage)
    }
    val ctx = LoggerContext.getContext(false)
    val root = ctx.getConfiguration.getRootLogger
    appender.start()
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val a = body
      (a, seen.asScala.toSeq)
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
