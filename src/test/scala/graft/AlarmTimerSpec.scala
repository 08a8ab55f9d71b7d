package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.model.HealthCheckConfig
import graft.streaming.{AlarmPipeline, TransitionEvent}

/** The alarm operator arms ONE event-time timer per key: every firing
  * evaluates all due periods and re-arms the next period end, so a
  * per-row `registerTimer` only re-registers a timer that already exists,
  * which Spark's timer store rejects with a WARN per row (tens of
  * thousands of log lines per canary minute at 10,000 streams). This
  * spec captures that logger during a short MemoryStream run whose
  * batches carry several rows per key and period, late rows into an
  * armed period, and silent periods caught up by one firing.
  */
class AlarmTimerSpec extends AnyFunSuite with Matchers with SparkTestBase {
  import spark.implicits._

  private val timerLogger = "org.apache.spark.sql.execution.streaming." +
    "operators.stateful.transformwithstate.timers.TimerStateImpl"

  private def ts(min: Int, sec: Int = 0): Timestamp =
    new Timestamp((min * 60L + sec) * 1000L)

  /** Runs `body` with every WARN-or-worse line of the timer store's logger
    * captured; returns the body's result and the captured messages. */
  private def capturingTimerWarnings[T](body: => T): (T, Seq[String]) = {
    val logger = LogManager.getLogger(timerLogger).asInstanceOf[CoreLogger]
    val seen = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("timer-warn-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val levelWas = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(levelWas)
      appender.stop()
    }
  }

  test("an alarm run registers no timer twice and still evaluates every period") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val metrics = input.toDF().toDF("streamName", "ts", "value")
    val q = AlarmPipeline.transitions(metrics, HealthCheckConfig())
      .writeStream.format("memory").queryName("t_timer_once")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("chk-timer-once").toString)
      .outputMode("append").start()
    val (out, warnings) = capturingTimerWarnings {
      try {
        Seq(
          // several rows per key and minute in one batch
          Seq(("a", ts(0, 5), 0.5), ("a", ts(0, 40), 0.7), ("a", ts(1, 10), 5.0),
            ("a", ts(1, 50), 0.2), ("b", ts(0, 1), 0.3), ("b", ts(0, 2), 0.4)),
          // late rows into periods whose end is already armed
          Seq(("a", ts(1, 30), 0.1), ("b", ts(0, 30), 0.2), ("b", ts(2), 0.2)),
          // minutes 3..7 silent: caught up by single firings
          Seq(("a", ts(8), 0.3), ("b", ts(8), 0.3)),
          Seq(("a", ts(9), 0.3), ("b", ts(9), 0.3)),
          Seq.empty
        ).foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("t_timer_once").as[TransitionEvent].collect().toSeq
      } finally q.stop()
    }
    warnings.filter(_.contains("Failed to register timer")) shouldBe empty
    out.map(t => (t.streamName, t.atMs / 60000, t.to, t.reason))
      .sortBy(t => (t._1, t._2)) shouldBe Seq(
      ("a", 2L, "ALARM", "threshold"),    // minute-1 max 5.0; then silent
      ("b", 2L, "ALARM", "missing_data"), // minute 1 silent
      ("b", 3L, "OK", "none"),            // minute 2's late-batch row
      ("b", 4L, "ALARM", "missing_data")) // minutes 3.. silent
  }
}
