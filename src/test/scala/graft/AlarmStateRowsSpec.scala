package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.model.HealthCheckConfig
import graft.streaming.{AlarmPipeline, TransitionEvent}

/** The alarm operator keeps ONE state row per stream: the open periods'
  * maxes ride in the stream's `AlarmSnapshot`, not in rows of their own.
  * The state store's own row count (`numRowsTotal`, the figure a
  * self-health check reads) must therefore equal the number of streams
  * after every batch — also while several periods per stream are open.
  */
class AlarmStateRowsSpec extends AnyFunSuite with Matchers
    with SparkTestBase {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(min * 60000L)

  test("one state row per stream across open periods; transitions unchanged") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val streams = (0 until 6).map(i => s"s$i")
    val input = MemoryStream[(String, Timestamp, Double)]
    val metrics = input.toDF().toDF("streamName", "ts", "value")
    val q = AlarmPipeline.transitions(metrics, HealthCheckConfig())
      .writeStream.format("memory").queryName("t_state_rows")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("chk-state-rows").toString)
      .outputMode("append").start()
    try {
      val rowCounts = Seq(
        // minutes 0..2 for every stream; s0 spikes in minute 1
        for (s <- streams; m <- 0 to 2)
          yield (s, ts(m), if (s == "s0" && m == 1) 5.0 else 0.2),
        // minutes 3..4: watermark 2:00 closes periods 0 and 1
        for (s <- streams; m <- 3 to 4) yield (s, ts(m), 0.2),
        // minutes 5..6, s5 silent from here: watermark 4:00 closes
        // periods 2 and 3
        for (s <- streams.init; m <- 5 to 6) yield (s, ts(m), 0.2),
        // minutes 7..8: watermark 6:00 closes periods 4 and 5
        for (s <- streams.init; m <- 7 to 8) yield (s, ts(m), 0.2)
      ).map { batch =>
        input.addData(batch)
        q.processAllAvailable()
        q.lastProgress.stateOperators.head.numRowsTotal
      }
      // each batch leaves up to three open periods per stream
      rowCounts shouldBe Seq.fill(4)(streams.size.toLong)
      spark.table("t_state_rows").as[TransitionEvent].collect()
        .map(t => (t.streamName, t.atMs / 60000, t.to, t.reason))
        .sortBy(t => (t._1, t._2)).toSeq shouldBe Seq(
          ("s0", 2L, "ALARM", "threshold"),     // minute-1 max 5.0
          ("s0", 3L, "OK", "none"),             // minute 2 back to 0.2
          ("s5", 6L, "ALARM", "missing_data"))  // minute 5 silent
    } finally q.stop()
  }
}
