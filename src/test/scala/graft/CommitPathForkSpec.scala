package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.model.HealthCheckConfig
import graft.streaming.AlarmPipeline

/** The streaming commit path forks no process through Hadoop's `Shell`.
  * Without the session contract's local filesystem ([[ForkFreeLocalFs]]),
  * every checkpoint file Spark writes through `FileContext` forks a `chmod`
  * and every checkpoint rename four `readlink`s. The process starts are
  * taken from an in-process JFR recording (`jdk.ProcessStart` with stack
  * traces) around the micro-batches of a RocksDB-backed alarm query over a
  * local checkpoint.
  *
  * The recording starts after the first micro-batch: the first commit of a
  * fresh RocksDB store uploads a full snapshot through Hadoop's cached
  * `FileSystem` (not `FileContext`), which a session conf cannot reach, as
  * do the background snapshot uploads of the maintenance thread. Only
  * process starts that name this query's checkpoint count, so a stopped
  * query of another suite cannot fail this one.
  */
class CommitPathForkSpec extends AnyFunSuite with Matchers with SparkTestBase {
  import spark.implicits._

  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)

  test("an alarm query's micro-batch commits fork no Hadoop Shell process") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Shell's class initializer probes the OS (e.g. for `setsid`) once per
    // JVM; load it before recording so only commit-path forks count
    Class.forName("org.apache.hadoop.util.Shell")
    val chk = Files.createTempDirectory("chk-forks")
    val jfr = Files.createTempFile("forks", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val input = MemoryStream[(String, Timestamp, Double)]
    val q = AlarmPipeline.transitions(
        input.toDF().toDF("streamName", "ts", "value"), HealthCheckConfig())
      .writeStream.format("memory").queryName("t_commit_forks")
      .option("checkpointLocation", chk.toString)
      .outputMode("append").start()
    def batch(b: Int): Unit = {
      input.addData(for (s <- 0 until 4; m <- 2 * b to 2 * b + 1)
        yield (s"s$s", new Timestamp(m * 60000L), 0.5))
      q.processAllAvailable()
    }
    try {
      batch(0)
      rec.start()
      (1 to 3).foreach(batch)
      // the recording's own control: a process this thread starts
      new ProcessBuilder("true").start().waitFor()
    } finally {
      q.stop()
      rec.stop()
    }
    try {
      rec.dump(jfr)
      val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      val own = getClass.getName
      withClue("the recording saw no process start at all: ") {
        starts.exists(frames(_).exists(_.startsWith(own))) shouldBe true
      }
      // the recorded batches committed offsets, commits and state files
      q.lastProgress.batchId should be >= 3L
      val shell = starts.filter(e =>
        e.getString("command").contains(chk.getFileName.toString) &&
          frames(e).exists(_.startsWith("org.apache.hadoop.util.Shell")))
      withClue(shell.take(3).map(e => e.getString("command") + " <- " +
          frames(e).take(12).mkString(" <- ")).mkString("\n", "\n", "\n")) {
        shell.size shouldBe 0
      }
    } finally {
      rec.close()
      Files.deleteIfExists(jfr)
      org.apache.commons.io.FileUtils.deleteQuietly(chk.toFile)
    }
  }
}
