package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Base64

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.functions.HealthCheckFunctions.fromEpochSeconds
import graft.model.{HealthCheckConfig, LatencyMode}
import graft.streaming.{AlarmPipeline, HealthCheckConsumer, StreamSourceConfig, StreamSources}

/** One tracer record as the producer would have put it on the stream. */
final case class Tick(stream: Int, seq: Long, eventSec: Long, arrivalSec: Long,
    poisoned: Boolean)

/** The seeded canary input: `streams` monitored streams, one tracer record
  * per stream per event-minute, a few streams ticking every ten seconds,
  * and a fault schedule of silent spells, slow ticks and poisoned payloads.
  * Every draw is a pure function of (seed, stream, minute), so minute k is
  * generated on its own, and the faults recur at the same rates in every
  * minute of a run however long it lasts.
  */
final class CanaryGen(seed: Long, val streams: Int) {
  val baseSec: Long = 1767225600L // 2026-01-01T00:00:00Z
  val recordsPerEnvelope = 1000

  def fast(s: Int): Boolean = Rng.below(1000, seed, 1, s) < 50
  /** 2% of streams fall silent for 2-4 minutes out of every 10-19. */
  def silent(s: Int, k: Int): Boolean = Rng.below(1000, seed, 2, s) < 20 && {
    val period = 10 + Rng.below(10, seed, 3, s)
    val len = 2 + Rng.below(3, seed, 4, s)
    Math.floorMod(k + Rng.below(period, seed, 5, s), period) < len
  }

  def minute(k: Int): Array[Tick] = {
    val out = Array.newBuilder[Tick]
    var i = 0L
    var s = 0
    while (s < streams) {
      if (!silent(s, k)) {
        val ticks = if (fast(s)) 6 else 1
        val first = if (ticks == 6) Rng.below(5, seed, 6, s, k) else Rng.below(50, seed, 6, s, k)
        var j = 0
        while (j < ticks) {
          val ev = baseSec + k * 60L + first + 10 * j
          // 0.5% of ticks are slower than the 1 s threshold
          val lat = if (Rng.below(1000, seed, 7, s, k, j) < 5) 2 + Rng.below(4, seed, 8, s, k, j)
            else Rng.below(2, seed, 9, s, k, j)
          val poisoned = Rng.below(1000, seed, 10, s, k, j) < 3
          out += Tick(s, k * 10000000L + i, ev, ev + lat, poisoned)
          i += 1
          j += 1
        }
      }
      s += 1
    }
    out.result()
  }

  def streamName(s: Int): String = f"s$s%05d"

  private val poison = Base64.getEncoder.encodeToString(
    Array(0xC3, 0x28, 0xA0, 0xA1, 0x7B).map(_.toByte))

  /** Kinesis-shaped envelope files for one minute's ticks, written into `dir`. */
  def writeEnvelopes(ticks: Array[Tick], dir: Path): Int = {
    Files.createDirectories(dir)
    val enc = Base64.getEncoder
    ticks.grouped(recordsPerEnvelope).zipWithIndex.foreach { case (batch, n) =>
      val sb = new java.lang.StringBuilder(batch.length * 460)
      sb.append("{\"records\":[")
      batch.zipWithIndex.foreach { case (t, i) =>
        if (i > 0) sb.append(',')
        val data =
          if (t.poisoned) poison
          else enc.encodeToString(
            s"""{"currentInstant":"${java.time.Instant.ofEpochSecond(t.eventSec)}"}""".getBytes(UTF_8))
        sb.append("{\"kinesis\":{\"kinesisSchemaVersion\":\"1.0\",\"partitionKey\":\"pk-")
          .append(t.stream).append("\",\"sequenceNumber\":\"").append(t.seq)
          .append("\",\"data\":\"").append(data)
          .append("\",\"approximateArrivalTimestamp\":").append(t.arrivalSec)
          .append("},\"eventSource\":\"aws:kinesis\",\"eventVersion\":\"1.0\",\"eventID\":\"shardId-000000000000:")
          .append(t.seq).append("\",\"eventName\":\"aws:kinesis:record\",")
          .append("\"invokeIdentityArn\":\"arn:aws:iam::123456789012:role/health-check\",")
          .append("\"awsRegion\":\"eu-west-1\",\"eventSourceARN\":\"arn:aws:kinesis:eu-west-1:123456789012:stream/")
          .append(streamName(t.stream)).append("\"}")
      }
      sb.append("]}")
      Files.writeString(dir.resolve(f"part-$n%04d.json"), sb.toString)
    }
    (ticks.length + recordsPerEnvelope - 1) / recordsPerEnvelope
  }
}

/** A transition as the sink and the model both state it. */
final case class Transition(stream: String, atMs: Long, from: String, to: String,
    reason: String, observed: Option[Double])

/** The reference alarm in plain Scala, independent of the program: per
  * stream, the 1-minute max of whole-second latencies against the 1 s
  * threshold, a minute without a valid record breaching, 1-of-1
  * evaluation, and a transition only when the status changes. A stream's
  * first evaluated minute is the first one with a valid record.
  */
final class CanaryModel(gen: CanaryGen) {
  private val maxByMinute = mutable.ArrayBuffer[Array[Double]]()
  private var maxArrivalSec = Long.MinValue

  def offer(ticks: Array[Tick]): Unit = {
    val m = Array.fill(gen.streams)(Double.NaN)
    ticks.foreach { t =>
      if (!t.poisoned) {
        val lat = (t.arrivalSec - t.eventSec).toDouble
        if (m(t.stream).isNaN || lat > m(t.stream)) m(t.stream) = lat
        maxArrivalSec = math.max(maxArrivalSec, t.arrivalSec)
      }
    }
    maxByMinute += m
  }

  /** The event-time watermark after the minutes offered so far. */
  def watermarkMs: Long = maxArrivalSec * 1000L - 120000L

  /** Every transition whose period ended at or before `wmMs`. */
  def transitions(wmMs: Long): Seq[Transition] = {
    val out = Seq.newBuilder[Transition]
    val evaluated = math.min(maxByMinute.length.toLong,
      Math.floorDiv(wmMs - gen.baseSec * 1000L, 60000L)).toInt
    var s = 0
    while (s < gen.streams) {
      var status = "OK"
      var k = maxByMinute.indexWhere(m => !m(s).isNaN)
      if (k >= 0) while (k < evaluated) {
        val v = maxByMinute(k)(s)
        val (breach, reason) =
          if (v.isNaN) (true, "missing_data")
          else if (v > 1.0) (true, "threshold")
          else (false, "none")
        val next = if (breach) "ALARM" else "OK"
        if (next != status)
          out += Transition(gen.streamName(s), (gen.baseSec + (k + 1) * 60L) * 1000L,
            status, next, reason, if (v.isNaN) None else Some(v))
        status = next
        k += 1
      }
      s += 1
    }
    out.result()
  }
}

object CanaryModel {
  /** Per step, whether the sink's transitions for the periods the step
    * closed — those ending after the previous step's watermark and at or
    * before its own — equal the model's, row for row. */
  def check(sink: Seq[Transition], expected: Seq[Transition], wms: Seq[Long]): Seq[Boolean] = {
    def window(ts: Seq[Transition], lo: Long, hi: Long) =
      ts.filter(t => t.atMs > lo && t.atMs <= hi).groupBy(identity).view.mapValues(_.size).toMap
    (Long.MinValue +: wms).sliding(2).map(w => window(sink, w(0), w(1)) == window(expected, w(0), w(1))).toSeq
  }
}

/** `canary_catchup`: the paper's pipeline replaying a backlog in a closed
  * loop — each event-minute is offered only after every micro-batch the
  * previous one caused has committed. The op is one event-minute step.
  */
object Canary {
  val Streams = 10000
  val WarmupMinutes = 5

  /** The per-layer metrics of a traced run, with their units. */
  val Layer: Seq[(String, String)] = Seq(
    "streaming.micro_batches_per_minute" -> "count",
    "streaming.data_batch_ms" -> "ms",
    "streaming.timer_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.source_offsets_ms" -> "ms",
    "streaming.state_update_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.timer_processing_ms" -> "ms",
    "streaming.rocksdb_gets_per_record" -> "count",
    "streaming.rocksdb_puts_per_record" -> "count",
    "streaming.checkpoint_files_per_minute" -> "count",
    "streaming.state_bytes_copied_per_minute" -> "bytes",
    "streaming.state_rows" -> "count",
    "streaming.state_memory_bytes" -> "bytes",
    "streaming.jobs_per_minute" -> "count",
    "streaming.tasks_per_minute" -> "count",
    "streaming.consumer_ms_per_minute" -> "ms",
    "sources.envelope_parse_ms_per_minute" -> "ms")

  def run(spark: SparkSession, cfg: RunCfg, tracer: Tracer,
      probe: Option[Probe]): Outcome = {
    val gen = new CanaryGen(cfg.seed, Streams)
    val model = new CanaryModel(gen)
    val src = cfg.work.resolve("canary-src")
    val staging = cfg.work.resolve("canary-staging")
    val chk = cfg.work.resolve("canary-chk")
    Files.createDirectories(src)
    Files.createDirectories(staging)

    val hc = HealthCheckConfig(latencyMode = LatencyMode.EventTime)
    val records = tracer.span("sources.recordStream") {
      StreamSources.recordStream(spark,
        StreamSourceConfig(path = Some(src.toString + "/*")))
    }
    val metrics = tracer.span("streaming.consumer") {
      HealthCheckConsumer.metrics(records, hc,
        now = fromEpochSeconds(col("approximateArrivalTimestamp")))
    }
    val transitions = tracer.span("streaming.alarm") { AlarmPipeline.transitions(metrics, hc) }
    val q = transitions.writeStream.format("memory").queryName("canary_out")
      .outputMode("append").option("checkpointLocation", chk.toString).start()

    // input rows (envelope files) per batch id, from the query's own
    // progress: the loop below waits until every offered file committed
    val inputRows = mutable.Map[Long, Long]()
    def committed(): Long = {
      q.recentProgress.foreach(p => inputRows(p.batchId) = math.max(inputRows.getOrElse(p.batchId, 0L), p.numInputRows))
      inputRows.values.sum
    }

    var offered = 0L
    val wms = mutable.ArrayBuffer[Long]()
    final case class Step(ms: Double, cpuMs: Double, records: Int, counters: Option[(Map[String, Long], Map[String, Long])],
        batchIds: Seq[Long], newFiles: Long)
    val steps = mutable.ArrayBuffer[Step]()
    var seenFiles = Set.empty[String]
    def newCheckpointFiles(): Long = {
      val all = Files.walk(chk).iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
      val n = (all -- seenFiles).size
      seenFiles = all
      n.toLong
    }

    def step(k: Int, timed: Boolean): Unit = {
      val ticks = gen.minute(k)
      model.offer(ticks)
      val dir = staging.resolve(f"m$k%06d")
      val files = gen.writeEnvelopes(ticks, dir)
      val before = probe.map(_.snapshot())
      val batchesBefore = inputRows.keySet.toSet
      tracer.setOp(k)
      val cpu0 = Proc.cpuMs
      val t0 = System.nanoTime()
      tracer.span("streaming.step") {
        Files.move(dir, src.resolve(dir.getFileName))
        offered += files
        do q.processAllAvailable() while (committed() < offered && q.isActive)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpu = Proc.cpuMs - cpu0
      if (q.exception.isDefined) throw q.exception.get
      wms += model.watermarkMs
      val counters = probe.map(p => (before.get, p.snapshot()))
      val nf = if (probe.isDefined) newCheckpointFiles() else 0L
      if (timed) steps += Step(ms, cpu, ticks.length, counters,
        (inputRows.keySet -- batchesBefore).toSeq.sorted, nf)
    }

    (0 until WarmupMinutes).foreach(k => step(k, timed = false))
    // after a fixed amount of work, so that it does not follow the run's speed
    val liveMb = Proc.liveMb
    val k = WarmupMinutes + Loop.rounds(cfg.seconds)(r => step(WarmupMinutes + r, timed = true))
    q.stop()

    // -- output check: the sink against the model, period by period; the
    // transitions of the periods a step closed belong to that step
    val sink = spark.table("canary_out").collect().map { r =>
      Transition(r.getAs[String]("streamName"), r.getAs[Long]("atMs"), r.getAs[String]("from"),
        r.getAs[String]("to"), r.getAs[String]("reason"),
        Option(r.get(r.fieldIndex("observedValue"))).map(_.asInstanceOf[Double]))
    }.toSeq
    val expected = model.transitions(wms.last)
    val okPerStep = CanaryModel.check(sink, expected, wms.toSeq)
    val warmOk = okPerStep.take(WarmupMinutes).forall(identity) && !sink.exists(_.atMs > wms.last)
    val timedOk = okPerStep.drop(WarmupMinutes)
    val failed = timedOk.count(!_)

    val e2e = new Metrics
    val totalMs = steps.map(_.ms).sum
    e2e.put("throughput_per_s", steps.map(_.records).sum / (totalMs / 1000.0), "1/s")
    e2e.put("latency_p50_ms", Stats.median(steps.map(_.ms).toSeq), "ms")
    e2e.put("latency_tail_ms", Stats.tail(steps.map(_.ms).toSeq), "ms")
    e2e.put("cpu_ms_per_op", Stats.median(steps.map(_.cpuMs).toSeq), "ms")
    e2e.put("live_heap_mb", liveMb, "MB")

    val layer = new Metrics
    probe.foreach { p =>
      p.drain()
      val byId = p.progress.synchronized(p.progress.toList).groupBy(_.batchId).view.mapValues(_.maxBy(_.numInputRows)).toMap
      val batches = steps.flatMap(_.batchIds).flatMap(byId.get)
      val n = steps.length.toDouble
      def dur(p: StreamingQueryProgress, key: String): Double =
        Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)
      def perMinute(f: StreamingQueryProgress => Double) = batches.map(f).sum / n
      def custom(p: StreamingQueryProgress, key: String): Double =
        p.stateOperators.map(o => Option(o.customMetrics.get(key)).map(_.toDouble).getOrElse(0.0)).sum
      val recs = steps.map(_.records).sum.toDouble
      val (data, timer) = batches.partition(_.numInputRows > 0)
      layer.put("streaming.micro_batches_per_minute", batches.size / n, "count")
      layer.put("streaming.data_batch_ms", Stats.median(data.map(dur(_, "triggerExecution")).toSeq), "ms")
      layer.put("streaming.timer_batch_ms",
        if (timer.isEmpty) 0.0 else Stats.median(timer.map(dur(_, "triggerExecution")).toSeq), "ms")
      layer.put("streaming.query_planning_ms", perMinute(dur(_, "queryPlanning")), "ms")
      layer.put("streaming.wal_commit_ms", perMinute(dur(_, "walCommit")), "ms")
      layer.put("streaming.commit_offsets_ms", perMinute(dur(_, "commitOffsets")), "ms")
      layer.put("streaming.source_offsets_ms", perMinute(b => dur(b, "latestOffset") + dur(b, "getBatch")), "ms")
      layer.put("streaming.state_update_ms", perMinute(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble), "ms")
      layer.put("streaming.state_commit_ms", perMinute(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
      layer.put("streaming.timer_processing_ms", perMinute(custom(_, "timerProcessingTimeMs")), "ms")
      layer.put("streaming.rocksdb_gets_per_record", batches.map(custom(_, "rocksdbGetCount")).sum / recs, "count")
      layer.put("streaming.rocksdb_puts_per_record", batches.map(custom(_, "rocksdbPutCount")).sum / recs, "count")
      layer.put("streaming.checkpoint_files_per_minute", steps.map(_.newFiles).sum / n, "count")
      layer.put("streaming.state_bytes_copied_per_minute", perMinute(custom(_, "rocksdbBytesCopied")), "bytes")
      val last = batches.last
      layer.put("streaming.state_rows", last.stateOperators.map(_.numRowsTotal).sum.toDouble, "count")
      layer.put("streaming.state_memory_bytes", last.stateOperators.map(_.memoryUsedBytes).sum.toDouble, "bytes")
      val c = Probe.total(steps.flatMap(_.counters).toSeq)
      layer.put("streaming.jobs_per_minute", c("jobs") / n, "count")
      layer.put("streaming.tasks_per_minute", c("tasks") / n, "count")

      // the consumer and the envelope parse, each as a batch over one
      // minute's files (the last three timed minutes)
      val sample = (k - 3 until k).map(m => src.resolve(f"m$m%06d").toString)
      def timeBatch(name: String)(df: String => org.apache.spark.sql.DataFrame): Double =
        Stats.median(sample.map { dir =>
          val t0 = System.nanoTime()
          tracer.span(name)(df(dir).write.format("noop").mode("overwrite").save())
          (System.nanoTime() - t0) / 1e6
        })
      def envelopes(dir: String) = spark.read.schema(graft.model.Schemas.kinesisEnvelope)
        .option("multiLine", value = true).json(dir)
      layer.put("sources.envelope_parse_ms_per_minute",
        timeBatch("sources.fromEnvelope")(d => HealthCheckConsumer.fromEnvelope(envelopes(d))), "ms")
      layer.put("streaming.consumer_ms_per_minute",
        timeBatch("streaming.consumer.batch")(d => HealthCheckConsumer.metrics(
          HealthCheckConsumer.fromEnvelope(envelopes(d)), hc,
          now = fromEpochSeconds(col("approximateArrivalTimestamp")))), "ms")
    }
    Outcome(steps.length, failed, warmOk, e2e, layer,
      Seq(s"minutes=${steps.length}", s"step_ms=${steps.map(_.ms.round).mkString(",")}", s"records=${steps.map(_.records).sum}",
        s"transitions=${sink.size}", s"expected=${expected.size}"))
  }
}
