package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.model.{AlarmStatus, BreachReason, HealthCheckConfig}
import graft.streaming.{AlarmPipeline, MetricInput, PeriodMax, TransitionEvent}

/** SURVEY §7.3 names state schema evolution as one of the hard parts of a
  * long-lived `transformWithState` operator: a production alarm job WILL
  * add a state field some day and must restore yesterday's checkpoint.
  * [[AlarmSnapshotV2]] is that day — [[graft.streaming.AlarmSnapshot]]
  * plus a nullable `flapCount` — and [[AlarmStateProcessorV2]] the
  * behavior-identical operator reading it. Under the Avro state encoding
  * (Spark's schema-evolution path for transformWithState; the default
  * unsaferow encoding cannot evolve), an old checkpoint restores into the
  * evolved class with the missing field defaulting to None.
  */
final case class AlarmSnapshotV2(
    status: String, nextMinuteMs: Long, history: Long, historyLen: Int,
    open: Seq[PeriodMax], flapCount: Option[Long])

/** [[graft.streaming.AlarmStateProcessor]] evolved: identical evaluation
  * semantics (the spec pins identical transitions), same one-row state
  * layout and state-variable name — only the snapshot class gained
  * `flapCount`, which counts OK<->ALARM flips (a plausible production
  * addition: flap suppression).
  */
class AlarmStateProcessorV2(cfg: HealthCheckConfig)
    extends StatefulProcessor[String, MetricInput, TransitionEvent] {

  private val periodMs: Long = cfg.periodMinutes * 60000L
  @transient private var alarm: ValueState[AlarmSnapshotV2] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    alarm = getHandle.getValueState[AlarmSnapshotV2](
      "alarm", Encoders.product[AlarmSnapshotV2], TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[MetricInput],
      timers: TimerValues): Iterator[TransitionEvent] = {
    val prev = alarm.get()
    val maxes = scala.collection.mutable.HashMap.empty[Long, Double]
    if (prev != null) prev.open.foreach(p => maxes.update(p.startMs, p.max))
    var minM = Long.MaxValue
    rows.foreach { r =>
      val m = Math.floorDiv(r.tsMs, periodMs) * periodMs
      if (m < minM) minM = m
      val cur = maxes.getOrElse(m, Double.NegativeInfinity)
      if (r.value > cur) maxes.update(m, r.value)
    }
    val snap =
      if (prev != null) prev
      else AlarmSnapshotV2(AlarmStatus.Ok, minM, 0L, 0, Nil, Some(0L))
    val open = maxes.iterator.collect {
      case (m, v) if m >= snap.nextMinuteMs => PeriodMax(m, v)
    }.toSeq.sortBy(_.startMs)
    if (prev == null) getHandle.registerTimer(snap.nextMinuteMs + periodMs)
    alarm.update(snap.copy(open = open))
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[TransitionEvent] = {
    var snap = alarm.get()
    var open = snap.open
    val out = Seq.newBuilder[TransitionEvent]
    val horizon =
      math.max(expired.getExpiryTimeInMs, timers.getCurrentWatermarkInMs)
    while (snap.nextMinuteMs + periodMs <= horizon) {
      val m = snap.nextMinuteMs
      val observed = open.headOption.filter(_.startMs == m).map(_.max)
      if (observed.isDefined) open = open.tail
      val breach = observed.forall(_ > cfg.thresholdSeconds)
      val reason = observed match {
        case None => BreachReason.MissingData
        case Some(v) if v > cfg.thresholdSeconds => BreachReason.Threshold
        case _ => BreachReason.None
      }
      val n = cfg.evaluationPeriods
      val history = ((snap.history << 1) | (if (breach) 1L else 0L)) &
        ((1L << n) - 1)
      val historyLen = math.min(snap.historyLen + 1, n)
      val breaches = java.lang.Long.bitCount(history)
      val newStatus =
        if (breaches >= math.min(cfg.datapointsToAlarm, historyLen))
          AlarmStatus.Alarm
        else AlarmStatus.Ok
      val flips =
        if (newStatus != snap.status) {
          out += TransitionEvent(key, m + periodMs, snap.status, newStatus,
            reason, observed)
          // a V1 checkpoint restores with flapCount = None: start counting
          Some(snap.flapCount.getOrElse(0L) + 1L)
        } else snap.flapCount
      snap = AlarmSnapshotV2(newStatus, m + periodMs, history, historyLen,
        open, flips)
    }
    alarm.update(snap)
    getHandle.registerTimer(snap.nextMinuteMs + periodMs)
    out.result().iterator
  }
}

class AlarmSchemaEvolutionSpec extends AnyFunSuite with Matchers
    with SparkTestBase {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(min * 60000L)

  /** The V2 wiring — [[AlarmPipeline.transitions]] with the evolved
    * processor, same watermark, same state-variable names.
    */
  private def transitionsV2(metrics: DataFrame,
      cfg: HealthCheckConfig): Dataset[TransitionEvent] = {
    implicit val te = Encoders.product[TransitionEvent]
    implicit val me = Encoders.product[MetricInput]
    metrics
      .withWatermark("ts", "2 minutes")
      .select(col("streamName"), unix_millis(col("ts")).as("tsMs"),
        col("value"))
      .as[MetricInput]
      .groupByKey(_.streamName)(Encoders.STRING)
      .transformWithState(new AlarmStateProcessorV2(cfg),
        TimeMode.EventTime(), OutputMode.Append())
  }

  test("an evolved state class (added nullable field) restores a V1 checkpoint; transitions identical") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = HealthCheckConfig()
    val encodingKey = "spark.sql.streaming.stateStore.encodingFormat"
    val saved = spark.conf.getOption(encodingKey)
    spark.conf.set(encodingKey, "avro")
    try {
      val root = java.nio.file.Files.createTempDirectory("evolve").toString
      val input = MemoryStream[(String, Timestamp, Double)]
      val metrics = input.toDF().toDF("streamName", "ts", "value")
      def start(ds: Dataset[TransitionEvent]) = ds
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/chk")
        .outputMode("append").start()

      // phase 1: the CURRENT operator writes the checkpoint (avro-encoded)
      val q1 = start(AlarmPipeline.transitions(metrics, cfg))
      input.addData(Seq(("s", ts(0), 0.5), ("s", ts(1), 5.0)))
      q1.processAllAvailable()
      input.addData(Seq(("s", ts(4), 0.2)))
      q1.processAllAvailable()
      q1.stop()

      // phase 2: restart THE SAME checkpoint with the evolved state class
      val q2 = start(transitionsV2(metrics, cfg))
      input.addData(Seq(("s", ts(8), 0.2)))
      q2.processAllAvailable()
      input.addData(Seq(("s", ts(9), 0.2)))
      q2.processAllAvailable()
      input.addData(Seq.empty)
      q2.processAllAvailable()
      try {
        val out = spark.read.parquet(s"$root/out").as[TransitionEvent]
          .collect().sortBy(_.atMs)
        // the exact sequence the UNevolved operator produces on this
        // script (RobustnessSpec's restart scenario): nothing lost,
        // nothing duplicated, nothing re-evaluated across the evolution
        out.map(t => (t.atMs / 60000, t.to, t.reason)).toSeq shouldBe Seq(
          (2L, "ALARM", "threshold"),
          (5L, "OK", "none"),
          (6L, "ALARM", "missing_data"))
      } finally q2.stop()
    } finally {
      saved match {
        case Some(v) => spark.conf.set(encodingKey, v)
        case None => spark.conf.unset(encodingKey)
      }
    }
  }
}
