package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming._

import graft.model.{AlarmMode, AlarmStatus, BreachReason, HealthCheckConfig}

/** One metric point as seen by the alarm operator. */
final case class MetricInput(streamName: String, tsMs: Long, value: Double)

/** The running MAX of one period not yet evaluated. */
final case class PeriodMax(startMs: Long, max: Double)

/** Per-key alarm state carried across micro-batches — the key's ONE state
  * row.
  *
  * @param status         current alarm status (OK / ALARM)
  * @param nextMinuteMs   start of the earliest period not yet evaluated
  * @param history        bitmask of the most recent evaluations (bit 0 =
  *                       latest; 1 = breaching)
  * @param historyLen     number of valid bits in `history` (saturates at N)
  * @param open           running maxes of the periods at or after
  *                       `nextMinuteMs` that have data, ascending by start
  *                       (a Seq of structs: the Avro state encoding
  *                       rejects a map keyed by Long)
  */
final case class AlarmSnapshot(
    status: String, nextMinuteMs: Long, history: Long, historyLen: Int,
    open: Seq[PeriodMax])

/** Trailing closed-period maxes for [[AlarmMode.Adaptive]] — its OWN
  * state variable (not an AlarmSnapshot field), registered only in
  * Adaptive mode, so a Fixed-mode key keeps its one state row.
  */
final case class BaselineState(history: List[Double])

/** An alarm state change, emitted only on transition (reference alarm action
  * KinesisHealthCheckStack.java:183).
  */
final case class TransitionEvent(
    streamName: String, atMs: Long, from: String, to: String,
    reason: String, observedValue: Option[Double])

/** The streaming gap/alarm operator — SURVEY §2 O1+O2+A1/A2/P13, the one
  * genuinely custom piece of the engine (SURVEY §7.3). Reproduces the managed
  * CloudWatch evaluator the reference only declares
  * (KinesisHealthCheckStack.java:165-183):
  *
  *  - per-key 1-minute tumbling MAX held in the key's [[AlarmSnapshot]]
  *    (`open`, one running max per period with data) (A1);
  *  - every period evaluated exactly once, in order, when the event-time
  *    watermark passes its end — via timers, so a period with NO data still
  *    gets evaluated: missing data IS a breach
  *    (TreatMissingData.BREACHING, Stack.java:179) (O1);
  *  - M-of-N evaluation (datapointsToAlarm of evaluationPeriods,
  *    Stack.java:176,181) over a compact bitmask history (A2);
  *  - a [[TransitionEvent]] row emitted only on OK<->ALARM change (O2).
  *
  * Scale/design notes: state per key is ONE row — the snapshot with the
  * open periods' maxes folded in (at most the periods between watermark
  * advances: constant-ish width) — so an input callback is one state read
  * and one write, and a timer callback one read, one write and the re-arm.
  * Fixed mode keeps no other state variable; Adaptive adds `baseline`,
  * read and written at most once per firing. Keys (stream names)
  * hash-partition across executors; timers are per-key and fire on
  * watermark advance, so evaluation is deterministic and replay-safe
  * (exactly-once on restart from the state store / RocksDB). All emissions
  * happen in timer callbacks, never on raw input, so late data within the
  * watermark still lands in the right period.
  *
  * Checkpoint compatibility: alarm checkpoints written by the earlier
  * two-variable layout (`alarm` without `open`, plus a `minuteMax`
  * MapState) cannot be restored by this operator; such a query restarts
  * from a fresh checkpoint.
  */
class AlarmStateProcessor(cfg: HealthCheckConfig,
    mode: AlarmMode = AlarmMode.Fixed)
    extends StatefulProcessor[String, MetricInput, TransitionEvent] {

  private val periodMs: Long = cfg.periodMinutes * 60000L
  @transient private var alarm: ValueState[AlarmSnapshot] = _
  @transient private var baseline: ValueState[BaselineState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    alarm = getHandle.getValueState[AlarmSnapshot](
      "alarm", AlarmStateProcessor.snapshotEncoder, TTLConfig.NONE)
    // registered only when the mode uses it — a Fixed-mode query keeps
    // its exact pre-adaptive state schema
    if (mode == AlarmMode.Adaptive)
      baseline = getHandle.getValueState[BaselineState](
        "baseline", AlarmStateProcessor.baselineEncoder, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[MetricInput],
      timers: TimerValues): Iterator[TransitionEvent] = {
    val prev = alarm.get() // null: a key never seen
    // Rows within a micro-batch arrive in ARBITRARY order (shuffled), so a
    // fresh key's evaluation origin must be the batch MINIMUM — initializing
    // from the first row seen would silently drop every earlier minute in
    // the batch as "late". The stored open maxes seed the fold, so the
    // batch and the state merge in one pass; the buffer is one key's slice
    // of one micro-batch (bounded by the trigger interval).
    val maxes = scala.collection.mutable.HashMap.empty[Long, Double]
    if (prev != null) prev.open.foreach(p => maxes.update(p.startMs, p.max))
    var minM = Long.MaxValue
    rows.foreach { r =>
      val m = Math.floorDiv(r.tsMs, periodMs) * periodMs
      if (m < minM) minM = m
      // `>`, not math.max: a NaN never wins, so a NaN-only period stays
      // absent (missing data)
      val cur = maxes.getOrElse(m, Double.NegativeInfinity)
      if (r.value > cur) maxes.update(m, r.value)
    }
    val snap =
      if (prev != null) prev
      else AlarmSnapshot(AlarmStatus.Ok, minM, 0L, 0, Nil)
    // on-time periods only (late-beyond-evaluation dropped)
    val open = maxes.iterator.collect {
      case (m, v) if m >= snap.nextMinuteMs => PeriodMax(m, v)
    }.toSeq.sortBy(_.startMs)
    // ONE timer per key, armed at its first period's end: every firing
    // evaluates all due periods and re-arms the next period end
    // ([[handleExpiredTimer]]), so the pending timer always covers a later
    // row's period.
    if (prev == null) getHandle.registerTimer(snap.nextMinuteMs + periodMs)
    alarm.update(snap.copy(open = open))
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[TransitionEvent] = {
    var snap = alarm.get()
    var open = snap.open
    val out = Seq.newBuilder[TransitionEvent]
    // Adaptive: the baseline is read once here and written once below,
    // only when an observed period moved it
    val hist0 =
      if (mode == AlarmMode.Adaptive)
        Option(baseline.get()).fold(List.empty[Double])(_.history)
      else Nil
    var hist = hist0
    // Evaluate every period whose end has passed, in order — periods with no
    // datapoint included (that's the whole point). Horizon = the watermark
    // when it is ahead of this timer's expiry: one firing catches up ALL due
    // periods (a long-silent key needs one timer, not a chain of per-minute
    // ones trickling across micro-batches).
    val horizon =
      math.max(expired.getExpiryTimeInMs, timers.getCurrentWatermarkInMs)
    while (snap.nextMinuteMs + periodMs <= horizon) {
      val m = snap.nextMinuteMs
      // `open` is ascending and starts at or after m: the head is the
      // only candidate
      val observed = open.headOption.filter(_.startMs == m).map(_.max)
      if (observed.isDefined) open = open.tail
      // breach decision: Fixed compares against the configured threshold;
      // Adaptive scores against the trailing closed-period baseline via
      // the EXACT anomalyStream arithmetic (StreamingAnomaly.zOf), so the
      // adaptive alarm == anomalyStream-flags fed into this same M-of-N
      // machine (spec-proven on ordered replays). Missing data breaches
      // in both modes; warmup periods (baseline < Warmup) never breach
      // on value in adaptive mode.
      val (breach, reason) = observed match {
        case None => (true, BreachReason.MissingData)
        case Some(v) => mode match {
          case AlarmMode.Fixed =>
            if (v > cfg.thresholdSeconds) (true, BreachReason.Threshold)
            else (false, BreachReason.None)
          case AlarmMode.Adaptive =>
            // the baseline advances on OBSERVED periods only (missing
            // periods never open a minute in anomalyStream either)
            val scored = StreamingAnomaly.zOf(hist, v) match {
              case Some((_, z)) if math.abs(z) > 3.0 =>
                (true, BreachReason.Anomaly)
              case _ => (false, BreachReason.None)
            }
            hist = (hist :+ v).takeRight(StreamingAnomaly.BaselineLen)
            scored
        }
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
      if (newStatus != snap.status)
        out += TransitionEvent(key, m + periodMs, snap.status, newStatus,
          reason, observed)
      snap = AlarmSnapshot(newStatus, m + periodMs, history, historyLen, open)
    }
    alarm.update(snap)
    if (hist ne hist0) baseline.update(BaselineState(hist))
    // Re-arm for the next period end so a silent stream keeps evaluating
    // (gap alarm persists) as long as the global watermark advances.
    getHandle.registerTimer(snap.nextMinuteMs + periodMs)
    out.result().iterator
  }
}

object AlarmStateProcessor {
  // derived once per JVM: `init` runs per partition per micro-batch, and
  // reflective product-encoder derivation is a measurable share of a
  // canary step's CPU. Encoders are immutable; each state variable makes
  // its own serializer from them.
  private val snapshotEncoder: Encoder[AlarmSnapshot] =
    Encoders.product[AlarmSnapshot]
  private val baselineEncoder: Encoder[BaselineState] =
    Encoders.product[BaselineState]
}
