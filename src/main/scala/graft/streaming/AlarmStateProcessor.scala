package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming._

import graft.model.{AlarmMode, AlarmStatus, BreachReason, HealthCheckConfig}

/** One metric point as seen by the alarm operator. */
final case class MetricInput(streamName: String, tsMs: Long, value: Double)

/** Per-key alarm state carried across micro-batches.
  *
  * @param status         current alarm status (OK / ALARM)
  * @param nextMinuteMs   start of the earliest period not yet evaluated
  * @param history        bitmask of the most recent evaluations (bit 0 =
  *                       latest; 1 = breaching)
  * @param historyLen     number of valid bits in `history` (saturates at N)
  */
final case class AlarmSnapshot(
    status: String, nextMinuteMs: Long, history: Long, historyLen: Int)

/** Trailing closed-period maxes for [[AlarmMode.Adaptive]] — its OWN
  * state variable (not a new AlarmSnapshot field), so existing Fixed-mode
  * checkpoints restore untouched and the adaptive baseline rides the
  * state store's additive schema evolution.
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
  *  - per-key 1-minute tumbling MAX held in MapState (A1);
  *  - every period evaluated exactly once, in order, when the event-time
  *    watermark passes its end — via timers, so a period with NO data still
  *    gets evaluated: missing data IS a breach
  *    (TreatMissingData.BREACHING, Stack.java:179) (O1);
  *  - M-of-N evaluation (datapointsToAlarm of evaluationPeriods,
  *    Stack.java:176,181) over a compact bitmask history (A2);
  *  - a [[TransitionEvent]] row emitted only on OK<->ALARM change (O2).
  *
  * Scale/design notes: state per key is one small case class + at most the
  * periods between watermark advances in the map — constant-ish width. Keys
  * (stream names) hash-partition across executors; timers are per-key and
  * fire on watermark advance, so evaluation is deterministic and
  * replay-safe (exactly-once on restart from the state store / RocksDB).
  * All emissions happen in timer callbacks, never on raw input, so late
  * data within the watermark still lands in the right period.
  */
class AlarmStateProcessor(cfg: HealthCheckConfig,
    mode: AlarmMode = AlarmMode.Fixed)
    extends StatefulProcessor[String, MetricInput, TransitionEvent] {

  private val periodMs: Long = cfg.periodMinutes * 60000L
  @transient private var alarm: ValueState[AlarmSnapshot] = _
  @transient private var minuteMax: MapState[Long, Double] = _
  @transient private var baseline: ValueState[BaselineState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    alarm = getHandle.getValueState[AlarmSnapshot](
      "alarm", Encoders.product[AlarmSnapshot], TTLConfig.NONE)
    minuteMax = getHandle.getMapState[Long, Double](
      "minuteMax", Encoders.scalaLong, Encoders.scalaDouble, TTLConfig.NONE)
    // registered only when the mode uses it — a Fixed-mode query keeps
    // its exact pre-adaptive state schema
    if (mode == AlarmMode.Adaptive)
      baseline = getHandle.getValueState[BaselineState](
        "baseline", Encoders.product[BaselineState], TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[MetricInput],
      timers: TimerValues): Iterator[TransitionEvent] = {
    val fresh = !alarm.exists()
    var snap =
      if (fresh) AlarmSnapshot(AlarmStatus.Ok, Long.MinValue, 0L, 0)
      else alarm.get()
    // Rows within a micro-batch arrive in ARBITRARY order (shuffled), so the
    // key's evaluation origin must be the batch MINIMUM — initializing from
    // the first row seen would silently drop every earlier minute in the
    // batch as "late". The batch folds to one max per period first, so the
    // state store sees one read/update per period, not per row; the buffer
    // is one key's slice of one micro-batch (bounded by the trigger
    // interval), not unbounded state.
    val batch = scala.collection.mutable.HashMap.empty[Long, Double]
    rows.foreach { r =>
      val m = Math.floorDiv(r.tsMs, periodMs) * periodMs
      // `>` as in the state update below (math.max would let a NaN win)
      val cur = batch.getOrElse(m, Double.NegativeInfinity)
      batch.update(m, if (r.value > cur) r.value else cur)
    }
    if (fresh && batch.nonEmpty)
      snap = snap.copy(nextMinuteMs = batch.keysIterator.min)
    batch.foreach { case (m, value) =>
      if (m >= snap.nextMinuteMs) { // on-time (late-beyond-evaluation dropped)
        val cur = if (minuteMax.containsKey(m)) minuteMax.getValue(m)
          else Double.NegativeInfinity
        if (value > cur) minuteMax.updateValue(m, value)
      }
    }
    // ONE timer per key, armed at its first period's end: every firing
    // evaluates all due periods and re-arms the next period end
    // ([[handleExpiredTimer]]), so the pending timer always covers a later
    // row's period.
    if (fresh) getHandle.registerTimer(snap.nextMinuteMs + periodMs)
    alarm.update(snap)
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[TransitionEvent] = {
    var snap = alarm.get()
    val out = Seq.newBuilder[TransitionEvent]
    // Evaluate every period whose end has passed, in order — periods with no
    // datapoint included (that's the whole point). Horizon = the watermark
    // when it is ahead of this timer's expiry: one firing catches up ALL due
    // periods (a long-silent key needs one timer, not a chain of per-minute
    // ones trickling across micro-batches).
    val horizon =
      math.max(expired.getExpiryTimeInMs, timers.getCurrentWatermarkInMs)
    while (snap.nextMinuteMs + periodMs <= horizon) {
      val m = snap.nextMinuteMs
      val observed =
        if (minuteMax.containsKey(m)) Some(minuteMax.getValue(m)) else None
      minuteMax.removeKey(m)
      // breach decision: Fixed compares against the configured threshold;
      // Adaptive scores against the trailing closed-period baseline via
      // the EXACT anomalyStream arithmetic (StreamingAnomaly.zOf), so the
      // adaptive alarm == anomalyStream-flags fed into this same M-of-N
      // machine (spec-proven on ordered replays). Missing data breaches
      // in both modes; warmup periods (baseline < Warmup) never breach
      // on value in adaptive mode.
      val (breach, reason) = mode match {
        case AlarmMode.Fixed => observed match {
          case None => (true, BreachReason.MissingData)
          case Some(v) if v > cfg.thresholdSeconds =>
            (true, BreachReason.Threshold)
          case _ => (false, BreachReason.None)
        }
        case AlarmMode.Adaptive =>
          val hist =
            if (baseline.exists()) baseline.get().history else Nil
          observed match {
            case None => (true, BreachReason.MissingData)
            case Some(v) =>
              StreamingAnomaly.zOf(hist, v) match {
                case Some((_, z)) if math.abs(z) > 3.0 =>
                  (true, BreachReason.Anomaly)
                case _ => (false, BreachReason.None)
              }
          }
      }
      // adaptive baseline advances on OBSERVED periods only (missing
      // periods never open a minute in anomalyStream either)
      if (mode == AlarmMode.Adaptive) observed.foreach { v =>
        val hist = if (baseline.exists()) baseline.get().history else Nil
        baseline.update(BaselineState(
          (hist :+ v).takeRight(StreamingAnomaly.BaselineLen)))
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
      snap = AlarmSnapshot(newStatus, m + periodMs, history, historyLen)
    }
    alarm.update(snap)
    // Re-arm for the next period end so a silent stream keeps evaluating
    // (gap alarm persists) as long as the global watermark advances.
    getHandle.registerTimer(snap.nextMinuteMs + periodMs)
    out.result().iterator
  }
}
