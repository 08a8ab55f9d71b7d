package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.model.{AlarmTransition, HealthCheckConfig}

/** Wires the metric stream into the stateful gap/alarm operator — the
  * engine's answer to the reference's metric -> 1-min-max -> alarm -> SNS
  * chain (SURVEY §3 E3, §7.2).
  *
  * The 1-minute MAX aggregation happens INSIDE [[AlarmStateProcessor]]
  * (the open periods' maxes ride in each stream's one state row) rather
  * than as a separate
  * `groupBy(window(...))`: one stateful operator instead of two chained
  * ones — fewer watermark interactions, one state store, one shuffle on
  * `streamName`, and the gap timers see every period directly.
  */
object AlarmPipeline {

  /** metric points (streamName, ts timestamp, value double) -> alarm
    * transitions. Event-time mode: evaluation (including missing-data
    * breaches) advances with the watermark, which makes it deterministic
    * under replay and in MemoryStream tests. `watermarkDelay` is the
    * lateness bound for metric points (SURVEY A1's 2-minute guidance).
    */
  def transitions(metrics: DataFrame, cfg: HealthCheckConfig = HealthCheckConfig(),
      watermarkDelay: String = "2 minutes",
      mode: graft.model.AlarmMode = graft.model.AlarmMode.Fixed)
      : Dataset[TransitionEvent] = {
    implicit val te = Encoders.product[TransitionEvent]
    implicit val me = Encoders.product[MetricInput]
    metrics
      .withWatermark("ts", watermarkDelay)
      .select(col("streamName"),
        (unix_millis(col("ts"))).as("tsMs"),
        col("value"))
      .as[MetricInput]
      .groupByKey(_.streamName)(Encoders.STRING)
      .transformWithState(new AlarmStateProcessor(cfg, mode),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Transition events with timestamp typed back for sinks/oracles (O3). */
  def transitionRows(transitions: Dataset[TransitionEvent]): Dataset[AlarmTransition] = {
    implicit val enc = Encoders.product[AlarmTransition]
    transitions.map(t => AlarmTransition(
      t.streamName, new java.sql.Timestamp(t.atMs), t.from, t.to, t.reason,
      t.observedValue))
  }

  /** Flap damping for the notification path: per stream, suppress any
    * transition within `quietMs` of the last DELIVERED one — a flapping
    * alarm (threshold hovering around the breach line) pages once per
    * quiet period instead of every minute, the standard alert-fatigue
    * control the reference's raw SNS action lacks. State per key is one
    * epoch long; rows process in event-time order within a batch.
    *
    * Runs in the ALERTING consumer of the transitions stream (its own
    * query over a transitions topic/sink), not chained after the alarm
    * operator — two stateful operators in one query is the shape
    * Structured Streaming restricts, and delivery policy belongs with
    * the deliverer anyway (retuning quietMs must not touch the alarm
    * checkpoint).
    */
  def throttleTransitions(transitions: Dataset[TransitionEvent],
      quietMs: Long = 600000L): Dataset[TransitionEvent] = {
    implicit val te = Encoders.product[TransitionEvent]
    implicit val ts = Encoders.product[ThrottleState]
    transitions
      .groupByKey(_.streamName)(Encoders.STRING)
      .flatMapGroupsWithState[ThrottleState, TransitionEvent](
        OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          var last = state.getOption.map(_.lastEmitMs).getOrElse(Long.MinValue)
          // secondary (from, to) sort: same-millisecond transitions get a
          // total per-batch order, so WHICH of two simultaneous
          // transitions survives the quiet window is run-stable
          val out = rows.toSeq.sortBy(t => (t.atMs, t.from, t.to)).filter { t =>
            val deliver = last == Long.MinValue || t.atMs >= last + quietMs
            if (deliver) last = t.atMs
            deliver
          }
          state.update(ThrottleState(last))
          out.iterator
      }
  }
}

/** Last delivered-notification time for one stream key. */
final case class ThrottleState(lastEmitMs: Long)
