package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.HealthCheckFunctions._
import graft.model.{HealthCheckConfig, LatencyMode}

/** The consumer stage (SURVEY §2 S2/S3, P3-P12; reference
  * HealthCheckConsumerHandler.java:58-95): record batches -> keyed
  * whole-second latency metric points.
  *
  * The whole stage is a single codegen'd chain — Catalyst fuses
  * decode -> validate -> parse -> latency -> project into one pass over each
  * partition, the distributed equivalent of the reference's one `for` loop.
  *
  * In EventTime mode each payload is validated, decoded, JSON-parsed and
  * timestamp-parsed exactly ONCE, inside one generator
  * (`explode(array_compact(array(since)))`), which also drops the records
  * whose `since` is null (B4). A plain filter-then-project would not do:
  * Catalyst pushes the filter below the projection and re-inlines the
  * aliased `since` into the predicate, so the parse — the stage's dominant
  * per-record cost — ran twice and the UTF-8 check three times.
  * PlanAuditSpec pins one `get_json_object` and one UTF-8 check in the
  * batch and the streaming executed plan.
  */
object HealthCheckConsumer {

  /** Flatten the Kinesis event envelope (S3 shape, fixture
    * kinesis-event.json): explode records[], base64-decode payloads.
    * P3 — `explode` replaces the reference's per-record Java loop.
    */
  def fromEnvelope(envelopes: DataFrame): DataFrame =
    envelopes
      .select(explode(col("records")).as("r"))
      .select(
        col("r.kinesis.partitionKey").as("partitionKey"),
        col("r.kinesis.sequenceNumber").as("sequenceNumber"),
        unbase64(col("r.kinesis.data")).as("data"),
        col("r.kinesis.approximateArrivalTimestamp")
          .as("approximateArrivalTimestamp"),
        col("r.eventSourceARN").as("eventSourceARN"))

  /** Records -> metric points.
    *
    * Input columns: data (binary), approximateArrivalTimestamp (long epoch
    * seconds), eventSourceARN (string). `now` defaults to
    * `current_timestamp()` (fixed per micro-batch = per "invocation", SURVEY
    * §7.4-2); tests inject a deterministic clock column.
    *
    * B4 — records whose payload is not valid UTF-8 are dropped (the
    * reference's strict decoder throws, the batch yields no metric, and the
    * resulting gap IS the alarm signal). B1 — `firstRecordOnly` mirrors the
    * reference's early `return` after records[0]; default processes all.
    */
  def metrics(records: DataFrame, cfg: HealthCheckConfig = HealthCheckConfig(),
      now: Column = current_timestamp()): DataFrame = {
    val arrivalTs = fromEpochSeconds(col("approximateArrivalTimestamp"))
    val (base, since) = cfg.latencyMode match {
      case LatencyMode.ArrivalTime =>
        (records.filter(utf8IsValid(col("data"))), arrivalTs)
      case LatencyMode.EventTime =>
        // B4: a payload that is not valid UTF-8, or not the expected JSON,
        // has a null `since` (the reference throws on either -> the gap IS
        // the signal); exploding the null-compacted one-element array drops
        // it and evaluates the parse once (see the object's scaladoc)
        val parsed = parseIso(extractInstant(decodeUtf8Safe(col("data"))))
        (records.select(col("*"),
          explode(array_compact(array(parsed))).as("__since")),
          col("__since"))
    }
    val limited =
      if (!cfg.firstRecordOnly) base
      else if (records.isStreaming) {
        // B1 compatibility mode, streaming path: non-time window functions
        // are unsupported on streams, so the one-record-per-(stream, arrival
        // second) cut uses dropDuplicatesWithinWatermark keyed on
        // (ARN, arrival second) — state expires with the watermark instead
        // of growing forever. With the reference's deployed batchSize=1 the
        // early return is a per-batch no-op anyway (SURVEY B1). For EXACT
        // one-metric-per-micro-batch semantics use [[metricsFirstPerBatch]].
        base
          .withColumn("__arrival", arrivalTs)
          .withWatermark("__arrival", "2 minutes")
          .dropDuplicatesWithinWatermark(
            "eventSourceARN", "approximateArrivalTimestamp")
          .drop("__arrival")
      } else {
        // batch twin: deterministic earliest-(sequenceNumber) per
        // (stream, arrival second). Sequence numbers are decimal STRINGS of
        // varying length — numeric order = (length, lexicographic).
        val w = Window
          .partitionBy(col("eventSourceARN"), col("approximateArrivalTimestamp"))
          .orderBy(seqNumOrder: _*)
        base.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    limited.select(
      metricProjection(
        streamNameFromArn(col("eventSourceARN")),
        arrivalTs,
        latencySeconds(now, since),
        cfg.metricName): _*)
  }

  /** B1 EXACT mode — the reference's early `return` emits at most ONE metric
    * per INVOCATION per stream (Consumer.java:64-85), and the first record is
    * taken BEFORE decode validation (a poisoned first record means no metric
    * for the whole batch — the gap is the signal). A micro-batch is the
    * engine's invocation, so inside `foreachBatch` — where the batch is a
    * plain DataFrame keyed by its batch id — a window `row_number() === 1`
    * per ARN picks the earliest (arrival, sequenceNumber) record of the
    * whole batch exactly, where the streaming `metrics` path can only
    * approximate per-(ARN, arrival-second).
    *
    * Returns the configured writer; callers set checkpoint/trigger and
    * `start()`. `each` receives the (tiny, <= one row per stream) metric
    * DataFrame and the micro-batch id.
    */
  def metricsFirstPerBatch(records: DataFrame,
      cfg: HealthCheckConfig = HealthCheckConfig(firstRecordOnly = true),
      now: Column = current_timestamp())(
      each: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    records.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val w = Window.partitionBy(col("eventSourceARN"))
        .orderBy(col("approximateArrivalTimestamp") +: seqNumOrder: _*)
      val first = batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      each(metrics(first, cfg.copy(firstRecordOnly = false), now), batchId)
    }

  /** Numeric order for Kinesis sequence numbers — decimal strings of varying
    * length, so plain lexicographic order is wrong ("10" < "9"): compare by
    * (length, string), which is numeric order for non-negative decimals.
    */
  private def seqNumOrder: Seq[Column] =
    Seq(length(col("sequenceNumber")), col("sequenceNumber"))
}
