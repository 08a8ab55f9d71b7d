package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HealthCheckFunctions._
import graft.model.HealthCheckConfig
import graft.sources.Tables

/** Batch twins of the health-check pipeline operators (SURVEY.md §2) over the
  * driver's `events` table, used by the DuckDB-oracle correctness gate.
  *
  * Each method is the Spark side of a [[graft.QuerySpec]] in `SparkEntry.specs`,
  * which also holds the matching oracle SQL. All queries end in a
  * deterministic total ORDER BY so row order matches the oracle exactly.
  *
  * Scale notes: every query here is a scan -> projection/agg pipeline whose
  * shuffle keys are the grouping keys; nothing collects to the driver. The
  * global-"now" queries broadcast a 1-row aggregate rather than windowing over
  * an empty partition (which would serialize the table through one task).
  */
object HealthCheckBatch {

  /** Deterministic "now" for batch latency math: max event ts, broadcast. */
  private def withNow(events: DataFrame): DataFrame =
    events.crossJoin(broadcast(events.agg(max("ts").as("now_ts"))))

  /** Evaluation-period start for a timestamp: floor to `periodMinutes`
    * boundaries (Stack.java:170 `period(1 min)`; == date_trunc("minute", ts)
    * when periodMinutes=1, but honors HealthCheckConfig.periodMinutes
    * generally). Pure codegen'd integer arithmetic.
    */
  def periodStart(ts: org.apache.spark.sql.Column, periodMinutes: Int)
      : org.apache.spark.sql.Column = {
    val secs = periodMinutes * 60L
    timestamp_seconds((unix_timestamp(ts) / secs).cast(LongType) * secs)
  }

  /** P1+P2+P6 — tracer construction: ISO-8601 UTC second-truncated string and
    * the exact producer JSON payload (Producer.java:49-54).
    */
  def tracerEncode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        isoUtc(col("ts")).as("current_instant"),
        tracerJson(col("ts")).as("tracer_json"))
      .orderBy("event_id")

  /** P4+P5 — binary->UTF-8 decode round-trip and JSON field extraction
    * (Consumer.java:65-68). `props` plays the payload; `$.k` the pointer read.
    */
  def decodeExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        decodeUtf8(encode(col("props"), "UTF-8")).as("decoded"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .orderBy("event_id")

  /** P9 — ARN parsing: build a Kinesis ARN from the event type, then recover
    * the stream name exactly as Consumer.java:97-99 does.
    */
  def arnParse(spark: SparkSession, sfDir: String): DataFrame = {
    val arn = concat(
      lit("arn:aws:kinesis:us-east-1:123456789012:stream/"), col("event_type"))
    Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        arn.as("arn"),
        streamNameFromArn(arn).as("stream_name"))
      .orderBy("event_id")
  }

  /** P7+P8+B3 — whole-second latency, arrival-time mode (Consumer.java:67,71):
    * now - ts where now is the table-max timestamp.
    */
  def latencyArrival(spark: SparkSession, sfDir: String): DataFrame =
    withNow(Tables.events(spark, sfDir))
      .select(
        col("event_id"),
        isoUtc(col("ts")).as("iso_ts"),
        latencySeconds(col("now_ts"), col("ts")).as("latency_s"))
      .orderBy("event_id")

  /** B2 event-time mode — full producer->consumer chain: ts -> tracer JSON ->
    * extract `/currentInstant` -> parse -> whole-second latency
    * (P2 -> P5 -> P7 -> P8; the commented Consumer.java:68 variant).
    */
  def latencyEventTime(spark: SparkSession, sfDir: String): DataFrame =
    withNow(Tables.events(spark, sfDir))
      // materialize the parse chain ONCE — referencing it from both output
      // columns in a single select would inline the full
      // to_json/get_json_object/to_timestamp chain per reference (Catalyst
      // re-inlines aliases; runtime subexpression elimination is best-effort,
      // not a plan guarantee)
      .withColumn("event_ts", parseIso(extractInstant(tracerJson(col("ts")))))
      .select(
        col("event_id"),
        col("event_ts"),
        latencySeconds(col("now_ts"), col("event_ts")).as("latency_s"))
      .orderBy("event_id")

  /** P10+P11 — the consumer's metric-datum projection (Consumer.java:72-79). */
  def metricProjectionQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(metricProjection(col("event_type"), col("ts"), col("value")): _*)
      .orderBy("streamName", "ts", "value")

  /** P13 — threshold predicate (GREATER_THAN_THRESHOLD, Stack.java:175-177).
    * The config default is the reference's threshold=1; the query entry
    * passes the synthetic-data override (100.0) explicitly.
    */
  def thresholdFilter(spark: SparkSession, sfDir: String,
      cfg: HealthCheckConfig = HealthCheckConfig()): DataFrame =
    Tables.events(spark, sfDir)
      .filter(breachesThreshold(col("value"), cfg.thresholdSeconds))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  /** P12+B1 — first-record-per-batch short-circuit: one row per
    * (key, minute) micro-batch, earliest (ts, event_id).
    */
  def firstRecord(spark: SparkSession, sfDir: String): DataFrame = {
    val minuteCol = date_trunc("minute", col("ts"))
    val w = Window.partitionBy(col("event_type"), minuteCol)
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("event_type"),
        minuteCol.as("window_start"), col("value"))
      .orderBy("event_type", "window_start")
  }

  /** A1 — keyed 1-minute tumbling-window MAX aggregation
    * (Stack.java:165-171). The shuffle key is (window, key) — exactly the
    * partitioning a 1000-executor run needs; map-side partial max applies.
    */
  def windowMax(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(max("value").as("max_value"), count(lit(1)).as("n"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("max_value"),
        col("n"))
      .orderBy("window_start", "event_type")

  /** O1 batch twin — missing-data (gap) detection: minutes in each key's
    * [min,max] span with no datapoint (TreatMissingData.BREACHING,
    * Stack.java:179). `sequence`+`explode` generates the expected tick grid
    * distributed per key; the anti-join finds the gaps.
    */
  /** Expected-tick grid for a keyed event table: every period boundary in
    * each key's [min, max] span, DAY-CHUNKED so no single task materializes
    * a key's whole range. A naive one-`sequence`-per-key explode builds a
    * multi-year key's grid (~525k rows/year) inside one task; here the span
    * first explodes into ~day-sized chunk starts (tiny: span/1440 rows per
    * key), those chunk rows are hash-distributed, and only then does each
    * task expand its chunks into at most a day of periods. The extra
    * exchange moves #chunk rows — negligible — and the grid generation
    * itself scales with the cluster (spec: a 3-year key spans many tasks).
    * All arithmetic is epoch-aligned period math, so the chunk union is
    * exactly the original `sequence(mn, mx, period)` point set for any
    * periodMinutes.
    */
  private[graft] def tickGrid(events: DataFrame, cfg: HealthCheckConfig)
      : DataFrame = {
    val period = expr(s"interval ${cfg.periodMinutes} minute")
    val chunkPeriods = math.max(1440 / cfg.periodMinutes, 1)
    val chunkStep = expr(s"interval ${chunkPeriods * cfg.periodMinutes} minute")
    events
      .groupBy(col("event_type"))
      .agg(
        periodStart(min(col("ts")), cfg.periodMinutes).as("mn"),
        periodStart(max(col("ts")), cfg.periodMinutes).as("mx"))
      .select(col("event_type"), col("mx"),
        explode(sequence(col("mn"), col("mx"), chunkStep)).as("chunk_start"))
      // explicit partition count: AQE would coalesce this byte-tiny chunk
      // shuffle into one partition (it sizes by bytes, blind to the 1440x
      // explode each row is about to do); a user-specified count is exempt
      // from coalescing
      .repartition(events.sparkSession.sparkContext.defaultParallelism,
        col("event_type"), col("chunk_start"))
      .select(col("event_type"),
        explode(sequence(
          col("chunk_start"),
          least(col("mx"), col("chunk_start") +
            expr(s"interval ${(chunkPeriods - 1) * cfg.periodMinutes} minute")),
          period)).as("minute"))
  }

  def gapDetect(spark: SparkSession, sfDir: String,
      cfg: HealthCheckConfig = HealthCheckConfig()): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val grid = tickGrid(events, cfg)
    val present = events
      .select(col("event_type"),
        periodStart(col("ts"), cfg.periodMinutes).as("minute"))
      .distinct()
    grid.join(present, Seq("event_type", "minute"), "left_anti")
      .orderBy("event_type", "minute")
  }

  /** O2+A2 batch twin — alarm state machine over the full evaluation grid:
    * per key per period, breach iff the window max exceeds the threshold OR
    * the window is empty (missing data = BREACHING, Stack.java:179); alarm
    * status = ALARM iff >= datapointsToAlarm of the last evaluationPeriods
    * evaluations breached (Stack.java:176,181 — M of N; partial history at
    * the start of a key requires only the evaluations that exist). Emits
    * only transition rows. Defaults (1 of 1) degenerate to "state follows
    * the current evaluation" — the reference's deployed configuration.
    *
    * Mirrors [[graft.streaming.AlarmStateProcessor]] exactly; this replay is
    * what the DuckDB oracle can check.
    */
  def alarmTransitions(spark: SparkSession, sfDir: String,
      cfg: HealthCheckConfig = HealthCheckConfig()): DataFrame = {
    val threshold = cfg.thresholdSeconds
    val events = Tables.events(spark, sfDir)
    val grid = tickGrid(events, cfg)
    val perMinute = events
      .groupBy(col("event_type"),
        periodStart(col("ts"), cfg.periodMinutes).as("minute"))
      .agg(max("value").as("max_value"))
    val breached = grid.join(perMinute, Seq("event_type", "minute"), "left")
      .select(
        col("event_type"), col("minute"), col("max_value"),
        (col("max_value").isNull || col("max_value") > threshold)
          .cast(IntegerType).as("breach"),
        when(col("max_value").isNull, lit("missing_data"))
          .when(col("max_value") > threshold, lit("threshold"))
          .otherwise(lit("none")).as("reason"))
    // M-of-N over the trailing evaluation window (fewer at key start)
    val mofn = Window.partitionBy("event_type").orderBy("minute")
      .rowsBetween(-(cfg.evaluationPeriods - 1), Window.currentRow)
    val evaluated = breached
      .withColumn("state",
        when(sum("breach").over(mofn) >=
          least(lit(cfg.datapointsToAlarm), count(lit(1)).over(mofn)),
          lit("ALARM")).otherwise(lit("OK")))
    val w = Window.partitionBy("event_type").orderBy("minute")
    evaluated
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("state"))
      .select(col("event_type"), col("minute"), col("state"), col("reason"),
        col("max_value"))
      .orderBy("event_type", "minute")
  }

  /** O2 batch twin for [[graft.model.AlarmMode.Adaptive]] — the alarm
    * state machine with the rolling-baseline z-score breach instead of
    * the fixed threshold, replaying exactly what
    * [[graft.streaming.AlarmStateProcessor]] computes in Adaptive mode
    * (AdaptiveAlarmSpec pins the equivalence on an ordered replay):
    *
    *  - the baseline for an observed period is the trailing <= 30 CLOSED
    *    OBSERVED period maxes (missing periods never advance the
    *    baseline, mirroring the stream where only observed periods touch
    *    BaselineState) — so the rolling window runs over the per-minute
    *    max frame BEFORE the grid join, `rowsBetween(-30, -1)`;
    *  - the z arithmetic is [[DataQuality.metricAnomalyFrom]]'s /
    *    StreamingAnomaly.zOf's shared tree: per-value DECIMAL(18,6)
    *    quantization, exact window sums, then the identical
    *    double-precision mean/variance/z — warmup (baseline < 10) never
    *    breaches on value;
    *  - missing data still breaches (TreatMissingData.BREACHING parity);
    *  - the SAME M-of-N machine and transition filter as
    *    [[alarmTransitions]].
    *
    * Scale shape: one per-key calendar-sized window pass over the minute
    * maxes (the metric_anomaly frame), the grid left join, and two keyed
    * window passes — all partitioned by event_type; nothing collects.
    */
  def alarmTransitionsAdaptive(spark: SparkSession, sfDir: String,
      cfg: HealthCheckConfig = HealthCheckConfig()): DataFrame =
    alarmTransitionsAdaptiveFrom(Tables.events(spark, sfDir), cfg)

  /** [[alarmTransitionsAdaptive]] over any frame with the events schema
    * (event_type, ts, value) — the AdaptiveAlarmSpec replay surface.
    */
  def alarmTransitionsAdaptiveFrom(events: DataFrame,
      cfg: HealthCheckConfig = HealthCheckConfig()): DataFrame = {
    val grid = tickGrid(events, cfg)
    val dec = DecimalType(18, 6)
    val perMinute = events
      .groupBy(col("event_type"),
        periodStart(col("ts"), cfg.periodMinutes).as("minute"))
      .agg(max("value").as("max_value"))
    val wBase = Window.partitionBy("event_type").orderBy("minute")
      .rowsBetween(-30, -1)
    val mxDec = col("max_value").cast(dec)
    // raw z per OBSERVED period (null until the 10-period warmup)
    val scored = perMinute
      .withColumn("s1", sum(mxDec).over(wBase))
      .withColumn("s2", sum(mxDec * mxDec).over(wBase))
      .withColumn("n", count(lit(1)).over(wBase))
      .withColumn("mean",
        when(col("n") >= 10, col("s1").cast(DoubleType) / col("n")))
      .withColumn("variance",
        when(col("n") >= 10,
          greatest((col("s2").cast(DoubleType) -
            col("s1").cast(DoubleType) * col("s1").cast(DoubleType) /
              col("n")) / (col("n") - 1), lit(0.0))))
      .withColumn("z",
        when(col("n") >= 10,
          when(sqrt(col("variance")) > 0.0,
            (col("max_value") - col("mean")) / sqrt(col("variance")))
            .otherwise(lit(0.0))))
      .select(col("event_type"), col("minute"), col("max_value"), col("z"))
    val breached = grid.join(scored, Seq("event_type", "minute"), "left")
      .select(
        col("event_type"), col("minute"), col("max_value"),
        // chained when (not a boolean OR): a warmup period has z = null
        // and must contribute breach = 0, not null, to the M-of-N sum
        when(col("max_value").isNull, lit(1))
          .when(abs(col("z")) > 3.0, lit(1))
          .otherwise(lit(0)).as("breach"),
        when(col("max_value").isNull, lit("missing_data"))
          .when(abs(col("z")) > 3.0, lit("anomaly"))
          .otherwise(lit("none")).as("reason"))
    val mofn = Window.partitionBy("event_type").orderBy("minute")
      .rowsBetween(-(cfg.evaluationPeriods - 1), Window.currentRow)
    val evaluated = breached
      .withColumn("state",
        when(sum("breach").over(mofn) >=
          least(lit(cfg.datapointsToAlarm), count(lit(1)).over(mofn)),
          lit("ALARM")).otherwise(lit("OK")))
    val w = Window.partitionBy("event_type").orderBy("minute")
    evaluated
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("state"))
      .select(col("event_type"), col("minute"), col("state"), col("reason"),
        col("max_value"))
      .orderBy("event_type", "minute")
  }
}
