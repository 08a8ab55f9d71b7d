package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.model.AlarmTransition

/** Streaming write paths (SURVEY §2 K1, O3, K3).
  *
  * K1 — the producer's partitioned append: the reference spreads tracer
  * records across shards by partition key = the timestamp string
  * (HealthCheckProducerHandler.java:51-56, B6). Here the stream is a
  * partitioned append sink: `repartition(partitionKey)` hash-distributes
  * exactly like Kinesis's key->shard mapping, and each micro-batch appends
  * files per partition — swap `parquet` for a Kinesis/Kafka connector sink
  * in production without touching the pipeline.
  *
  * O3 — the alarm action: transitions append to a sink (memory/console in
  * tests, any table/queue in production; reference Stack.java:183 publishes
  * to SNS). K3 — the "handler return value" is the StreamingQuery handle and
  * its progress; the B5 error contract (failed work surfaces as a gap, not
  * an exception) is enforced upstream in the consumer.
  */
object StreamSinks {

  /** K1: partitioned tracer append. One sub-directory per partition-key hash
    * bucket keeps writers parallel without a per-key directory explosion.
    */
  def tracerAppend(tracer: DataFrame, path: String, checkpoint: String,
      buckets: Int = 8): DataStreamWriter[org.apache.spark.sql.Row] =
    tracer
      .withColumn("bucket", pmod(hash(col("partitionKey")), lit(buckets)))
      .repartition(col("bucket"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("bucket")
      .outputMode("append")

  /** O3 (typed rows): transitions via foreachBatch — the hook where a real
    * deployment calls its notification client once per micro-batch with
    * connection reuse (the reference's constructor-built SDK client pattern,
    * HealthCheckProducerHandler.java:33-39).
    *
    * The driver-side `collect` is safe HERE because transitions are emitted
    * only on state change (bounded, tiny); for anything fatter use
    * [[notifyPerPartition]], the safe default for general streams.
    */
  def transitionsForeach(transitions: Dataset[AlarmTransition],
      checkpoint: String)(
      onBatch: (Seq[AlarmTransition], Long) => Unit): DataStreamWriter[AlarmTransition] =
    transitions.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[AlarmTransition], id: Long) =>
        onBatch(batch.collect().toSeq, id)
      }

  /** O3, distributed delivery: each executor partition opens its own
    * notification channel and delivers its rows — nothing funnels through
    * the driver, so the sink scales with the stream (the signature
    * [[transitionsForeach]]'s collect invites misuse for fat streams; this
    * is the one to reach for by default). `send` runs ON EXECUTORS and must
    * be serializable; per-partition setup/teardown belongs inside it
    * (iterator-to-iterator, client per partition — the distributed analogue
    * of the reference's client reuse).
    */
  def notifyPerPartition[T](stream: Dataset[T], checkpoint: String)(
      send: Iterator[T] => Unit): DataStreamWriter[T] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[T], _: Long) =>
        batch.foreachPartition(send)
      }
}
