package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for all specs, configured by
  * [[GraftSession.configure]]. RocksDB state store is the default so
  * streaming specs exercise `transformWithState` against the provider a real
  * cluster would run (the HDFS-backed default does not support it), with
  * the contract's changelog checkpointing on.
  */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = {
    // session is shared across suites; do not stop it here
    super.afterAll()
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.streaming.checkpointLocation.deleteOnExit", "true")
    .getOrCreate()
    // the engine's full session contract, applied once up front, so every
    // suite sees the same confs whatever the suite order
    GraftSession.configure(s)
  }
}
