package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one-call session contract: configure() must leave any session able
  * to run the engine's SQL surface and read the nanos-timestamped events
  * table — and stay idempotent on an already-configured session.
  */
class GraftSessionSpec extends AnyFunSuite with Matchers with SparkTestBase {

  test("configure is idempotent and enables the SQL surface + events read") {
    val s = GraftSession.configure(spark)
    GraftSession.configure(s) // second call must not throw or re-register
    s.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    // RocksDB commits write a changelog, not a full snapshot
    s.conf.get("spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled") shouldBe "true"
    // checkpoint files go through the fork-free local filesystem: the
    // session conf reaches the Hadoop conf every query is handed
    s.conf.get(GraftSession.LocalFsConf) shouldBe classOf[ForkFreeLocalFs].getName
    org.apache.hadoop.fs.AbstractFileSystem.get(java.net.URI.create("file:///"),
      s.sessionState.newHadoopConf()) shouldBe a[ForkFreeLocalFs]
    // native function resolves through plain SQL
    s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0) shouldBe 11.0
    // nanos events table reads through the configured session
    graft.sources.Tables.events(s, "/root/testdata/sf0.001")
      .limit(1).collect() should have length 1
  }
}
