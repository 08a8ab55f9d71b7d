package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.{Fence, Graph, SessionCache}

/** [[graft.operators.SessionCache]] is the one build-once session cache:
  * a release deletes a directory entry's store and unpersists exactly the
  * RDDs a frame entry's build persisted, and no other main-tree code keys
  * a cache by application or creates a temp directory.
  */
class SessionCacheSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("releasing a directory entry deletes it; the next lookup builds a fresh one") {
    var builds = 0
    def lookup(): String =
      SessionCache.directory(spark, "graft-session-cache-spec", sf) { p =>
        builds += 1
        spark.range(10).write.parquet(s"$p/ids")
      }
    val first = lookup()
    lookup() shouldBe first
    builds shouldBe 1
    Files.isDirectory(Paths.get(first, "ids")) shouldBe true

    SessionCache.release(spark, "graft-session-cache-spec", sf)
    Files.exists(Paths.get(first)) shouldBe false

    val second = lookup()
    try {
      builds shouldBe 2
      second should not be first
      spark.read.parquet(s"$second/ids").count() shouldBe 10L
    } finally SessionCache.release(spark, "graft-session-cache-spec", sf)
    Files.exists(Paths.get(second)) shouldBe false
  }

  test("releasing a frame entry unpersists exactly the RDDs its build persisted") {
    Graph.releaseSharedEdges(spark, sf) // another suite may have warmed it
    val before = persisted()
    Graph.warmSharedEdges(spark, sf)
    val built = persisted() -- before
    built should not be empty
    // a foreign frame persisted after the build stays untouched
    val foreign = Fence(spark.range(100).toDF("id"))
    val foreignIds = persisted() -- before -- built
    try {
      Graph.releaseSharedEdges(spark, sf)
      persisted() -- before shouldBe foreignIds
      foreign.count() shouldBe 100L
    } finally foreignIds.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = true)))
  }

  test("a build may look up another entry; each release frees only its own RDDs") {
    val before = persisted()
    val inner = () => SessionCache(spark, "spec-inner", sf)(
      Fence(spark.range(50).toDF("id")))
    SessionCache(spark, "spec-outer", sf) {
      Fence(inner().select((col("id") * 2).as("id")))
    }
    val all = persisted() -- before
    all.size shouldBe 2
    SessionCache.release(spark, "spec-outer", sf)
    (persisted() -- before).size shouldBe 1
    // the inner entry is still cached, with its blocks
    inner().count() shouldBe 50L
    SessionCache.release(spark, "spec-inner", sf)
    persisted() -- before shouldBe empty
  }

  test("no main-tree code outside SessionCache keys by application or creates temp directories") {
    val forbidden = Seq(".applicationId", "createTempDirectory(")
    val root = Paths.get("src/main/scala")
    import scala.jdk.CollectionConverters._
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.size should be > 50
    val helper = root.resolve("graft/operators/SessionCache.scala")
    Files.exists(helper) shouldBe true
    // code only: scaladoc/block-comment lines and trailing `//` comments
    // are prose and may name the calls
    val offenders = for {
      f <- files if f != helper
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim.replaceAll("//.*", "")
      if !code.startsWith("*") && !code.startsWith("/*")
      p <- forbidden if code.contains(p)
    } yield s"${root.relativize(f)}:${n + 1}: $p"
    offenders shouldBe empty
  }
}
