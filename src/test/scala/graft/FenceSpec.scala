package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.{BpeTrainer, DataQuality, TextPipeline}

/** [[graft.operators.Fence]] is the one materialization fence: with a
  * checkpoint dir set, every operator's fences are reliable, so losing the
  * executor-local blocks a build left behind cannot lose its rows; and no
  * other code in the main tree checkpoints on its own.
  */
class FenceSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Builds `make()` and returns the frame plus the RDD ids the build
    * persisted (the getPersistentRDDs diff, as `graft.Bench` sweeps). */
  private def build(make: () => DataFrame): (DataFrame, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val df = make()
    (df, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  private def drop(ids: Set[Int]): Unit = ids.foreach { id =>
    spark.sparkContext.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = true))
  }

  test("with a checkpoint dir set, fenced builds survive losing their persisted blocks") {
    val corpus = () => spark.read.parquet(s"$sf/documents.parquet")
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "quality_fusion" -> (() => DataQuality.qualityFusion(spark, sf)),
      "bpe_distributed" -> (() =>
        BpeTrainer.bpeMergesDistributedFrom(spark, corpus(), nMerges = 4)),
      "dedup_pipeline" -> (() => TextPipeline.dedupPipelineFrom(spark, corpus())))
    val expected = builds.map { case (name, make) =>
      val (df, ids) = build(make)
      try name -> rows(df) finally drop(ids)
    }.toMap
    val dir = Files.createTempDirectory("graft-fence-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      builds.foreach { case (name, make) =>
        val (df, ids) = build(make)
        // lose every block the build persisted, then read the result again
        drop(ids)
        withClue(name) {
          rows(df) shouldBe expected(name)
          // reliable fences leave no executor-local blocks to lose at all
          ids shouldBe empty
        }
      }
      // the fences wrote reliable checkpoint files
      Files.walk(dir).count() should be > 1L
    } finally {
      // keep the shared session localCheckpoint-only for other suites
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("no main-tree code outside Fence checkpoints or reads the checkpoint dir") {
    val forbidden = Seq("localCheckpoint(", ".checkpoint(", "getCheckpointDir")
    val root = Paths.get("src/main/scala")
    import scala.jdk.CollectionConverters._
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.size should be > 50
    val fence = root.resolve("graft/operators/Fence.scala")
    Files.exists(fence) shouldBe true
    // code only: scaladoc/block-comment lines and trailing `//` comments
    // are prose and may name the calls
    val offenders = for {
      f <- files if f != fence
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim.replaceAll("//.*", "")
      if !code.startsWith("*") && !code.startsWith("/*")
      p <- forbidden if code.contains(p)
    } yield s"${root.relativize(f)}:${n + 1}: $p"
    offenders shouldBe empty
  }
}
