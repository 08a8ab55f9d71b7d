package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.StoreVersioning

/** The shared version-discipline module's own contract — every persisted
  * store builds on exactly these behaviors, so they are pinned once here
  * (the per-store pinned-reader specs prove the composition).
  */
class StoreVersioningSpec extends AnyFunSuite with Matchers
    with SparkTestBase {

  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sv").toString

  test("versions are contiguous, latest resolves, empty store reads 0") {
    val dir = freshDir()
    StoreVersioning.latestVersion(spark, dir) shouldBe 0L
    StoreVersioning.listVersions(spark, dir) shouldBe Seq.empty
    (1 to 3).foreach { i =>
      val v = StoreVersioning.commitNextVersion(spark, dir) { staging =>
        Seq(i).toDF("x").write.parquet(staging)
      }
      v shouldBe i.toLong
    }
    StoreVersioning.listVersions(spark, dir) shouldBe Seq(1L, 2L, 3L)
    StoreVersioning.latestVersion(spark, dir) shouldBe 3L
  }

  test("a staged (uncommitted) write is invisible to version listing and " +
    "partition discovery") {
    val dir = freshDir()
    StoreVersioning.commitNextVersion(spark, dir) { staging =>
      Seq(1).toDF("x").write.parquet(staging)
    }
    // simulate a writer mid-commit: the staging dir exists on disk
    Seq(99).toDF("x").write.parquet(s"$dir/.staging-version-2")
    // readers see neither a new version nor extra rows — dot-prefixed
    // paths are hidden from Spark's file listing AND from the lister
    StoreVersioning.latestVersion(spark, dir) shouldBe 1L
    spark.read.parquet(dir).count() shouldBe 1L // one committed version
  }

  test("version-number collision is first-writer-wins: the second commit " +
    "fails loudly instead of overwriting") {
    val dir = freshDir()
    StoreVersioning.commitNextVersion(spark, dir) { staging =>
      Seq(1).toDF("x").write.parquet(staging)
    }
    val e = intercept[IllegalArgumentException] {
      StoreVersioning.commitNextVersion(spark, dir) { staging =>
        // a racing writer lands version 2 while WE are still staging —
        // i.e. after our latestVersion read, before our publish rename
        Seq(2).toDF("x").write.parquet(StoreVersioning.versionDir(dir, 2L))
        Seq(3).toDF("x").write.parquet(staging)
      }
    }
    e.getMessage should include("version 2")
    // the first writer's version 2 is intact
    spark.read.parquet(StoreVersioning.versionDir(dir, 2L))
      .as[Int].collect().toSeq shouldBe Seq(2)
  }

  test("prune keeps the current version and requireVersion fails fast " +
    "on pruned reads") {
    val dir = freshDir()
    (1 to 3).foreach { i =>
      StoreVersioning.commitNextVersion(spark, dir) { staging =>
        Seq(i).toDF("x").write.parquet(staging)
      }
    }
    StoreVersioning.pruneVersions(spark, dir, keep = 1)
    StoreVersioning.listVersions(spark, dir) shouldBe Seq(3L)
    StoreVersioning.versionExists(spark, dir, 1L) shouldBe false
    an[IllegalArgumentException] should be thrownBy
      StoreVersioning.requireVersion(spark, dir, 1L)
    // keep < 1 still keeps the current version
    StoreVersioning.pruneVersions(spark, dir, keep = 0)
    StoreVersioning.listVersions(spark, dir) shouldBe Seq(3L)
  }

  test("commitTokens/liveTokens round-trip kinds and sort tokens") {
    val dir = freshDir()
    StoreVersioning.commitTokens(spark, dir,
      Seq(("seg", "d2"), ("seg", "base"), ("tomb", "t3")))
    val live = StoreVersioning.liveTokens(spark, dir)
    live("seg") shouldBe Seq("base", "d2")
    live("tomb") shouldBe Seq("t3")
    live.get("bloom") shouldBe None
  }

  test("a dead writer's leftover staging is cleared by the next commit") {
    val dir = freshDir()
    Seq(0).toDF("x").write.parquet(s"$dir/.staging-version-1")
    val v = StoreVersioning.commitNextVersion(spark, dir) { staging =>
      Seq(1).toDF("x").write.parquet(staging)
    }
    v shouldBe 1L
    spark.read.parquet(StoreVersioning.versionDir(dir, 1L))
      .as[Int].collect().toSeq shouldBe Seq(1)
  }

  test("a writer losing the publish race throws AND removes its staged " +
    "tree — no dot-prefixed copy leaks") {
    val dir = freshDir()
    StoreVersioning.commitNextVersion(spark, dir) { st =>
      Seq(1).toDF("x").write.parquet(st)
    }
    val fs = StoreVersioning.fs(spark, dir)
    // simulate the race: version 2 lands between our latestVersion read
    // and our publish — commitNextVersion's write callback runs FIRST,
    // so publish version 2 from inside the callback
    val ex = intercept[IllegalArgumentException] {
      StoreVersioning.commitNextVersion(spark, dir) { st =>
        Seq(2).toDF("x").write.parquet(st)
        fs.mkdirs(new org.apache.hadoop.fs.Path(
          StoreVersioning.versionDir(dir, 2L)))
      }
    }
    ex.getMessage should include("concurrent writer")
    // the loser's staging tree is gone — later commits only ever clear
    // THEIR OWN staging name, so a leak here would live forever
    fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/.staging-version-2")) shouldBe false
  }

  test("gcSegments drops only segments no surviving version references; " +
    "the surviving store still probes") {
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft-gc").toString
    graft.operators.PersistedIndex.buildIvfPqIndex(spark, sf, dir)
    val delta = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") === 1)
      .select(org.apache.spark.sql.functions.lit(66666L).as("vec_id"),
        org.apache.spark.sql.functions.col("label"),
        org.apache.spark.sql.functions.col("embedding"))
    graft.operators.PersistedIndex.appendToIvfPqIndex(spark, delta, dir)
    val fs = StoreVersioning.fs(spark, dir)
    def segs: Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/codes"))
        .map(_.getPath.getName).toSet
    segs shouldBe Set("ingest=base", "ingest=d2")
    // while BOTH versions survive, gc drops nothing (v1 references base)
    graft.operators.PersistedIndex.gcIvfPqSegments(spark, dir)
    segs shouldBe Set("ingest=base", "ingest=d2")
    // prune to the latest version only; base stays referenced by v2 too
    // (appends accumulate tokens), so gc still keeps both — no dangling
    StoreVersioning.pruneVersions(spark, s"$dir/manifest", keep = 1)
    graft.operators.PersistedIndex.gcIvfPqSegments(spark, dir)
    segs shouldBe Set("ingest=base", "ingest=d2")
    // a retention re-commit that references d2 alone, pruned to it,
    // finally strands base — gc removes exactly that segment
    StoreVersioning.commitTokens(spark, s"$dir/manifest",
      Seq(("seg", "d2")))
    StoreVersioning.pruneVersions(spark, s"$dir/manifest", keep = 1)
    graft.operators.PersistedIndex.gcIvfPqSegments(spark, dir)
    segs shouldBe Set("ingest=d2")
    // the surviving store holds exactly the appended segment's row, and
    // a probe against it still executes without error (its result may be
    // empty — the clone's cluster need not be among the probed ones)
    spark.read.parquet(s"$dir/codes")
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .collect().map(_.getLong(0)).toSet shouldBe Set(66666L)
    noException should be thrownBy graft.operators.PersistedIndex
      .probeIvfPqIndex(spark, sf, dir).collect()
  }

  // ---- retain == prune + per-store gc, one policy per store (r13) ----

  import org.apache.spark.sql.functions.col
  import graft.operators.PersistedIndex

  private val sf = "/root/testdata/sf0.001"

  private def dirNames(dir: String, sub: String): Set[String] = {
    val f = StoreVersioning.fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).map(_.getPath.getName).toSet
  }

  /** The full observable surface of retention: surviving manifest
    * versions plus every sub-store's segment-directory names. */
  private def retentionState(dir: String,
      subs: Seq[String]): (Seq[Long], Map[String, Set[String]]) =
    (StoreVersioning.listVersions(spark, s"$dir/manifest"),
      subs.map(s => s -> dirNames(dir, s)).toMap)

  /** Build the SAME store twice (builds are deterministic, so segment
    * tokens and version numbers agree); sweep one with the legacy
    * prune + per-store-gc pair and the other with the unified
    * [[PersistedIndex.retainStore]], then require identical retention
    * state. */
  private def checkRetainEquiv(kind: String, subs: Seq[String],
      build: String => Unit)(legacyGc: String => Unit): Unit = {
    val a = freshDir(); val b = freshDir()
    build(a); build(b)
    retentionState(a, subs) shouldBe retentionState(b, subs)
    StoreVersioning.pruneVersions(spark, s"$a/manifest", keep = 1)
    legacyGc(a)
    PersistedIndex.retainStore(spark, kind, b, keep = 1)
    retentionState(b, subs) shouldBe retentionState(a, subs)
    StoreVersioning.listVersions(spark, s"$b/manifest").size shouldBe 1
  }

  private def embDelta(newId: Long) =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 1)
      .select(org.apache.spark.sql.functions.lit(newId).as("vec_id"),
        col("label"), col("embedding"))

  test("retainStore(ivf) == pruneVersions + gcIvfSegments") {
    checkRetainEquiv("ivf", Seq("vectors"), { dir =>
      PersistedIndex.buildIvfIndex(spark, sf, dir)
      PersistedIndex.appendToIvfIndex(spark, embDelta(66601L), dir)
    })(PersistedIndex.gcIvfSegments(spark, _))
  }

  test("retainStore(pq) == pruneVersions + gcPqSegments") {
    checkRetainEquiv("pq", Seq("codes"), { dir =>
      PersistedIndex.buildPqIndex(spark, sf, dir)
      PersistedIndex.appendToPqIndex(spark, embDelta(66602L), dir)
    })(PersistedIndex.gcPqSegments(spark, _))
  }

  test("retainStore(ivfpq) == pruneVersions + gcIvfPqSegments, with " +
    "compaction stranding the pre-compaction segments") {
    checkRetainEquiv("ivfpq", Seq("codes"), { dir =>
      PersistedIndex.buildIvfPqIndex(spark, sf, dir)
      PersistedIndex.appendToIvfPqIndex(spark, embDelta(66603L), dir)
      PersistedIndex.compactIvfPqIndex(spark, dir)
    })(PersistedIndex.gcIvfPqSegments(spark, _))
  }

  test("retainStore(lsh) == pruneVersions + gcLshSegments") {
    checkRetainEquiv("lsh", Seq("buckets", "vectors"), { dir =>
      val e = spark.read.parquet(s"$sf/embeddings.parquet")
      val isDelta = col("vec_id") % 100 === 77
      PersistedIndex.buildLshIndex(spark, e.filter(!isDelta), dir)
      PersistedIndex.appendToLshIndex(spark, e.filter(isDelta), dir)
      PersistedIndex.compactLshIndex(spark, dir)
    })(PersistedIndex.gcLshSegments(spark, _))
  }

  test("retainStore(text) == pruneVersions + gcTextIndexSegments") {
    checkRetainEquiv("text",
      Seq("postings", "meta", "doclens", "tombstones"), { dir =>
      val corpus = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      PersistedIndex.buildTextIndex(spark,
        corpus.filter(col("doc_id") % 2 === 0), dir)
      PersistedIndex.appendToTextIndex(spark,
        corpus.filter(col("doc_id") % 2 === 1), dir)
      PersistedIndex.compactTextIndexInPlace(spark, dir)
    })(PersistedIndex.gcTextIndexSegments(spark, _))
  }

  test("retainStore(knn) == pruneVersions + gcKnnGraphSegments") {
    checkRetainEquiv("knn", Seq("nodes", "edges"), { dir =>
      val e = spark.read.parquet(s"$sf/embeddings.parquet")
      val isDelta = col("vec_id") % 100 === 7
      PersistedIndex.buildKnnGraphStore(spark, e.filter(!isDelta), dir,
        k = 4, iters = 1)
      PersistedIndex.appendToKnnGraphStore(spark, e.filter(isDelta), dir)
    })(PersistedIndex.gcKnnGraphSegments(spark, _))
  }

  test("retainStore(dedup) sweeps the dedup index: segments referenced " +
    "by no surviving version are dropped, referenced ones survive") {
    val dir = freshDir()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    PersistedIndex.buildDedupIndex(spark, docs.filter(col("doc_id") % 2 === 0), dir)
    PersistedIndex.appendToDedupIndex(spark,
      docs.filter(col("doc_id") % 2 === 1), dir)
    val subs = Seq("digests", "bands", "sets")
    // v2 references base + d2: retain(keep=1) drops v1, strands nothing
    PersistedIndex.retainStore(spark, "dedup", dir, keep = 1)
    subs.foreach(s => dirNames(dir, s) shouldBe Set("ingest=base", "ingest=d2"))
    // a retention re-commit referencing d2 alone strands base everywhere
    StoreVersioning.commitTokens(spark, s"$dir/manifest", Seq(("seg", "d2")))
    PersistedIndex.retainStore(spark, "dedup", dir, keep = 1)
    subs.foreach(s => dirNames(dir, s) shouldBe Set("ingest=d2"))
  }

  test("retainStore(shingle) keeps the surviving version's bloom and " +
    "hash segments, drops the stranded bloom") {
    val dir = freshDir()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    PersistedIndex.buildShingleIndex(spark,
      docs.filter(col("doc_id") % 2 === 0), dir)
    PersistedIndex.appendToShingleIndex(spark,
      docs.filter(col("doc_id") % 2 === 1), dir)
    // v1: hashes base + bloom base; v2: hashes base,d2 + bloom d2
    dirNames(dir, "bloom") shouldBe Set("token=base", "token=d2")
    PersistedIndex.retainStore(spark, "shingle", dir, keep = 1)
    // v1 pruned: its bloom is stranded and swept; both hash segments
    // stay (v2 references them); the probe still answers
    dirNames(dir, "bloom") shouldBe Set("token=d2")
    dirNames(dir, "hashes") shouldBe Set("ingest=base", "ingest=d2")
    noException should be thrownBy PersistedIndex
      .overlapDeltaAgainstIndex(spark,
        docs.filter(col("doc_id") < 4), dir).collect()
  }

  test("retainStore(curation) == pruneManifestVersions (version pruning " +
    "only; a manifest-is-the-data store has no segment sub-stores)") {
    val a = freshDir(); val b = freshDir()
    Seq(a, b).foreach { dir =>
      (1 to 3).foreach { i =>
        StoreVersioning.commitNextVersion(spark, s"$dir/manifest") { st =>
          Seq(i).toDF("x").write.parquet(st)
        }
      }
    }
    graft.operators.CurationStore.pruneManifestVersions(spark, a, keep = 2)
    PersistedIndex.retainStore(spark, "curation", b, keep = 2)
    StoreVersioning.listVersions(spark, s"$b/manifest") shouldBe
      StoreVersioning.listVersions(spark, s"$a/manifest")
    StoreVersioning.listVersions(spark, s"$b/manifest") shouldBe Seq(2L, 3L)
  }

  test("retainStore rejects an unknown store kind loudly") {
    an[IllegalArgumentException] should be thrownBy
      PersistedIndex.retainStore(spark, "nope", freshDir(), keep = 1)
  }

  test("liveTokens fails loudly on a pre-(kind, token) manifest schema " +
    "instead of resolving a silently-empty live set") {
    val dir = freshDir()
    StoreVersioning.commitNextVersion(spark, s"$dir/manifest") { st =>
      // the LSH store's bespoke 1-column dialect from before round 12
      Seq("base", "d2").toDF("token").coalesce(1).write.parquet(st)
    }
    val e = intercept[IllegalArgumentException] {
      StoreVersioning.liveTokens(spark, s"$dir/manifest")
    }
    e.getMessage should include("expected (kind, token)")
  }

  // ---- one manifest writer, one reader, one live-segment scan ----

  /** Spark jobs `body` starts on this thread. The listener bus delivers
    * job starts in order, so once a sentinel job started after `body`
    * arrives, every job of `body` has arrived before it. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.jobcount"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(tag, null)
      Iterator.continually(
          seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(t => { require(t != null, "sentinel job never arrived"); t })
        .takeWhile(_ != "sentinel").count(_ == "body")
    } finally sc.removeSparkListener(listener)
  }

  test("pinning or publishing a version starts no Spark job; a text-index " +
    "append starts at most 6") {
    val dir = freshDir()
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    PersistedIndex.buildTextIndex(spark,
      corpus.filter(col("doc_id") % 2 === 0), dir)
    jobsOf(StoreVersioning.liveTokens(spark, s"$dir/manifest")) shouldBe 0
    jobsOf(StoreVersioning.commitTokens(spark, s"$dir/manifest",
      Seq(("seg", "base")))) shouldBe 0
    // manifest I/O was 5 of the 11 jobs when the manifest was parquet
    val append = jobsOf(PersistedIndex.appendToTextIndex(spark,
      corpus.filter(col("doc_id") % 2 === 1), dir))
    val search = jobsOf(PersistedIndex.searchTextIndex(spark, dir,
      graft.operators.Retrieval.QueryTerms).collect())
    info(s"appendToTextIndex: $append jobs; searchTextIndex: $search jobs")
    append should be <= 6
  }

  test("the manifest is one kind<TAB>token file; a missing file or a " +
    "malformed line fails loudly") {
    val dir = freshDir()
    val v = StoreVersioning.commitTokens(spark, dir,
      Seq(("seg", "base"), ("edges", "3:f2")))
    val file = new java.io.File(StoreVersioning.versionDir(dir, v))
      .listFiles().filter(_.getName.endsWith(".tsv"))
    file.map(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)) shouldBe
      Array("seg\tbase\nedges\t3:f2\n")
    StoreVersioning.liveTokens(spark, dir)("edges") shouldBe Seq("3:f2")
    // a torn or hand-edited manifest never reads as a smaller live set
    val out = StoreVersioning.fs(spark, dir).create(
      new org.apache.hadoop.fs.Path(file.head.toURI), true)
    try out.write(
      "seg\tbase\nseg\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    intercept[IllegalArgumentException] {
      StoreVersioning.liveTokens(spark, dir)
    }.getMessage should include("expected (kind, token)")
    // an empty version directory has no manifest at all
    StoreVersioning.commitNextVersion(spark, dir)(st =>
      new java.io.File(st).mkdirs())
    intercept[IllegalArgumentException] {
      StoreVersioning.liveTokens(spark, dir)
    }.getMessage should include("expected (kind, token)")
    // the writer refuses what the line format cannot carry
    Seq(("se\tg", "base"), ("seg", "ba\nse")).foreach { row =>
      an[IllegalArgumentException] should be thrownBy
        StoreVersioning.commitTokens(spark, dir, Seq(row))
    }
  }

  test("no code outside StoreVersioning writes or reads a manifest or " +
    "filters a live-segment list itself") {
    val forbidden = Seq("""col("ingest").isInCollection""", """.toDF("kind"""",
      "spark.read.parquet(StoreVersioning.versionDir")
    val root = java.nio.file.Paths.get("src/main/scala")
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.size should be > 50
    val home = root.resolve("graft/operators/StoreVersioning.scala")
    java.nio.file.Files.exists(home) shouldBe true
    // code only: scaladoc/block-comment lines and trailing `//` comments
    // are prose and may name the calls (the FenceSpec rule)
    val offenders = for {
      f <- files if f != home
      (line, n) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim.replaceAll("//.*", "")
      if !code.startsWith("*") && !code.startsWith("/*")
      p <- forbidden if code.contains(p)
    } yield s"${root.relativize(f)}:${n + 1}: $p"
    offenders shouldBe empty
  }
}
