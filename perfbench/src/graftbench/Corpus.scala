package graftbench

import java.math.RoundingMode

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col

import graft.expressions.VectorExpressions
import graft.operators.{CurationProgram, TextPipeline}

final case class Doc(id: Long, source: String, lang: String, text: String)

/** The seeded `corpus_curate` input: Zipf vocabularies over five languages,
  * Zipf-sized sources, planted byte-identical copies and planted
  * near-duplicates that differ from their original by one word. */
final class CorpusGen(seed: Long) {
  val Stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is", "not"),
    "es" -> Seq("el", "la", "los", "de", "y", "es"),
    "fr" -> Seq("le", "les", "des", "et", "est", "ne"),
    "zh" -> Seq("de5", "le5", "shi4", "bu4", "wo3", "ni3"))
  val Langs: Seq[String] = Stopwords.keys.toSeq.sorted
  val BaseDocs = 10000
  val NearPairs = 100
  val CopiedDocs = 200
  private val words = new Rng.Zipf(8000, 1.1)
  private val sources = new Rng.Zipf(40, 1.1)

  private def text(key: Long, lang: String, n: Int): Array[String] =
    Array.tabulate(n) { p =>
      if (Rng.below(100, seed, 30, key, p) < 12) Stopwords(lang)(Rng.below(6, seed, 31, key, p))
      else lang + words.rank(Rng.unit(seed, 32, key, p))
    }

  /** (documents, planted near-duplicate pairs as doc ids). */
  lazy val generate: (Seq[Doc], Seq[(Long, Long)]) = {
    def lang(key: Long) = Langs(Rng.below(Langs.size, seed, 33, key))
    def source(key: Long) = f"src${sources.rank(Rng.unit(seed, 34, key))}%02d"
    val base = (0 until BaseDocs).map { i =>
      val l = lang(i)
      (source(i), l, text(i, l, 5 + Rng.below(120, seed, 35, i)).mkString(" "))
    }
    // long originals, so that one edited word leaves a Jaccard near 0.99
    // and a planted pair's chance to share no LSH band is about 1e-6
    val near = (0 until NearPairs).flatMap { i =>
      val key = 1000000L + i
      val l = lang(key)
      val orig = text(key, l, 600)
      val edited = orig.clone()
      edited(Rng.below(600, seed, 36, i)) = s"edit$i"
      Seq((source(key), l, orig.mkString(" ")), (source(key + 1), l, edited.mkString(" ")))
    }
    val copied = Rng.below(BaseDocs, seed, 37) // start of a run of originals
    val copies = (0 until CopiedDocs).flatMap { j =>
      val (_, l, t) = base((copied + j * 7) % BaseDocs)
      (0 to Rng.below(3, seed, 38, j)).map(c => (source(2000000L + j * 4 + c), l, t))
    } ++ (0 until NearPairs by 3).flatMap { i =>
      val (_, l, t) = near(2 * i)
      (0 to Rng.below(2, seed, 39, i)).map(c => (source(3000000L + i * 4 + c), l, t))
    }
    val all = base ++ near ++ copies
    val ids = new scala.util.Random(seed).shuffle((0L until all.size.toLong).toVector)
    val docs = all.indices.map(i => Doc(ids(i), all(i)._1, all(i)._2, all(i)._3))
    val nearIds = (0 until NearPairs).map(i => (ids(BaseDocs + 2 * i), ids(BaseDocs + 2 * i + 1)))
    (docs.sortBy(_.id), nearIds)
  }
}

/** The checks on one pass, each computed from the generated documents
  * alone: shingle sets, Jaccard and the curation invariants in plain Scala. */
final class CorpusCheck(docs: Seq[Doc], planted: Seq[(Long, Long)],
    k: Int, budget: Long) {
  private val byId = docs.map(d => d.id -> d).toMap
  private val groups: Map[String, Seq[Doc]] = docs.groupBy(_.text.trim.toLowerCase)
  private val repOf: Map[Long, Long] = groups.values.flatMap { g =>
    val rep = g.map(_.id).min
    g.map(_.id -> rep)
  }.toMap
  private val groupOfRep: Map[Long, Seq[Doc]] = groups.values.map(g => g.map(_.id).min -> g).toMap

  def shingleSet(text: String): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }
  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingleSet(a), shingleSet(b))
    val j = (x intersect y).size.toDouble / (x union y).size.toDouble
    java.math.BigDecimal.valueOf(j).setScale(4, RoundingMode.HALF_UP).doubleValue
  }

  /** The rows a correct dedup reports for the planted pairs. */
  def plantedRows: Seq[(Long, Long, Double, Long, Long)] = planted.map { case (x, y) =>
    val (a, b) = (math.min(repOf(x), repOf(y)), math.max(repOf(x), repOf(y)))
    val (ga, gb) = (groupOfRep(a), groupOfRep(b))
    (a, b, jaccard(ga.map(_.text).min, gb.map(_.text).min), ga.size.toLong, gb.size.toLong)
  }

  /** dedupPipelineFrom rows: (doc_a, doc_b, jaccard, copies_a, copies_b). */
  def dedup(rows: Seq[(Long, Long, Double, Long, Long)]): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    rows.foreach { case (a, b, j, ca, cb) =>
      val (ga, gb) = (groupOfRep.get(a), groupOfRep.get(b))
      if (a >= b || ga.isEmpty || gb.isEmpty) errs += s"pair ($a,$b) is not two representatives"
      else {
        // the representative text is the least of the group's texts
        val want = jaccard(ga.get.map(_.text).min, gb.get.map(_.text).min)
        if (want != j || j < 0.8) errs += s"pair ($a,$b) jaccard $j, recomputed $want"
        if (ca != ga.get.size || cb != gb.get.size)
          errs += s"pair ($a,$b) copies ($ca,$cb), planted (${ga.get.size},${gb.get.size})"
      }
    }
    val found = rows.map(r => (r._1, r._2)).toSet
    planted.foreach { case (x, y) =>
      val (a, b) = (math.min(repOf(x), repOf(y)), math.max(repOf(x), repOf(y)))
      if (!found((a, b))) errs += s"planted pair ($a,$b) not found"
    }
    errs.toSeq
  }

  /** curationProgramFrom rows: doc_id, source, lang, n_tokens, quality_q4,
    * cap_rk, start_offset, bucket, split. */
  def curation(rows: Seq[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val ids = rows.map(_.getAs[Long]("doc_id"))
    if (ids.distinct.size != ids.size) errs += "a document admitted twice"
    val texts = ids.flatMap(byId.get).map(_.text.trim.toLowerCase)
    if (texts.size != ids.size) errs += "an admitted document is not in the corpus"
    if (texts.distinct.size != texts.size) errs += "two admitted documents share normalized text"
    rows.foreach { r =>
      val d = byId.get(r.getAs[Long]("doc_id"))
      if (d.exists(_.text.split(" ", -1).length != r.getAs[Long]("n_tokens")))
        errs += s"doc ${r.getAs[Long]("doc_id")} token count"
      if (r.getAs[Long]("quality_q4") < 5000) errs += s"doc ${r.getAs[Long]("doc_id")} below the quality gate"
    }
    rows.groupBy(_.getAs[String]("source")).foreach { case (s, rs) =>
      if (rs.size > k) errs += s"source $s admits ${rs.size} > $k"
      val ranks = rs.map(_.getAs[Long]("cap_rk"))
      if (ranks.distinct.size != ranks.size || ranks.exists(r => r < 1 || r > k))
        errs += s"source $s cap ranks are not distinct ranks within 1..$k"
    }
    // the admitted documents of a language are a prefix of the seeded
    // md5("tb:" + doc_id) order, each starting where the previous ended,
    // and each starting inside the budget
    rows.groupBy(_.getAs[String]("lang")).foreach { case (l, rs) =>
      val ordered = rs.sortBy(r => (CorpusCheck.md5Hex("tb:" + r.getAs[Long]("doc_id")), r.getAs[Long]("doc_id")))
      val starts = ordered.map(_.getAs[Long]("start_offset"))
      val want = ordered.map(_.getAs[Long]("n_tokens")).scanLeft(0L)(_ + _).init
      if (starts != want || starts.exists(_ >= budget)) errs += s"lang $l token budget offsets"
    }
    errs.toSeq
  }
}

object CorpusCheck {
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
}

/** `corpus_curate`: full passes of the curation program and the dedup
  * pipeline over a generated corpus read from parquet. The op is one pass. */
object Corpus {
  val Cap = 300
  val Budget = 60000L
  val MinQuality = 0.5
  val WarmupPasses = 2

  /** The per-layer metrics of a traced run, with their units. */
  val Layer: Seq[(String, String)] = Seq("curation", "dedup").flatMap { p =>
    Seq(s"operators.$p.construct_ms" -> "ms", s"operators.$p.plan_ms" -> "ms",
      s"operators.$p.exec_ms" -> "ms", s"operators.$p.jobs" -> "count",
      s"operators.$p.stages" -> "count", s"operators.$p.tasks" -> "count",
      s"operators.$p.shuffle_write_bytes" -> "bytes",
      s"operators.$p.shuffle_fetch_wait_ms" -> "ms",
      s"operators.$p.spill_bytes" -> "bytes", s"operators.$p.gc_ms" -> "ms",
      s"operators.$p.executor_cpu_ms" -> "ms")
  } ++ Seq(
    "operators.curation.fenced_frames" -> "count",
    "operators.dedup.candidate_pairs" -> "count",
    "operators.dedup.verified_pairs" -> "count",
    "expressions.shingle_set_ms" -> "ms",
    "expressions.minhash_bands_ms" -> "ms",
    "sources.corpus_scan_ms" -> "ms")

  private object Plans extends AdaptiveSparkPlanHelper {
    /** (candidate pairs, verified pairs): the rows into and out of the
      * Jaccard test of the dedup plan, a join condition or a filter. */
    def pairs(plans: Seq[SparkPlan]): (Long, Long) = plans.flatMap { p =>
      def rowsIn(child: SparkPlan) =
        collectFirst(child) { case j: BaseJoinExec => j.metrics("numOutputRows").value }.getOrElse(0L)
      collectWithSubqueries(p) {
        case j: BaseJoinExec if j.condition.exists(_.sql.contains("array_intersect")) =>
          (rowsIn(j.left), j.metrics("numOutputRows").value)
        case f: FilterExec if f.condition.sql.contains("array_intersect") =>
          (rowsIn(f.child), f.metrics("numOutputRows").value)
      }
    }.headOption.getOrElse((0L, 0L))
  }

  def run(spark: SparkSession, cfg: RunCfg, tracer: Tracer, probe: Option[Probe]): Outcome = {
    val gen = new CorpusGen(cfg.seed)
    val (docs, planted) = gen.generate
    val check = new CorpusCheck(docs, planted, Cap, Budget)
    val path = cfg.work.resolve("corpus").toString
    spark.createDataFrame(docs).toDF("doc_id", "source", "lang", "text").write.parquet(path)
    def corpus: DataFrame = tracer.span("sources.read")(spark.read.parquet(path))

    val sections = mutable.Map[String, mutable.ArrayBuffer[(Map[String, Long], Map[String, Long])]]()
    val stageMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val fenced, cands, verified = mutable.ArrayBuffer[Double]()
    def section[T](name: String)(body: => T): T = {
      val before = probe.map(_.snapshot())
      val t0 = System.nanoTime()
      val out = tracer.span(name)(body)
      stageMs.getOrElseUpdate(name, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
      probe.foreach(p => sections.getOrElseUpdate(name, mutable.ArrayBuffer()) += ((before.get, p.snapshot())))
      out
    }

    /** One pass; returns its outputs, the admitted manifest and the pairs. */
    def pass(): (Seq[Row], Seq[Row]) = {
      val persisted0 = spark.sparkContext.getPersistentRDDs.keySet
      val manifest = section("operators.curation.construct") {
        CurationProgram.curationProgramFrom(corpus, MinQuality, Cap, Budget)
      }
      fenced += (spark.sparkContext.getPersistentRDDs.keySet -- persisted0).size.toDouble
      probe.foreach(_.plans())
      val admitted = section("operators.curation.run")(manifest.collect().toSeq)
      val pipeline = section("operators.dedup.construct")(TextPipeline.dedupPipelineFrom(spark, corpus))
      probe.foreach(_.plans())
      val pairs = section("operators.dedup.run")(pipeline.collect().toSeq)
      probe.foreach { p =>
        val (c, v) = Plans.pairs(p.plans())
        cands += c.toDouble
        verified += v.toDouble
      }
      (admitted, pairs)
    }
    def errors(out: (Seq[Row], Seq[Row])): Seq[String] =
      check.curation(out._1) ++ check.dedup(out._2.map(r => (r.getAs[Long]("doc_a"),
        r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"), r.getAs[Long]("copies_a"), r.getAs[Long]("copies_b"))))

    val warmErrs = (0 until WarmupPasses).flatMap(_ => errors(pass()))
    // after a fixed amount of work, so that it does not follow the run's speed
    val liveMb = Proc.liveMb
    stageMs.clear(); sections.clear(); fenced.clear(); cands.clear(); verified.clear()
    val passMs, passCpu = mutable.ArrayBuffer[Double]()
    var failed = 0
    val errs = mutable.ArrayBuffer[String]()
    Loop.rounds(cfg.seconds) { _ =>
      tracer.setOp(passMs.size)
      val cpu0 = Proc.cpuMs
      val t0 = System.nanoTime()
      val out = pass()
      passMs += (System.nanoTime() - t0) / 1e6
      passCpu += Proc.cpuMs - cpu0
      val e = errors(out)
      if (e.nonEmpty) { failed += 1; errs ++= e.take(3) }
    }

    val e2e = new Metrics
    e2e.put("throughput_per_s", docs.size * passMs.size / (passMs.sum / 1000.0), "1/s")
    e2e.put("latency_p50_ms", Stats.median(passMs.toSeq), "ms")
    e2e.put("latency_tail_ms", Stats.tail(passMs.toSeq), "ms")
    e2e.put("cpu_ms_per_op", Stats.median(passCpu.toSeq), "ms")
    e2e.put("live_heap_mb", liveMb, "MB")

    val layer = new Metrics
    probe.foreach { _ =>
      val n = passMs.size.toDouble
      Seq("curation", "dedup").foreach { p =>
        val run = Probe.total(sections(s"operators.$p.run").toSeq)
        val all = Probe.total((sections(s"operators.$p.construct") ++ sections(s"operators.$p.run")).toSeq)
        layer.put(s"operators.$p.construct_ms", stageMs(s"operators.$p.construct").sum / n, "ms")
        layer.put(s"operators.$p.plan_ms",
          (run("analysis_ms") + run("optimization_ms") + run("planning_ms")) / n, "ms")
        layer.put(s"operators.$p.exec_ms", run("exec_ms") / n, "ms")
        layer.put(s"operators.$p.jobs", all("jobs") / n, "count")
        layer.put(s"operators.$p.stages", all("stages") / n, "count")
        layer.put(s"operators.$p.tasks", all("tasks") / n, "count")
        layer.put(s"operators.$p.shuffle_write_bytes", all("shuffle_write_bytes") / n, "bytes")
        layer.put(s"operators.$p.shuffle_fetch_wait_ms", all("shuffle_fetch_wait_ms") / n, "ms")
        layer.put(s"operators.$p.spill_bytes", all("spill_bytes") / n, "bytes")
        layer.put(s"operators.$p.gc_ms", all("gc_ms") / n, "ms")
        layer.put(s"operators.$p.executor_cpu_ms", all("cpu_ms") / n, "ms")
      }
      layer.put("operators.curation.fenced_frames", fenced.sum / n, "count")
      layer.put("operators.dedup.candidate_pairs", cands.sum / n, "count")
      layer.put("operators.dedup.verified_pairs", verified.sum / n, "count")

      // each native expression alone over the corpus: a scan, then the scan
      // with shingle sets, then with shingle sets and band digests
      def timed(name: String)(df: => DataFrame): Double = Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        tracer.span(name)(df.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e6
      })
      val scan = timed("sources.scan")(corpus.select(col("doc_id"), col("text")))
      val shingles = timed("expressions.shingle_set")(corpus.select(col("doc_id"),
        VectorExpressions.shingleSetNative(col("text")).as("s")))
      val bands = timed("expressions.minhash_bands")(corpus.select(col("doc_id"),
        VectorExpressions.minHashBandsNative(VectorExpressions.shingleSetNative(col("text"))).as("b")))
      layer.put("sources.corpus_scan_ms", scan, "ms")
      layer.put("expressions.shingle_set_ms", math.max(0.0, shingles - scan), "ms")
      layer.put("expressions.minhash_bands_ms", math.max(0.0, bands - shingles), "ms")
    }
    Outcome(passMs.size, failed, warmErrs.isEmpty, e2e, layer,
      Seq(s"docs=${docs.size}", s"passes=${passMs.size}", s"pass_ms=${passMs.map(_.round).mkString(",")}") ++ warmErrs.take(3) ++ errs.take(3))
  }
}
