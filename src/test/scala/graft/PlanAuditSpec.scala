package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Physical-plan invariants as CI: the scale-killer patterns PlanAudit's
  * human-run dump used to catch now fail the build. Planning only (no
  * execution) — AQE's initial plan carries every invariant asserted here.
  */
class PlanAuditSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // each query is built ONCE (its eager fences and training run once):
  // the formatted plan and the output schema come from the same frame
  private lazy val built: Map[String, (String, StructType)] =
    SparkEntry.queries.map { case (name, fn) =>
      val df = fn(spark, sf)
      name -> ((df.queryExecution.explainString(FormattedMode), df.schema))
    }

  private lazy val plans: Map[String, String] =
    built.map { case (name, (plan, _)) => name -> plan }

  private def exchanges(plan: String): Int = PlanAudit.exchangeCount(plan)

  // live (unfenced) partition-less WindowExecs the bounded-input test
  // measures, and the whitelisted queries they come from
  private val LiveWindowQueriesFloor = 28
  private val LiveWindowsFloor = 32

  test("no query plans a cartesian product") {
    plans.foreach { case (name, p) =>
      withClue(s"$name: ") { p should not include "CartesianProduct" }
    }
  }

  test("broadcast nested-loop joins only where the build side is a 1-row broadcast") {
    // the whitelist lives on PlanAudit so the dev dump and this gate agree
    plans.foreach { case (name, p) =>
      if (!PlanAudit.bnljWhitelist.contains(name))
        withClue(s"$name: ") { p should not include "BroadcastNestedLoopJoin" }
    }
  }

  test("no non-whitelisted query plans a partition-less window") {
    // a partition-less window over corpus-sized input is a single-task
    // global sort at 100 TB; the whitelist pins today's documented bounded
    // frames (post-limit reranks, #shards-row offset tables, #bins sketch
    // estimates) so the next top-k variant can't silently ship one
    plans.foreach { case (name, p) =>
      if (!PlanAudit.unpartitionedWindowBounds.contains(name))
        withClue(s"$name: ") {
          PlanAudit.unpartitionedWindowCount(p) shouldBe 0
        }
    }
  }

  test("whitelists carry no stale rows for removed queries") {
    val queries = SparkEntry.queries.keySet
    (PlanAudit.unpartitionedWindowBounds.keySet -- queries) shouldBe empty
    (PlanAudit.bnljWhitelist -- queries) shouldBe empty
    (PlanAudit.tokenWindowWhitelist -- queries) shouldBe empty
    (PlanAudit.stratumWindowWhitelist.keySet -- queries) shouldBe empty
  }

  test("whitelisted partition-less windows execute over bounded inputs") {
    // round 16 (VERDICT r15 #8): the bounds map's comments CLAIM each
    // partition-less window numbers a bounded post-limit/offsets frame;
    // this test PROVES it — run each whitelisted query and assert every
    // partition-less WindowExec's measured row count (numOutputRows ==
    // its input rows: a window emits one row per input row) stays under
    // the documented volume-independent ceiling in
    // PlanAudit.unpartitionedWindowBounds. A window that silently grew
    // corpus-sized fails here long before it becomes a single-task
    // global sort at 100 TB.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => q +: allNodes(q.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      self ++ p.subqueries.flatMap(allNodes)
    }
    val observed = PlanAudit.unpartitionedWindowBounds.toSeq.sortBy(_._1).map {
      case (name, cap) =>
        val df = SparkEntry.queries(name)(spark, sf)
        df.write.format("noop").mode("overwrite").save()
        val windows = allNodes(df.queryExecution.executedPlan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        // queries that FENCE their post-window frame (localCheckpoint at
        // construction) execute the window before the final plan exists —
        // those windows are bounded by the same post-limit constants and
        // invisible here; the assertion covers every partition-less
        // window that executes in the live plan, which is exactly the
        // class that could silently grow corpus-sized
        windows.foreach { w =>
          val rows = w.metrics.get("numOutputRows").map(_.value)
          withClue(s"$name: window ${w.simpleStringWithNodeId()} " +
            s"measured rows=$rows vs documented ceiling $cap: ") {
            rows.foreach(_ should be <= cap)
          }
        }
        name -> windows.size
    }
    // a window moved behind a fence drops out of the loop above silently:
    // the live windows this run checked must not fall below today's count
    val live = observed.filter(_._2 > 0)
    info(s"live partition-less windows: ${live.map(_._2).sum} in " +
      s"${live.size} of ${observed.size} whitelisted queries: " +
      live.map { case (n, c) => s"$n=$c" }.mkString(", "))
    live.size should be >= LiveWindowQueriesFloor
    live.map(_._2).sum should be >= LiveWindowsFloor
  }

  test("no non-whitelisted query plans a stratum-keyed sort window") {
    // the sample_fixed_k finding generalized to the whole suite (round
    // 11): a rank/row_number/running-sum window partitioned by lang/
    // source/kind/... ALONE puts a whole stratum's corpus through ONE
    // task at 10^9 docs. The two-level machinery's offsets-table windows
    // (order col `_rb`/`shard`) are excluded by the counter itself; every
    // other stratum-alone sort window must carry a documented volume-
    // independent bound in PlanAudit.stratumWindowWhitelist.
    plans.foreach { case (name, p) =>
      if (!PlanAudit.stratumWindowWhitelist.contains(name))
        withClue(s"$name: ") {
          PlanAudit.stratumKeyedSortWindowCount(p) shouldBe 0
        }
    }
  }

  test("no non-whitelisted query plans a token-keyed window partition") {
    // the round-9 systemic finding as CI: a window partitioned on a
    // token/gram-like key over occurrence rows funnels a stopword's whole
    // global stream through ONE task (no map-side combine, not
    // AQE-splittable) — the scale-safe form is a keyed agg joined back;
    // only inverted_index's provably-bounded (<= NShards rows/term)
    // postings window is allowed
    plans.foreach { case (name, p) =>
      if (!PlanAudit.tokenWindowWhitelist.contains(name))
        withClue(s"$name: ") {
          PlanAudit.tokenKeyedWindowCount(p) shouldBe 0
        }
    }
  }

  test("no driver-facing query emits array/map-typed output columns") {
    // the driver's comparator sorts rows with pandas — array cells are
    // unhashable and crash it (CORRECTNESS_r06 inverted_index); library
    // callers get array forms via the *From builders, driver entries must
    // serialize (the embQuantizeFlat / invertedIndexFlat discipline)
    built.foreach { case (name, (_, schema)) =>
      val bad = schema.fields.filter(f =>
        f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType])
      withClue(s"$name: ${bad.map(_.name).mkString(",")} ") {
        bad shouldBe empty
      }
    }
  }

  test("q6 pushes date/quantity predicates into the parquet scan and prunes columns") {
    val p = plans("q6_filter")
    p should include("GreaterThanOrEqual(l_shipdate")
    p should include("LessThan(l_shipdate")
    p should include("LessThan(l_quantity")
    val cols = """ReadSchema: struct<([^>]*)>""".r
      .findFirstMatchIn(p).get.group(1).split(",").length
    cols shouldBe 4 // l_quantity, l_extendedprice, l_discount, l_shipdate
  }

  test("scans are pruned: single-table text/media queries read only needed columns") {
    // documents has (doc_id, text, lang, n_chars, ...); these operators must
    // not drag unused columns through the scan
    Seq("text_fingerprint" -> 2, "text_normalize" -> 2, "dedup_exact" -> 2,
      "media_meta" -> 3, "media_resize" -> 3, "dedup_report" -> 1,
      "ngram_counts" -> 2, "corpus_sample" -> 2, "emb_normalize" -> 2,
      "seq_len_buckets" -> 1, "stratified_sample" -> 2,
      "pack_chunks" -> 3, "media_dedup" -> 3, "corpus_shuffle" -> 1,
      "split_train" -> 1, "chunk_sliding" -> 2,
      "text_lang_id" -> 2).foreach { case (name, maxCols) =>
      val cols = """ReadSchema: struct<([^>]*)>""".r
        .findFirstMatchIn(plans(name)).get.group(1).split(",").length
      withClue(s"$name: ") { cols should be <= maxCols }
    }
  }

  test("exchange ceilings hold for the dedup/similarity/fingerprint family") {
    // the per-query budget lives in PlanAudit.exchangeCeilings — ONE source
    // shared with Bench's plan telemetry and the dev dump, so a regression
    // that re-introduces a fence shuffle (text_fingerprint), a regroup
    // inflation (emb_neardup), or an extra join shuffle fails here AND shows
    // in the BENCH_r{N} exchange counts
    PlanAudit.exchangeCeilings.foreach { case (name, ceiling) =>
      withClue(s"$name: ") { exchanges(plans(name)) should be <= ceiling }
    }
  }

  test("every driver query declares an exchange ceiling") {
    // completeness of the budget table: a new query cannot land without
    // pinning its plan shape (and a removed query cannot leave a stale row)
    val queries = SparkEntry.queries.keySet
    val budgeted = PlanAudit.exchangeCeilings.keySet
    withClue("queries without a ceiling: ") {
      (queries -- budgeted) shouldBe empty
    }
    withClue("stale ceiling rows: ") {
      (budgeted -- queries) shouldBe empty
    }
  }

  test("pack_chunks' running sum is sharded — no window partition spans a whole language") {
    // the 100 TB guard: the cumsum window must key by (lang, shard), never
    // lang alone — a lang-only window serializes the dominant language of a
    // web corpus into one task
    val p = plans("pack_chunks")
    val windowSpecs = """(?m)^Arguments: \[sum\([^\n]*windowspecdefinition\(([^,]+, [^,]+),""".r
      .findAllMatchIn(p).map(_.group(1)).toList
    windowSpecs should not be empty
    // the corpus-sized cumsum window partitions by both lang and shard
    atLeast(1, windowSpecs) should (include("lang") and include("shard"))
    // and NO sum-window in this plan partitions by a single corpus-keyed
    // column other than the tiny per-shard offset table's lang window
    val langOnly = """windowspecdefinition\(lang#\d+, doc_id#\d+ ASC""".r
      .findAllIn(p).size
    langOnly shouldBe 0
  }

  test("domain_cap and token_budget_sample shard their corpus-keyed windows") {
    // same 100 TB guard as pack_chunks: the per-source rank and per-lang
    // running sum must key by (stream, shard) — a stream-only window
    // serializes a dominant domain/language into one task
    val capPlan = plans("domain_cap")
    val sourceOnlyRank = """windowspecdefinition\(source#\d+, doc_id#\d+ ASC""".r
      .findAllIn(capPlan).size
    sourceOnlyRank shouldBe 0
    capPlan should include("row_number()")

    val budgetPlan = plans("token_budget_sample")
    val langOnlySum = """windowspecdefinition\(lang#\d+, skey#\d+ ASC""".r
      .findAllIn(budgetPlan).size
    langOnlySum shouldBe 0
  }

  test("the per-lang rank/ntile family plans no language-partitioned sort window") {
    // round-10 migration: calib_bins/perplexity_gate terciles, the
    // classifier_auc rank sums, and the label_noise/quality_fusion/
    // excess_loss_select top-ks all run through the two-level machinery
    // (rankPerKey/firstKPerKey) — a lang-ALONE sort window would put a
    // whole language's docs through one task at 10^9 docs. The only
    // lang-alone windows allowed are the tiny bucket-offsets prefix sums,
    // recognizable by their `_rb`/`shard` order column.
    val langWindow =
      """windowspecdefinition\(lang#\d+, (\w+)#\d+ (?:ASC|DESC)""".r
    Seq("calib_bins", "perplexity_gate", "classifier_auc", "label_noise",
      "quality_fusion", "excess_loss_select").foreach { name =>
      val orderCols = langWindow.findAllMatchIn(plans(name))
        .map(_.group(1)).toSet
      withClue(s"$name lang-window order cols $orderCols: ") {
        (orderCols -- Set("_rb", "shard")) shouldBe empty
      }
    }
  }

  test("hc_latency_event_time parses the tracer JSON exactly once per row") {
    // event_ts is materialized in its own project before latency math —
    // referencing the chain from both output columns would re-inline the
    // full to_json/get_json_object/to_timestamp pipeline per reference
    val opt = SparkEntry.queries("hc_latency_event_time")(spark, sf)
      .queryExecution.optimizedPlan.toString
    """get_json_object""".r.findAllIn(opt).size shouldBe 1
  }

  test("the event-time consumer parses and UTF-8-checks each payload once") {
    // HealthCheckConsumer.metrics evaluates the decode -> get_json_object
    // -> to_timestamp chain in one generator; a filter over a projected
    // `since` would re-inline the chain into the predicate (two parses,
    // three UTF-8 checks per record). Pinned in the executed plan of the
    // batch path and of a micro-batch of the streaming path.
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream,
      StreamingQueryWrapper}
    import org.apache.spark.sql.functions.lit
    import graft.model.{HealthCheckConfig, LatencyMode}
    import graft.streaming.HealthCheckConsumer
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = HealthCheckConfig(latencyMode = LatencyMode.EventTime)
    val now = lit(new Timestamp(1666000807000L))
    val arn = "arn:aws:kinesis:eu-west-1:1:stream/s"
    val rows = Seq(
      ("k", "1", """{"currentInstant":"2022-10-17T10:00:00Z"}""".getBytes,
        1666000801L, arn),
      ("k", "2", Array[Byte](0x7b, 0xff.toByte, 0x7d), 1666000802L, arn))
    val cols = Seq("partitionKey", "sequenceNumber", "data",
      "approximateArrivalTimestamp", "eventSourceARN")
    def counts(plan: String): (Int, Int) =
      ("get_json_object".r.findAllIn(plan).size,
        """isValid\(\)""".r.findAllIn(plan).size)

    // an RDD, not a local Seq: the optimizer would fold the whole chain
    // over a local relation into constant rows
    val batch = HealthCheckConsumer.metrics(
      spark.sparkContext.parallelize(rows, 1).toDF(cols: _*), cfg, now)
    batch.collect().map(_.getAs[Double]("value")).toSeq shouldBe Seq(7.0)
    withClue("batch: ") {
      counts(batch.queryExecution.executedPlan.toString) shouldBe ((1, 1))
    }

    val input = MemoryStream[(String, String, Array[Byte], Long, String)]
    val q = HealthCheckConsumer.metrics(input.toDF().toDF(cols: _*), cfg, now)
      .writeStream.format("memory").queryName("t_consumer_parse_once")
      .outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      spark.table("t_consumer_parse_once").collect()
        .map(_.getAs[Double]("value")).toSeq shouldBe Seq(7.0)
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.toString
      withClue("streaming: ") { counts(plan) shouldBe ((1, 1)) }
    } finally q.stop()
  }

  test("dedup_pipeline builds its representatives once, behind one fence") {
    // the representative frame (digest group -> shingle set) is a Fence:
    // every branch of the executed plan, the band explode and both verify
    // joins alike, reads that one checkpoint. A repartition(doc_id) stand-in
    // planned two scan -> digest-aggregate branches, each with its own
    // doc_id shuffle.
    import org.apache.spark.sql.execution.{GenerateExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL,
      ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object H extends AdaptiveSparkPlanHelper
    val df = graft.operators.TextPipeline.dedupPipelineFrom(spark,
      spark.read.parquet(s"$sf/documents.parquet"))
    df.collect() should not be empty
    val plan = df.queryExecution.executedPlan
    // checkpoint scans under `p`, through reused exchanges too
    def scans(p: SparkPlan): Seq[RDDScanExec] = H.collect(p) {
      case s: RDDScanExec => Seq(s)
      case r: ReusedExchangeExec => scans(r.child)
    }.flatten
    def generates(p: SparkPlan): Seq[GenerateExec] = H.collect(p) {
      case g: GenerateExec => Seq(g)
      case r: ReusedExchangeExec => generates(r.child)
    }.flatten

    withClue("one checkpoint: ") {
      scans(plan) should not be empty
      scans(plan).map(_.rdd.id).distinct should have size 1
    }
    withClue("the band explode reads it: ") {
      generates(plan) should not be empty
      generates(plan).foreach(g => scans(g) should not be empty)
    }
    val verifyJoins = H.collect(plan) {
      case j: BaseJoinExec if j.leftKeys.flatMap(_.references.map(_.name))
        .exists(Set("doc_a", "doc_b")) => j
    }
    withClue("both verify joins read it: ") {
      verifyJoins should have size 2
      verifyJoins.foreach { j =>
        val setSide = j.children.filter(c => generates(c).isEmpty)
        setSide should have size 1
        scans(setSide.head) should not be empty
      }
    }
    withClue("no digest aggregate: ") {
      H.collect(plan) {
        case a: BaseAggregateExec
          if a.aggregateExpressions.exists(_.toString.contains("min(text")) => a
      } shouldBe empty
      plan.toString should not include "md5("
    }
    withClue("no doc_id repartition: ") {
      H.collect(plan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_COL &&
          e.outputPartitioning.toString.contains("doc_id") => e
      } shouldBe empty
    }
  }

  test("decontaminate and text_tfidf bound their corpus text scans") {
    // decontaminate: single winnow subtree by construction (one scan total).
    // text_tfidf: tf and the df keyed-agg branch each plan the tokenize
    // subtree (round 10: df moved from a token-partitioned window — a
    // stopword funnel at 100 TB — to a keyed agg joined back; the two
    // branches' partial-agg stages canonicalize equal, so AQE stage reuse
    // executes the scan once at runtime), N reads doc_id only.
    def textScans(plan: String): Int =
      """ReadSchema: struct<([^>]*)>""".r.findAllMatchIn(plan)
        .count(_.group(1).contains("text"))
    withClue("decontaminate: ") {
      """(?m)^\(\d+\) Scan parquet""".r
        .findAllIn(plans("decontaminate")).size shouldBe 1
    }
    withClue("text_tfidf: ") { textScans(plans("text_tfidf")) should be <= 2 }
  }

  test("the flagship alarm replay keeps its shuffles keyed (no single-partition funnels)") {
    // hc_alarm_transitions: grid + per-minute max + two keyed window passes;
    // every exchange must be hash-partitioned by event_type (+ the final
    // orderBy range exchange) — a SinglePartition exchange would serialize
    // the whole table through one task at 100 TB
    val p = plans("hc_alarm_transitions")
    val single = """(?m)^Arguments: SinglePartition""".r.findAllIn(p).size
    single shouldBe 0
  }
}
