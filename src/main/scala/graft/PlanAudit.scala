package graft

/** Dev harness: dumps scan pruning + exchange stats per SparkEntry query so
  * plan regressions (lost pushdown, interpreted hot paths, surprise
  * exchanges) show up as diffs. Not part of the driver contract — the
  * CI-enforced subset of these invariants lives in PlanAuditSpec.
  *
  * Parses the FORMATTED explain: the compact plan string truncates long
  * fields, so `PushedFilters` counts from it silently under-report.
  */
object PlanAudit {

  /** Count of window specs with an EMPTY partition clause in a FORMATTED
    * explain — `windowspecdefinition(<order> ASC ...)` with no leading
    * partition columns. A partition-less window over a corpus-sized input
    * is a single-task global sort at 100 TB; the only legitimate uses are
    * numbering a bounded post-limit frame (top-k reranks, <=#bins sketch
    * estimates). Shared by the CI gate (PlanAuditSpec) and the dev dump.
    */
  def unpartitionedWindowCount(plan: String): Int =
    """windowspecdefinition\([^,()]+ (?:ASC|DESC)""".r.findAllIn(plan).size

  /** Count of window specs PARTITIONED on a token/gram-like column — the
    * skew-unbounded funnel pattern of round 9's systemic finding: a window
    * partitioned by a token-ish key over exploded occurrence rows sends
    * every occurrence of that key to ONE task (WindowExec has no partial
    * aggregation and AQE cannot split a window partition), so at 100 TB a
    * stopword's partition processes that token's entire global stream.
    * The scale-safe form is a map-side-combined `groupBy(key).count()`
    * joined back (AQE-skew-splittable) — the lm_kneser_ney continuation-
    * count discipline, now applied to the whole lm/quality family.
    *
    * Parses partition columns out of `windowspecdefinition(part..., ord
    * ASC/DESC..., specifiedwindowframe(...))`: everything before the first
    * ordered arg (or the frame spec when there is no ordering).
    */
  def tokenKeyedWindowCount(plan: String): Int = {
    val marker = "windowspecdefinition("
    var idx = plan.indexOf(marker)
    var n = 0
    while (idx >= 0) {
      val start = idx + marker.length
      val rest = plan.substring(start, math.min(plan.length, start + 600))
      val cutAsc = Seq(rest.indexOf(" ASC"), rest.indexOf(" DESC"))
        .filter(_ >= 0).sorted.headOption.getOrElse(-1)
      val cutFrame = rest.indexOf("specifiedwindowframe")
      val partitionCols: Seq[String] =
        if (cutFrame >= 0 && (cutAsc < 0 || cutFrame < cutAsc))
          rest.substring(0, cutFrame).split(",").toSeq
        else if (cutAsc >= 0)
          // the last comma-separated arg before " ASC"/" DESC" is the
          // first ORDER column, not a partition column
          rest.substring(0, cutAsc).split(",").toSeq.dropRight(1)
        else Seq.empty
      if (partitionCols.exists(c => tokenishRef.findFirstIn(c).isDefined))
        n += 1
      idx = plan.indexOf(marker, start)
    }
    n
  }

  /** A plan attribute reference whose NAME marks an exploded-occurrence
    * key: raw tokens, n-gram legs, grams/shingles/fingerprints, terms,
    * tokenizer words/pieces. Anchored so `doc_id#3` inside a nested
    * expression cannot match.
    */
  private val tokenishRef =
    """(?:^|[\s(,])(?:token|nxt|w1|w2|w3|gram|shingle|fingerprint|term|piece|word)#\d+""".r

  /** Count of SORT windows partitioned by a single stratum-key column
    * alone (lang/source/kind/label/split/event_type) — the sample_fixed_k
    * class of round 10's last perf-weak finding: `row_number()/rank()/
    * running-sum OVER (PARTITION BY lang ORDER BY ...)` on a doc-sized
    * frame funnels the dominant language's ENTIRE document set through
    * one window task at 10⁹ docs (WindowExec has no partial aggregation
    * and AQE cannot split a window partition). The scale-safe form is the
    * two-level machinery ([[graft.operators.TextPipeline]]'s rankPerKey /
    * firstKPerKey / sharded cumsum), whose only key-alone windows run
    * over the TINY per-(key, bucket) offsets table and are recognizable
    * by their `_rb`/`shard` leading order column — those are excluded
    * here, so this counts exactly the corpus-sized offenders.
    */
  def stratumKeyedSortWindowCount(plan: String): Int = {
    val marker = "windowspecdefinition("
    var idx = plan.indexOf(marker)
    var n = 0
    while (idx >= 0) {
      val start = idx + marker.length
      val rest = plan.substring(start, math.min(plan.length, start + 600))
      val cutAsc = Seq(rest.indexOf(" ASC"), rest.indexOf(" DESC"))
        .filter(_ >= 0).sorted.headOption.getOrElse(-1)
      if (cutAsc >= 0) { // sort window (an order clause exists)
        val head = rest.substring(0, cutAsc).split(",").toSeq
        val partitionCols = head.dropRight(1).map(_.trim)
        val firstOrderCol = head.last.trim
        val boundedOffsetsOrder =
          firstOrderCol.startsWith("_rb#") || firstOrderCol.startsWith("shard#") ||
            firstOrderCol.startsWith("_sh#") // Preference.withNext's shard-firsts lead
        if (partitionCols.size == 1 &&
          stratumRef.findFirstIn(partitionCols.head).isDefined &&
          !boundedOffsetsOrder)
          n += 1
      }
      idx = plan.indexOf(marker, start)
    }
    n
  }

  /** A plan attribute reference whose NAME marks a low-cardinality
    * stratum key — the partition keys whose single-key windows serialize
    * a whole stratum into one task. Anchored like [[tokenishRef]].
    */
  private val stratumRef =
    """^(?:lang|source|kind|label|split|event_type)#\d+""".r

  /** Shuffle-exchange count from a FORMATTED explain — detail-section
    * headers like `(5) Exchange`, one per real exchange node. ReusedExchange
    * deliberately not counted (it IS the optimization). The single
    * definition shared by the CI gate (PlanAuditSpec), the dev dump below,
    * and Bench's per-query plan telemetry.
    */
  def exchangeCount(plan: String): Int =
    "(?m)^\\(\\d+\\) Exchange".r.findAllIn(plan).size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8, "graft-planaudit")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.specs.sortBy(_.name).foreach { q =>
      val plan = q.run(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val scans = "ReadSchema: struct<([^>]*)".r.findAllMatchIn(plan)
        .map(_.group(1).split(",").length).toList
      val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(plan)
        .flatMap(m => m.group(1).split(",").map(_.trim).filter(_.nonEmpty))
        .size
      val exchanges = exchangeCount(plan)
      val reused = "(?m)^\\(\\d+\\) ReusedExchange".r.findAllIn(plan).size
      val bad = Seq(
        if (plan.contains("CartesianProduct")) "CARTESIAN" else "",
        if (plan.contains("BroadcastNestedLoopJoin") && !q.bnlj) "BNLJ" else "")
        .filter(_.nonEmpty)
      val upw = unpartitionedWindowCount(plan)
      val skw = stratumKeyedSortWindowCount(plan)
      println(f"${q.name}%-22s scanCols=${scans.mkString("/")}%-14s pushed=$pushed exch=$exchanges reused=$reused upw=$upw skw=$skw ${bad.mkString(",")}")
    }
    spark.stop()
  }
}
