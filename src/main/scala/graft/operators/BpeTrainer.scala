package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** Byte-pair-encoding merge learning (Sennrich et al., ACL'16) — the
  * tokenizer-training step of an LLM data pipeline, Spark-first.
  *
  * Scale shape is the important part, and it is HYBRID. The corpus is
  * scanned EXACTLY ONCE (the distributed word-frequency aggregation);
  * what remains after that pass is the vocab table — words × frequencies,
  * orders of magnitude smaller than the corpus, independent of corpus
  * growth, and by construction the exact working set production BPE
  * trainers hold in core. So the merge loop chooses its engine by the
  * vocab's size, not the corpus's:
  *
  *  - vocab fits the driver (`localVocabLimit`, default 4M words): collect
  *    it ONCE and run the merge rounds locally with incremental pair
  *    counts and an ordered queue — zero scheduler round-trips per merge,
  *    which is what makes a production ~32k-merge train take seconds
  *    instead of ~100k Spark jobs;
  *  - genuinely huge vocab: fall back to the distributed loop
  *    ([[bpeMergesDistributedFrom]]), where each round is a vocab-sized
  *    pair-count job and the only driver traffic is the 1-row best pair.
  *
  * Both engines learn the IDENTICAL merge sequence (spec-pinned): the best
  * pair breaks ties by (count DESC, sym_a ASC, sym_b ASC), and merging
  * replaces left-to-right non-overlapping occurrences (the standard BPE
  * rule), so the result is unique for a given corpus regardless of
  * partitioning or engine.
  */
object BpeTrainer {

  /** Vocab-row ceiling under which the merge loop runs driver-local. 4M
    * (word, freq) pairs is well under a driver gigabyte; real-corpus
    * vocabs (even web-scale, after the frequency aggregation) sit far
    * below it.
    */
  val DefaultLocalVocabLimit: Long = 4L * 1024 * 1024

  /** A FROZEN merge table — the "released tokenizer" the token-accounting
    * operators replay (production budgets are denominated in a fixed
    * tokenizer's tokens, not one retrained per query). These are the first
    * 16 merges the trainer learns on the sf0.001 `documents` corpus;
    * provenance is spec-pinned (BpeTrainerSpec asserts this list equals
    * the trainer's output), so the list cannot drift from the trainer.
    */
  val FrozenMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"),
    ("s", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("m", "er"), ("a", "t"), ("a", "n"), ("c", "an"),
    ("s", "can"), ("c", "o"), ("co", "lu"), ("colu", "m"))

  /** Learn `nMerges` merges over the `documents` table; returns one row per
    * learned merge: (round, sym_a, sym_b, merged, pair_count).
    */
  def bpeMerges(spark: SparkSession, sfDir: String,
      nMerges: Int = 10): DataFrame =
    bpeMergesFrom(spark, Tables.documents(spark, sfDir), nMerges)

  /** [[bpeMerges]] over any frame with a `text` column — hybrid engine
    * selection (see object doc).
    */
  def bpeMergesFrom(spark: SparkSession, corpus: DataFrame,
      nMerges: Int = 10,
      localVocabLimit: Long = DefaultLocalVocabLimit): DataFrame = {
    import spark.implicits._
    val vocab = wordFreqs(corpus)
    // ONE corpus pass decides the engine AND feeds the local path: collect
    // at most limit+1 rows — under the limit means we hold the whole
    // vocab; over it falls back to the distributed loop (only that rare
    // huge-vocab path pays a second aggregation)
    // min BEFORE the +1 so a Long.MaxValue "no limit" cannot overflow to
    // limit(0); a limit at or above Int.MaxValue-1 clamps to the largest
    // collectable fetch (the caller asked for a driver-sized vocab)
    val fetch = (math.min(localVocabLimit, Int.MaxValue.toLong - 2) + 1).toInt
    val words = vocab.as[(String, Long)].limit(fetch).collect()
    if (words.length <= localVocabLimit) {
      localMerges(words, nMerges)
        .toDF("round", "sym_a", "sym_b", "merged", "pair_count")
        .withColumn("round", col("round").cast(LongType))
        .orderBy("round")
    } else {
      distributedLoop(spark, vocab, nMerges)
    }
  }

  /** The unrolled DuckDB replay of [[bpeMerges]] — generated for the same
    * round count so the engines cannot drift (the
    * [[Graph.pagerankOracleSql]] pattern for iterative algorithms). Each
    * round is three CTEs over the vocab state: adjacent pair counts
    * (freq-weighted), the best pair by (count DESC, a, b) — DuckDB's
    * default binary collation IS Spark's UTF8String byte order, so ties
    * break identically — and the rewrite, a `list_reduce` fold replaying
    * [[mergePair]]'s left-to-right non-overlapping rule (the accumulator
    * is a chr(1)-joined symbol string because DuckDB's reduce accumulates
    * in the element type; chr(1) cannot occur inside a symbol).
    */
  private[graft] def bpeOracleSql(nMerges: Int = 10): String = {
    val sep = "chr(1)"
    // every round CTE is AS MATERIALIZED: v{i-1} is referenced TWICE per
    // round (by p{i} and v{i}), and DuckDB 1.x inlines multiply-referenced
    // CTEs — unmaterialized, each round re-evaluates its whole ancestry,
    // a 2^rounds blowup (the graph_hits round-7 lesson). Measured at
    // sf0.001: n=4/6/8 rounds ran 0.09/0.23/2.12 s unmaterialized vs a
    // flat 0.05-0.07 s materialized, identical rows; the driver's sf0.01
    // oracle pass charged bpe_merges 39.4 s (44% of the whole budget).
    val rounds = (1 to nMerges).map { i =>
      s"""p$i AS MATERIALIZED (SELECT syms[j + 1] AS sym_a, syms[j + 2] AS sym_b, freq
  FROM v${i - 1}, unnest(range(len(syms) - 1)) AS u(j)
  WHERE len(syms) >= 2),
b$i AS MATERIALIZED (SELECT CAST($i AS BIGINT) AS round, sym_a, sym_b,
  sym_a || sym_b AS merged, CAST(sum(freq) AS BIGINT) AS pair_count
  FROM p$i GROUP BY sym_a, sym_b
  ORDER BY pair_count DESC, sym_a, sym_b LIMIT 1),
v$i AS MATERIALIZED (SELECT freq, string_split(list_reduce(syms, (acc, x) -> CASE
    WHEN (acc = b.sym_a OR ends_with(acc, $sep || b.sym_a)) AND x = b.sym_b
    THEN left(acc, len(acc) - len(b.sym_a)) || b.merged
    ELSE acc || $sep || x END), $sep) AS syms
  FROM v${i - 1}, b$i b)"""
    }.mkString(",\n")
    s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
vocab AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w
  WHERE len(word) > 0 GROUP BY word),
v0 AS MATERIALIZED (SELECT freq, string_split(word, '') AS syms FROM vocab),
$rounds
${(1 to nMerges).map(i => s"SELECT * FROM b$i").mkString("\nUNION ALL ")}
ORDER BY round"""
  }

  /** The distributed merge loop, engine-selectable for spec equivalence
    * and the huge-vocab fallback: per round, one vocab-sized pair-count
    * job + a 1-row best-pair collect, lineage kept linear with
    * [[Fence]] (the connectedComponents loop discipline).
    */
  private[graft] def bpeMergesDistributedFrom(spark: SparkSession,
      corpus: DataFrame, nMerges: Int = 10): DataFrame =
    distributedLoop(spark, wordFreqs(corpus), nMerges)

  /** THE one corpus pass: whitespace words -> frequencies. */
  private def wordFreqs(corpus: DataFrame): DataFrame = corpus
    .select(explode(tokens(col("text"))).as("word"))
    .filter(length(col("word")) > 0)
    .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  private def distributedLoop(spark: SparkSession, vocab: DataFrame,
      nMerges: Int): DataFrame = {
    import spark.implicits._
    // initial symbol sequences: one character per symbol
    var syms = vocab
      .select(col("freq"), split(col("word"), "").as("syms"))
      .transform(Fence)

    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= nMerges && !exhausted) {
      // adjacent symbol pairs weighted by word frequency; slice is cheap —
      // the frame is vocab-sized
      val pairs = syms
        .filter(size(col("syms")) >= 2)
        .select(col("freq"),
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))
        .select(col("freq"), explode(arrays_zip(col("l"), col("r"))).as("p"))
        .select(col("p.l").as("sym_a"), col("p.r").as("sym_b"), col("freq"))
        .groupBy(col("sym_a"), col("sym_b"))
        .agg(sum(col("freq")).as("pair_count"))
      // the ONLY driver traffic per round: the single best-pair row
      val best = pairs
        .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      best.headOption match {
        case None => exhausted = true
        case Some((a, b, cnt)) =>
          learned += ((round, a, b, a + b, cnt))
          // left-to-right non-overlapping replacement of (a, b) -> ab via a
          // sequential array fold — per word, vocab-sized stage
          syms = syms
            .select(col("freq"), mergePair(col("syms"), a, b).as("syms"))
            .transform(Fence)
          round += 1
      }
    }
    learned.toSeq
      .toDF("round", "sym_a", "sym_b", "merged", "pair_count")
      .withColumn("round", col("round").cast(LongType))
      .orderBy("round")
  }

  /** Driver-local merge rounds over a collected vocab — the subword-nmt
    * trainer shape: incremental pair-count maintenance (only words that
    * contained the merged pair are touched per round) plus an ordered set
    * keyed by (count DESC, sym_a, sym_b) so best-pair selection is O(1)
    * and each count change is O(log #pairs). The pair→word index may hold
    * stale entries (a word that no longer contains the pair); merging is
    * then a no-op and its count deltas cancel exactly, so staleness costs
    * time, never correctness.
    */
  private def localMerges(vocab: Array[(String, Long)],
      nMerges: Int): Seq[(Int, String, String, String, Long)] = {
    type Pair = (String, String)
    // same initial symbolization as the distributed split(word, ""):
    // one character per symbol
    val syms: Array[Array[String]] =
      vocab.map(_._1.split("").filter(_.nonEmpty))
    val freqs: Array[Long] = vocab.map(_._2)

    val counts = mutable.HashMap.empty[Pair, Long]
    val occurs = mutable.HashMap.empty[Pair, mutable.BitSet]
    // (count DESC, sym_a ASC, sym_b ASC) — identical to the distributed
    // orderBy, so the head of the set IS the round's best pair. Symbol
    // order must be Spark's BINARY (UTF-8 byte) order, not Java's UTF-16
    // code-unit order: the two disagree between supplementary characters
    // and chars in U+E000..U+FFFF, and a tie broken differently would
    // silently diverge the engines' merge sequences.
    implicit val bestFirst: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering[Long].reverse, utf8Ordering, utf8Ordering)
    val queue = mutable.TreeSet.empty[(Long, String, String)]

    def bump(p: Pair, delta: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old > 0) queue.remove((old, p._1, p._2))
      val now = old + delta
      if (now > 0) {
        counts(p) = now
        queue.add((now, p._1, p._2))
      } else counts.remove(p)
    }

    var i = 0
    while (i < syms.length) {
      val s = syms(i); val f = freqs(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        counts.update(p, counts.getOrElse(p, 0L) + f)
        occurs.getOrElseUpdate(p, mutable.BitSet.empty) += i
        j += 1
      }
      i += 1
    }
    counts.foreach { case ((a, b), c) => queue.add((c, a, b)) }

    val learned =
      mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var round = 1
    while (round <= nMerges && queue.nonEmpty) {
      val (cnt, a, b) = queue.head
      val merged = a + b
      learned += ((round, a, b, merged, cnt))
      val touched = occurs.remove((a, b)).getOrElse(mutable.BitSet.empty)
      touched.foreach { wi =>
        val s = syms(wi)
        if (containsPair(s, a, b)) {
          val f = freqs(wi)
          var j = 0
          while (j < s.length - 1) { bump((s(j), s(j + 1)), -f); j += 1 }
          val ns = mergeLocal(s, a, b, merged)
          j = 0
          while (j < ns.length - 1) {
            val p = (ns(j), ns(j + 1))
            bump(p, f)
            occurs.getOrElseUpdate(p, mutable.BitSet.empty) += wi
            j += 1
          }
          syms(wi) = ns
        }
      }
      round += 1
    }
    learned.toSeq
  }

  /** Unsigned lexicographic UTF-8 byte order — what Spark's UTF8String
    * comparison (hence the distributed loop's orderBy) uses.
    */
  private[operators] val utf8Ordering: Ordering[String] =
    (x: String, y: String) => {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(a.length, b.length)
      var res = 0
      while (res == 0 && i < n) {
        res = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
        i += 1
      }
      if (res != 0) res else java.lang.Integer.compare(a.length, b.length)
    }

  private[operators] def containsPair(s: Array[String], a: String,
      b: String): Boolean = {
    var j = 0
    while (j < s.length - 1) {
      if (s(j) == a && s(j + 1) == b) return true
      j += 1
    }
    false
  }

  /** Left-to-right non-overlapping (a, b) -> ab, the local twin of
    * [[mergePair]]'s fold (spec-pinned identical).
    */
  private[operators] def mergeLocal(s: Array[String], a: String, b: String,
      ab: String): Array[String] = {
    val out = new mutable.ArrayBuffer[String](s.length)
    var j = 0
    while (j < s.length) {
      if (j < s.length - 1 && s(j) == a && s(j + 1) == b) {
        out += ab; j += 2
      } else {
        out += s(j); j += 1
      }
    }
    out.toArray
  }

  /** Per-row BPE token count under a merge table, as a single Column — the
    * streaming-ingest shape: each arriving document prices itself with no
    * vocab join and no broadcast (the merge chain is a fixed expression).
    * Costs a re-encode per word OCCURRENCE; the batch accountants'
    * distinct-word broadcast join ([[bpeWordSymbols]]) amortizes that and
    * stays the right shape for corpus-wide passes.
    */
  def bpeTokenCount(text: Column,
      merges: Seq[(String, String)] = FrozenMerges): Column =
    aggregate(
      transform(
        filter(tokens(text), w => length(w) > 0),
        w => size(merges.foldLeft(split(w, "")) {
          case (arr, (a, b)) => mergePair(arr, a, b)
        })),
      lit(0L), (acc, n) => acc + n)

  /** One encoded word from [[bpeEncodeRanked]]. */
  final case class EncodedWord(word: String, syms: Seq[String],
      n_symbols: Long)

  /** The merge-count-scalable APPLY side — [[bpeEncode]]'s expression
    * chain replays merges as a fixed fold per merge, which is the right
    * shape for a frozen demo table but builds a 32k-deep expression tree
    * for a production tokenizer. This encoder is the standard rank-map
    * algorithm instead: the merge table broadcasts as pair→rank (one map,
    * any size), and each word iteratively merges its LOWEST-RANK adjacent
    * pair until none remains — `mapPartitions` over distinct words, so
    * the cost is vocab-sized and independent of merge count.
    *
    * This lowest-rank-first rule is what production tokenizers execute at
    * inference; it agrees with the trainer's sequential replay whenever no
    * later merge re-creates a string an earlier pair consumes (true of
    * trainer-learned tables in practice, and spec-pinned against
    * [[bpeEncode]] on the frozen table).
    */
  def bpeEncodeRanked(spark: SparkSession, corpus: DataFrame,
      merges: Seq[(String, String)]): org.apache.spark.sql.Dataset[EncodedWord] = {
    import spark.implicits._
    val mergeArr = merges.toArray
    val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val bc = spark.sparkContext.broadcast((mergeArr, ranks))
    corpus
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .as[String]
      .mapPartitions { words =>
        val (arr, r) = bc.value
        words.map { w =>
          val syms = encodeWordRanked(w, arr, r)
          EncodedWord(w, syms, syms.length.toLong)
        }
      }
      .orderBy("word")
  }

  /** Iteratively merge the lowest-rank adjacent pair (all its occurrences,
    * left-to-right non-overlapping) until no learned pair remains.
    */
  private def encodeWordRanked(word: String,
      mergeArr: Array[(String, String)],
      ranks: Map[(String, String), Int]): Seq[String] = {
    var syms = word.split("").filter(_.nonEmpty).toVector
    var done = false
    while (!done && syms.length >= 2) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val rk = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (rk < best) best = rk
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = mergeArr(best)
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else {
            out += syms(j); j += 1
          }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** Greedy left-to-right merge of adjacent (a, b) into a+b within a symbol
    * array: fold each symbol onto the accumulator, replacing the
    * accumulator's tail when it is `a` and the incoming symbol is `b`
    * (after a merge the new symbol participates as the left side of later
    * pairs in the SAME pass only via its merged form — the standard
    * non-overlapping rule).
    */
  private def mergePair(syms: Column, a: String, b: String): Column =
    mergePairTo(syms, a, b, a + b)

  /** [[mergePair]] with an explicit merged symbol — the seam the WordPiece
    * trainer shares (its merged symbol strips the continuation prefix off
    * the right side, so it is NOT `a + b`).
    */
  private[operators] def mergePairTo(syms: Column, a: String, b: String,
      merged: String): Column =
    aggregate(syms,
      array().cast(ArrayType(StringType)),
      (acc, x) =>
        when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(x))))

  /** Encode the corpus's words with a learned merge table — the apply side
    * (the trained tokenizer in action): replay the merges in order over
    * each word, emit (word, encoded symbols, n_symbols). The merge table is
    * rows-of-merges small, so the replay composes as a fixed expression
    * chain; the corpus encodes in one scan-parallel pass.
    */
  def bpeEncode(spark: SparkSession, corpus: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    bpeWordSymbols(corpus, merges).orderBy("word")

  /** [[bpeEncode]] without the presentation sort — the join-input shape
    * the token accountants consume (a broadcast build side has no use for
    * a global order; the orderBy would cost an exchange).
    */
  private[operators] def bpeWordSymbols(corpus: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val encoded = merges.foldLeft(split(col("word"), "").as("syms")) {
      case (arr, (a, b)) => mergePair(arr, a, b).as("syms")
    }
    corpus
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      // materialize the merge-chain ONCE per word (a second direct
      // reference would re-inline the whole fold chain — the documented
      // Catalyst pitfall)
      .select(col("word"), encoded)
      .select(col("word"), col("syms"),
        size(col("syms")).cast(LongType).as("n_symbols"))
  }
}
