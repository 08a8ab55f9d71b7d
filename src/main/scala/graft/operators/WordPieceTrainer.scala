package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** WordPiece tokenizer training (Schuster & Nakajima, ICASSP'12; the BERT
  * tokenizer) — the THIRD tokenizer family next to [[BpeTrainer]] (BPE)
  * and [[UnigramTrainer]] (unigram-LM), completing the set a production
  * LLM data pipeline chooses among.
  *
  * WordPiece differs from BPE in exactly two places, and this trainer
  * shares everything else with [[BpeTrainer]]'s hybrid engine:
  *
  *  - '''Selection rule''': instead of the most FREQUENT adjacent pair,
  *    each round merges the pair maximizing the likelihood ratio
  *    `count(ab) / (count(a) * count(b))` — the merge whose fusion most
  *    increases a unigram LM's corpus likelihood. Counts are exact
  *    freq-weighted BIGINTs; the score is ONE double multiply + ONE
  *    divide over exact integer casts, written with the identical IEEE
  *    op sequence in the generated DuckDB oracle, so the ordering (score
  *    DESC, then sym_a, sym_b in UTF-8 binary order) agrees bit-for-bit
  *    across engines.
  *  - '''Continuation marking''': word-internal symbols carry the `##`
  *    prefix (word → `[c0, ##c1, ##c2, …]`), and a merge of `(a, ##b)`
  *    releases `a##b`-without-the-inner-marks, i.e. `a + b drop "##"` —
  *    so released pieces read as real subwords and inference can
  *    distinguish word-initial from word-internal matches. The corpus
  *    contains no literal `#` (asserted by spec), so the marker is
  *    unambiguous.
  *
  * Scale shape — identical to [[BpeTrainer]], and that is the point: the
  * corpus is scanned EXACTLY ONCE (word-frequency aggregation); the merge
  * loop runs driver-local when the vocab fits ([[BpeTrainer.DefaultLocalVocabLimit]]),
  * else falls back to a distributed loop whose per-round work is two
  * vocab-sized aggregations (pair counts + unigram counts) and whose only
  * driver traffic is the 1-row best pair. Unlike BPE, the likelihood
  * score depends on GLOBAL unigram counts, so a merge can re-rank every
  * pair sharing a symbol with it — the local engine therefore keeps
  * counts incrementally but re-scans the pair table per round for the
  * argmax (O(#pairs) per round, still zero scheduler round-trips), rather
  * than maintaining BPE's ordered queue.
  *
  * Inference is NOT merge replay: released WordPiece tokenizers segment
  * by greedy longest-match-first against the piece vocabulary
  * ([[greedyEncode]]), `##`-forms after the first match; a position with
  * no matching piece makes the word unsegmentable (the `[UNK]` path,
  * mapped to the accountants' documented no-row contract). The frozen
  * released vocabulary [[FrozenPieces]] is spec-pinned to the trainer's
  * output on the sf0.001 corpus, and the DuckDB replay
  * ([[frozenGreedyCtes]]) rides the same VALUES literal so constant and
  * oracle cannot drift.
  *
  * Reference scope note: the reference repo
  * (aws-samples/amazon-kinesis-data-streams-health-check) has no
  * tokenizer surface; this family is part of the engine's LLM-pipeline
  * extension mandate.
  */
object WordPieceTrainer {

  /** BERT's word-internal continuation marker. */
  val ContinuationPrefix = "##"

  /** The FROZEN released piece vocabulary — the "shipped tokenizer" the
    * token accountants replay, = the sf0.001 alphabet (word-initial chars
    * plain + continuation chars `##`-marked) plus the merged pieces of
    * the first [[FrozenMergeCount]] likelihood merges. Provenance is
    * spec-pinned: WordPieceTrainerSpec asserts this list equals
    * [[releasedPieces]] on the sf0.001 corpus, so it cannot drift from
    * the trainer.
    */
  val FrozenMergeCount = 16

  val FrozenPieces: Seq[String] = Seq(
    "##a", "##b", "##bl", "##c", "##ch", "##d", "##e", "##g",
    "##h", "##i", "##in", "##k", "##l", "##m", "##n", "##o",
    "##p", "##r", "##s", "##sh", "##t", "##u", "##w", "##y",
    "a", "ag", "agg", "b", "bi", "big", "c", "d",
    "f", "fi", "g", "h", "j", "k", "l", "li",
    "lin", "m", "o", "p", "q", "qu", "r", "s",
    "t", "th", "v", "w", "wi", "win", "wind")

  /** Learn `nMerges` likelihood merges over the `documents` table; one row
    * per merge: (round, sym_a, sym_b, merged, pair_count, cnt_a, cnt_b) —
    * an all-BIGINT/VARCHAR surface (the score is derivable, never
    * emitted; the driver-surface discipline).
    */
  def wordpieceMerges(spark: SparkSession, sfDir: String,
      nMerges: Int = 12): DataFrame =
    wordpieceMergesFrom(spark, Tables.documents(spark, sfDir), nMerges)

  /** [[wordpieceMerges]] over any frame with a `text` column — hybrid
    * engine selection (see object doc).
    */
  def wordpieceMergesFrom(spark: SparkSession, corpus: DataFrame,
      nMerges: Int = 12,
      localVocabLimit: Long = BpeTrainer.DefaultLocalVocabLimit): DataFrame = {
    import spark.implicits._
    val vocab = wordFreqs(corpus)
    val fetch = (math.min(localVocabLimit, Int.MaxValue.toLong - 2) + 1).toInt
    val words = vocab.as[(String, Long)].limit(fetch).collect()
    if (words.length <= localVocabLimit) {
      spark.createDataFrame(localMerges(words, nMerges).map {
        case (r, a, b, m, pc, ca, cb) => MergeRow(r.toLong, a, b, m, pc, ca, cb)
      }).orderBy("round")
    } else {
      distributedLoop(spark, vocab, nMerges)
    }
  }

  final case class MergeRow(round: Long, sym_a: String, sym_b: String,
      merged: String, pair_count: Long, cnt_a: Long, cnt_b: Long)

  /** The distributed loop, engine-selectable for spec equivalence and the
    * huge-vocab fallback.
    */
  private[graft] def wordpieceMergesDistributedFrom(spark: SparkSession,
      corpus: DataFrame, nMerges: Int = 12): DataFrame =
    distributedLoop(spark, wordFreqs(corpus), nMerges)

  /** THE one corpus pass: whitespace words -> frequencies. */
  private def wordFreqs(corpus: DataFrame): DataFrame = corpus
    .select(explode(tokens(col("text"))).as("word"))
    .filter(length(col("word")) > 0)
    .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** word → `[c0, ##c1, ##c2, …]` as a Column over `word`. */
  private def initialSymsCol(word: Column): Column =
    transform(split(word, ""),
      (c, i) => when(i === 0, c).otherwise(concat(lit(ContinuationPrefix), c)))

  private def initialSyms(word: String): Array[String] = {
    val cs = word.split("").filter(_.nonEmpty)
    var j = 1
    while (j < cs.length) { cs(j) = ContinuationPrefix + cs(j); j += 1 }
    cs
  }

  private def stripCont(s: String): String =
    if (s.startsWith(ContinuationPrefix)) s.substring(2) else s

  /** The likelihood score — ONE multiply + ONE divide over exact-integer
    * double casts, the IEEE op sequence the oracle SQL mirrors verbatim.
    */
  private def score(pc: Long, ca: Long, cb: Long): Double =
    pc.toDouble / (ca.toDouble * cb.toDouble)

  private def distributedLoop(spark: SparkSession, vocab: DataFrame,
      nMerges: Int): DataFrame = {
    import spark.implicits._
    var syms = vocab
      .select(col("freq"), initialSymsCol(col("word")).as("syms"))
      .transform(Fence)
    val learned = mutable.ArrayBuffer.empty[MergeRow]
    var round = 1
    var exhausted = false
    while (round <= nMerges && !exhausted) {
      // two vocab-sized aggs per round: global unigram counts (ALL words,
      // including single-symbol ones) and adjacent pair counts
      val uni = syms
        .select(explode(col("syms")).as("sym"), col("freq"))
        .groupBy(col("sym")).agg(sum(col("freq")).as("cnt"))
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
        .join(broadcast(uni.select(col("sym").as("sym_a"),
          col("cnt").as("cnt_a"))), "sym_a")
        .join(broadcast(uni.select(col("sym").as("sym_b"),
          col("cnt").as("cnt_b"))), "sym_b")
        .orderBy(
          (col("pair_count").cast(DoubleType) /
            (col("cnt_a").cast(DoubleType) * col("cnt_b").cast(DoubleType)))
            .desc,
          col("sym_a"), col("sym_b"))
        .limit(1)
        .select(col("sym_a"), col("sym_b"), col("pair_count"),
          col("cnt_a"), col("cnt_b"))
        .as[(String, String, Long, Long, Long)]
        .collect()
      best.headOption match {
        case None => exhausted = true
        case Some((a, b, pc, ca, cb)) =>
          val merged = a + stripCont(b)
          learned += MergeRow(round.toLong, a, b, merged, pc, ca, cb)
          syms = syms
            .select(col("freq"),
              BpeTrainer.mergePairTo(col("syms"), a, b, merged).as("syms"))
            .transform(Fence)
          round += 1
      }
    }
    spark.createDataFrame(learned.toSeq).orderBy("round")
  }

  /** Driver-local merge rounds — incremental pair + unigram counts (only
    * touched words re-counted, the [[BpeTrainer.localMerges]] staleness
    * discipline: a stale occurs entry no-ops and its deltas cancel), but
    * argmax by per-round scan of the pair table, because a WordPiece
    * merge re-ranks every pair sharing a symbol with it (the score's
    * denominator is GLOBAL) — an ordered queue would need mass
    * invalidation anyway.
    */
  private def localMerges(vocab: Array[(String, Long)],
      nMerges: Int): Seq[(Int, String, String, String, Long, Long, Long)] = {
    type Pair = (String, String)
    val syms: Array[Array[String]] = vocab.map(v => initialSyms(v._1))
    val freqs: Array[Long] = vocab.map(_._2)

    val pairCounts = mutable.HashMap.empty[Pair, Long]
    val uniCounts = mutable.HashMap.empty[String, Long]
    val occurs = mutable.HashMap.empty[Pair, mutable.BitSet]

    def bumpPair(p: Pair, d: Long): Unit = {
      val now = pairCounts.getOrElse(p, 0L) + d
      if (now > 0) pairCounts(p) = now else pairCounts.remove(p)
    }
    def bumpUni(s: String, d: Long): Unit = {
      val now = uniCounts.getOrElse(s, 0L) + d
      if (now > 0) uniCounts(s) = now else uniCounts.remove(s)
    }

    var i = 0
    while (i < syms.length) {
      val s = syms(i); val f = freqs(i)
      var j = 0
      while (j < s.length) {
        bumpUni(s(j), f)
        if (j < s.length - 1) {
          bumpPair((s(j), s(j + 1)), f)
          occurs.getOrElseUpdate((s(j), s(j + 1)), mutable.BitSet.empty) += i
        }
        j += 1
      }
      i += 1
    }

    val ord = BpeTrainer.utf8Ordering
    val learned =
      mutable.ArrayBuffer.empty[(Int, String, String, String, Long, Long, Long)]
    var round = 1
    while (round <= nMerges && pairCounts.nonEmpty) {
      // argmax by (score DESC, sym_a ASC, sym_b ASC) — score compared as
      // the IEEE double both engines compute; ties (bit-equal doubles)
      // fall to UTF-8 binary symbol order, Spark's and DuckDB's shared
      // collation
      var bestA: String = null; var bestB: String = null
      var bestS = -1.0
      pairCounts.foreach { case ((a, b), pc) =>
        val s = score(pc, uniCounts(a), uniCounts(b))
        if (s > bestS || (s == bestS &&
            (ord.compare(a, bestA) < 0 ||
              (a == bestA && ord.compare(b, bestB) < 0)))) {
          bestS = s; bestA = a; bestB = b
        }
      }
      val a = bestA; val b = bestB
      val pc = pairCounts((a, b))
      val ca = uniCounts(a); val cb = uniCounts(b)
      val merged = a + stripCont(b)
      learned += ((round, a, b, merged, pc, ca, cb))
      val touched = occurs.remove((a, b)).getOrElse(mutable.BitSet.empty)
      touched.foreach { wi =>
        val s = syms(wi)
        if (BpeTrainer.containsPair(s, a, b)) {
          val f = freqs(wi)
          var j = 0
          while (j < s.length) {
            bumpUni(s(j), -f)
            if (j < s.length - 1) bumpPair((s(j), s(j + 1)), -f)
            j += 1
          }
          val ns = BpeTrainer.mergeLocal(s, a, b, merged)
          j = 0
          while (j < ns.length) {
            bumpUni(ns(j), f)
            if (j < ns.length - 1) {
              val p = (ns(j), ns(j + 1))
              bumpPair(p, f)
              occurs.getOrElseUpdate(p, mutable.BitSet.empty) += wi
            }
            j += 1
          }
          syms(wi) = ns
        }
      }
      round += 1
    }
    learned.toSeq
  }

  /** The unrolled DuckDB replay of [[wordpieceMerges]] — the
    * [[BpeTrainer.bpeOracleSql]] pattern with the likelihood argmax: per
    * round, a MATERIALIZED unigram-count CTE (referenced twice, once per
    * pair side), the pair counts, the best row by the identical IEEE
    * score expression, and the same chr(1)-fold rewrite appending
    * `b.merged` (which strips the right side's `##`).
    */
  private[graft] def wordpieceOracleSql(nMerges: Int = 12): String = {
    val sep = "chr(1)"
    val rounds = (1 to nMerges).map { i =>
      s"""u$i AS MATERIALIZED (SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT unnest(syms) AS sym, freq FROM v${i - 1}) GROUP BY sym),
p$i AS (SELECT syms[j + 1] AS sym_a, syms[j + 2] AS sym_b, freq
  FROM v${i - 1}, unnest(range(len(syms) - 1)) AS u(j)
  WHERE len(syms) >= 2),
c$i AS (SELECT sym_a, sym_b, CAST(sum(freq) AS BIGINT) AS pair_count
  FROM p$i GROUP BY sym_a, sym_b),
b$i AS MATERIALIZED (SELECT CAST($i AS BIGINT) AS round, c.sym_a, c.sym_b,
  c.sym_a || CASE WHEN starts_with(c.sym_b, '##') THEN c.sym_b[3:]
    ELSE c.sym_b END AS merged,
  c.pair_count, ca.cnt AS cnt_a, cb.cnt AS cnt_b
  FROM c$i c JOIN u$i ca ON ca.sym = c.sym_a JOIN u$i cb ON cb.sym = c.sym_b
  ORDER BY CAST(c.pair_count AS DOUBLE) /
    (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)) DESC,
    c.sym_a, c.sym_b LIMIT 1),
v$i AS MATERIALIZED (SELECT freq, string_split(list_reduce(syms, (acc, x) -> CASE
    WHEN (acc = b.sym_a OR ends_with(acc, $sep || b.sym_a)) AND x = b.sym_b
    THEN left(acc, len(acc) - len(b.sym_a)) || b.merged
    ELSE acc || $sep || x END), $sep) AS syms
  FROM v${i - 1}, b$i b)"""
    }.mkString(",\n")
    s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
vocab AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w
  WHERE len(word) > 0 GROUP BY word),
v0 AS MATERIALIZED (SELECT freq, list_transform(range(1, len(word) + 1),
    i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
      ELSE '##' || substr(word, CAST(i AS INTEGER), 1) END) AS syms
  FROM vocab),
$rounds
${(1 to nMerges).map(i => s"SELECT * FROM b$i").mkString("\nUNION ALL ")}
ORDER BY round"""
  }

  /** The released vocabulary a train-then-freeze run ships: the corpus
    * alphabet in both forms it appears (word-initial plain + continuation
    * `##`-marked — exactly the symbols of the initial segmentation, so
    * every in-alphabet word stays segmentable) plus the merged pieces of
    * `nMerges` rounds, UTF-8-sorted. [[FrozenPieces]] is this list on the
    * sf0.001 corpus, spec-pinned.
    */
  private[graft] def releasedPieces(spark: SparkSession, corpus: DataFrame,
      nMerges: Int = FrozenMergeCount,
      localVocabLimit: Long = BpeTrainer.DefaultLocalVocabLimit)
      : Seq[String] = {
    import spark.implicits._
    // the BpeTrainer hybrid guard: collect at most limit+1 vocab rows —
    // under the limit we hold the whole vocab driver-side; over it, the
    // merges come from the distributed loop (nMerges rows) and the
    // alphabet from a distinct-symbol aggregation (charset-sized) — the
    // two remaining fetches are bounded by construction, so no corpus
    // vocabulary size can blow the driver
    val vocab = wordFreqs(corpus)
    val fetch = (math.min(localVocabLimit, Int.MaxValue.toLong - 2) + 1).toInt
    val words = vocab.as[(String, Long)].limit(fetch).collect()
    val (alphabet, merged): (Seq[String], Seq[String]) =
      if (words.length <= localVocabLimit) {
        val a = mutable.Set.empty[String]
        words.foreach { case (w, _) => initialSyms(w).foreach(a += _) }
        (a.toSeq, localMerges(words, nMerges).map(_._4).toSeq)
      } else {
        val a = vocab
          .select(explode(initialSymsCol(col("word"))).as("sym"))
          .distinct().as[String].collect().toSeq
        val m = distributedLoop(spark, vocab, nMerges)
          .select(col("merged")).as[String].collect().toSeq
        (a, m)
      }
    (alphabet.toSet ++ merged).toSeq.sorted(BpeTrainer.utf8Ordering)
  }

  /** Greedy longest-match-first segmentation — WordPiece inference. At
    * each position try the longest piece first (`##`-form after the first
    * match); a position with no match makes the whole word unsegmentable
    * (empty result — the `[UNK]` path).
    */
  private[graft] def greedyEncode(word: String,
      pieces: Set[String]): Seq[String] = {
    // longest piece CORE length bounds the probe window
    val maxCore = if (pieces.isEmpty) 0
      else pieces.iterator.map(stripCont(_).length).max
    val out = mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < word.length) {
      var l = math.min(maxCore, word.length - pos)
      var hit: String = null
      while (l >= 1 && hit == null) {
        val core = word.substring(pos, pos + l)
        val cand = if (pos == 0) core else ContinuationPrefix + core
        if (pieces.contains(cand)) hit = cand
        l -= 1
      }
      if (hit == null) return Seq.empty
      out += hit
      pos += stripCont(hit).length
    }
    out.toSeq
  }

  /** Distinct words priced ONCE under the frozen tokenizer — the
    * [[BpeTrainer.bpeWordSymbols]] shape for the WordPiece family.
    * Unsegmentable words produce NO row (the inner-join contract).
    */
  private[graft] def wordpieceWordSymbols(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pieces = FrozenPieces.toSet
    corpus
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .as[String]
      .map(w => (w, greedyEncode(w, pieces).length.toLong))
      .filter(_._2 > 0L)
      .toDF("word", "n_symbols")
  }

  /** Per-language token budget denominated in FROZEN-WordPiece tokens —
    * the third family's accountant (the
    * [[UnigramTrainer.tokenBudgetSampleUnigram]] twin): distinct words
    * price once, a broadcast lookup join counts each occurrence, the
    * shared shard-pruned two-level running sum cuts each language at
    * `budget` tokens.
    */
  def tokenBudgetSampleWordpiece(spark: SparkSession, sfDir: String,
      budget: Long = 2000): DataFrame = {
    val corpus = Tables.documents(spark, sfDir)
    val wordSyms = wordpieceWordSymbols(corpus)
    val counts = corpus
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(wordSyms), "word")
      .groupBy("doc_id", "lang")
      .agg(sum(col("n_symbols")).as("n_tokens"))
    TextPipeline.tokenBudgetCore(counts, budget)
  }

  /** DuckDB replay of the FROZEN greedy tokenizer: the piece list rides
    * as a VALUES literal generated from [[FrozenPieces]]; segmentation is
    * a recursive CTE whose step computes the longest matching piece at
    * the current position as a scalar `list_max` over the (bounded) piece
    * list — greedy is single-path, so each (word, pos) state expands to
    * at most one successor and recursion depth is the word length.
    * Terminal rows (`pos = len+1`) yield `wpsym(word, n_symbols)`; stuck
    * words never reach a terminal row and drop out (the inner-join
    * contract).
    */
  private[graft] def frozenGreedyCtes: String = {
    val values = FrozenPieces.map(p => s"('$p')").mkString(", ")
    s"""wpl AS MATERIALIZED (SELECT list(piece ORDER BY piece) AS pl
  FROM (VALUES $values) t(piece)),
wpw AS MATERIALIZED (SELECT DISTINCT word FROM
    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE len(word) > 0),
wps AS (SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n
  FROM wpw
  UNION ALL
  SELECT word, pos + step, n + 1 FROM (
    SELECT r.word, r.pos, r.n, CAST(list_max(list_transform(l.pl, p -> CASE
      WHEN r.pos = 1 AND NOT starts_with(p, '##')
        AND substr(r.word, 1, len(p)) = p THEN len(p)
      WHEN r.pos > 1 AND starts_with(p, '##') AND len(p) > 2
        AND substr(r.word, CAST(r.pos AS INTEGER), len(p) - 2) = p[3:]
        THEN len(p) - 2
      ELSE 0 END)) AS BIGINT) AS step
    FROM wps r, wpl l WHERE r.pos <= len(r.word))
  WHERE step > 0),
wpsym AS MATERIALIZED (SELECT word, n AS n_symbols FROM wps
  WHERE pos = len(word) + 1)"""
  }
}
