package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** Unigram-LM subword tokenizer training (Kudo, ACL'18 — the
  * SentencePiece unigram model), Spark-first: the second trainable
  * tokenizer family beside [[BpeTrainer]]'s BPE.
  *
  * The implemented variant is Kudo's fixed-round skeleton made fully
  * deterministic so a SQL oracle can replay it hash-exactly:
  *
  *  - seed vocab = every single character plus the top
  *    [[SeedMultiPieces]] substrings of length 2..[[MaxPieceLen]] by
  *    frequency-weighted occurrence count (ties by piece, UTF-8 order);
  *  - each round, the E-step assigns every word its VITERBI (max
  *    log-likelihood) segmentation under the current piece scores and
  *    counts freq-weighted piece usage (hard EM — Kudo's E-step computes
  *    expected counts over all segmentations; the argmax variant keeps
  *    every comparison exact), and the M-step re-estimates scores from
  *    usage with add-one smoothing;
  *  - pruning drops the bottom fifth of MULTI-char pieces per round by
  *    (usage, piece) — single characters are never pruned, so every word
  *    always segments (Kudo prunes by likelihood loss; usage-rank is the
  *    deterministic proxy);
  *  - scores are integer MICRO-LOGS: lp = floor(ln(p)·10⁶ + 0.5) as a
  *    BIGINT, so path scores are exact integer sums — no float
  *    accumulation anywhere, and path ties break on the chr(1)-joined
  *    segmentation string (binary order both engines).
  *
  * Scale shape (100 TB): the corpus is scanned ONCE (the word-frequency
  * aggregation, fenced); every EM round is a vocab-sized distributed job
  * — the words frame never leaves the cluster, the per-word Viterbi is a
  * pure function mapped over it, and the only driver traffic per round
  * is the piece table itself (≤ alphabet + [[SeedMultiPieces]] rows).
  * This is a BETTER distribution story than BPE's (whose merge loop is
  * inherently sequential in vocab state): unigram's E-step is
  * embarrassingly parallel over words, so rounds scale with the word
  * count at fixed driver cost.
  */
object UnigramTrainer {

  /** Longest candidate piece (SentencePiece's max_sentencepiece_length
    * idea, small here because the synthetic corpus words are short).
    */
  val MaxPieceLen = 6

  /** Multi-character seed pieces kept from the substring census. */
  val SeedMultiPieces = 128

  /** Fixed EM+prune rounds — fixed so the oracle unrolls statically
    * (the [[Graph.pagerankOracleSql]] / [[BpeTrainer.bpeOracleSql]]
    * discipline for iterative algorithms).
    */
  val EmRounds = 4

  private val Sep = ''

  /** The FROZEN released tokenizer — (piece, micro-log score) as trained
    * on the sf0.001 `documents` corpus, the unigram counterpart of
    * [[BpeTrainer.FrozenMerges]] (production budgets are denominated in a
    * RELEASED tokenizer's tokens, not one retrained per query).
    * Provenance is spec-pinned: UnigramTrainerSpec asserts this list
    * equals the trainer's own released output, so it cannot drift.
    */
  val FrozenVocab: Seq[(String, Long)] = Seq(
    ("a", -2792622L), ("agg", -4137177L), ("al", -4196558L),
    ("ash", -4169129L), ("at", -3498417L), ("b", -3095353L),
    ("c", -3502299L), ("column", -4111309L), ("d", -4166967L),
    ("e", -3084686L), ("er", -4175643L), ("f", -3485223L),
    ("g", -4205496L), ("group", -4157294L), ("h", -3080669L),
    ("i", -3497864L), ("j", -10997841L), ("join", -4155158L),
    ("k", -4183298L), ("key", -4145598L), ("l", -2798102L),
    ("line", -4144542L), ("m", -3492349L), ("mer", -4206619L),
    ("merge", -4156225L), ("n", -10997841L), ("o", -4206619L),
    ("order", -4114378L), ("ow", -3508988L), ("p", -10997841L),
    ("par", -4183298L), ("part", -4126749L), ("q", -10997841L),
    ("query", -4157294L), ("r", -3510107L), ("s", -3085784L),
    ("scan", -4105199L), ("sort", -4115403L), ("st", -3088719L),
    ("t", -3486863L), ("ta", -4191011L), ("u", -4206619L),
    ("up", -7596643L), ("v", -10997841L), ("value", -4140327L),
    ("vector", -4160508L), ("w", -10997841L), ("window", -4113354L),
    ("y", -10997841L))

  /** The trained vocab over `documents`: one row per RELEASED piece —
    * every single character (the segmentability guarantee) plus each
    * multi piece with final-E-step usage > 0 — as
    * (piece, n_chars, cnt, lp_micro), where cnt is the freq-weighted
    * usage in the final re-estimation's Viterbi segmentations and
    * lp_micro the final micro-log score floor(ln(p)·10⁶+0.5)
    * (restricted to the released set, not renormalized).
    */
  def unigramVocab(spark: SparkSession, sfDir: String): DataFrame =
    unigramVocabFrom(spark, Tables.documents(spark, sfDir))

  def unigramVocabFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val t = trainOn(spark, corpus)
    import spark.implicits._
    t.released.toSeq.sortBy(_._1)(BpeTrainer.utf8Ordering)
      .map { case (piece, cnt) => (piece, piece.length.toLong, cnt,
        t.lpFinal(piece)) }
      .toDF("piece", "n_chars", "cnt", "lp_micro")
      .orderBy("piece")
  }

  /** Fertility comparison of the freshly-trained unigram tokenizer
    * against the FROZEN BPE ([[BpeTrainer.FrozenMerges]]) — per language,
    * total tokens and tokens-per-word under each, the "which tokenizer is
    * fairer to language X" audit row ([[TextPipeline.bpeVocabCoverage]]'s
    * companion across tokenizer families). Counting shape: distinct
    * words encode once per tokenizer, broadcast lookup joins price each
    * occurrence, #langs rows out.
    */
  def unigramCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.documents(spark, sfDir)
    val t = trainOn(spark, corpus)
    import spark.implicits._
    val lpF = t.lpFinal
    val uniSyms = t.words.as[(String, Long)]
      .map { case (w, _) => (w, viterbi(w, lpF).length.toLong) }
      .toDF("word", "uni_sym")
    val bpeSyms = BpeTrainer
      .bpeWordSymbols(corpus, BpeTrainer.FrozenMerges)
      .select(col("word"), col("n_symbols").as("bpe_sym"))
    corpus
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(uniSyms), "word")
      .join(broadcast(bpeSyms), "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("uni_sym")).as("uni_tokens"),
        sum(col("bpe_sym")).as("bpe_tokens"))
      .select(col("lang"), col("n_words"), col("uni_tokens"),
        col("bpe_tokens"),
        round(col("uni_tokens").cast(DoubleType) / col("n_words"), 4)
          .as("uni_tokens_per_word"),
        round(col("bpe_tokens").cast(DoubleType) / col("n_words"), 4)
          .as("bpe_tokens_per_word"))
      .orderBy("lang")
  }

  /** Distinct words priced ONCE under the frozen tokenizer — the
    * [[BpeTrainer.bpeWordSymbols]] shape for the unigram family: one
    * corpus pass to distinct words, the per-word Viterbi as a mapped pure
    * function, (word, n_symbols) out for a broadcast lookup join. Words
    * the frozen vocab cannot segment (an unseen character) produce NO
    * row — the BPE accountants' documented inner-join contract.
    */
  private[graft] def unigramWordSymbols(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val lp = FrozenVocab.toMap
    corpus
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .as[String]
      .map(w => (w, viterbi(w, lp).length.toLong))
      .filter(_._2 > 0L)
      .toDF("word", "n_symbols")
  }

  /** Per-language token budget denominated in FROZEN-unigram tokens —
    * the [[TextPipeline.tokenBudgetSampleBpe]] twin for the second
    * tokenizer family: distinct words price once, a broadcast lookup
    * join counts each occurrence, and the shared shard-pruned two-level
    * running sum cuts each language at `budget` released-tokenizer
    * tokens.
    */
  def tokenBudgetSampleUnigram(spark: SparkSession, sfDir: String,
      budget: Long = 2000): DataFrame = {
    val corpus = Tables.documents(spark, sfDir)
    val wordSyms = unigramWordSymbols(corpus)
    val counts = corpus
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(wordSyms), "word")
      .groupBy("doc_id", "lang")
      .agg(sum(col("n_symbols")).as("n_tokens"))
    TextPipeline.tokenBudgetCore(counts, budget)
  }

  /** DuckDB replay of the FROZEN tokenizer's word pricing — the frozen
    * vocab rides as a VALUES literal generated from [[FrozenVocab]] (so
    * oracle and constant cannot drift), segmentation is the same
    * recursive best-path CTE, and `unsym` is the word → n_symbols lookup
    * the accountants join. Unsegmentable words have no terminal path row
    * and drop out — the inner-join contract.
    */
  private[graft] def frozenReplayCtes: String = {
    val values = FrozenVocab
      .map { case (p, lp) => s"('$p', ${lp}::BIGINT)" }.mkString(", ")
    s"""fv AS MATERIALIZED (SELECT piece, lp FROM (VALUES $values) t(piece, lp)),
uw AS MATERIALIZED (SELECT DISTINCT word FROM
    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE len(word) > 0),
um AS MATERIALIZED (SELECT v.word, CAST(u.i AS BIGINT) AS pos, len(l.piece) AS plen, l.piece, l.lp
  FROM uw v, unnest(range(len(v.word))) u(i), fv l
  WHERE substr(v.word, CAST(u.i AS INTEGER) + 1, len(l.piece)) = l.piece),
up AS (SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS score, '' AS segs FROM uw
  UNION ALL
  SELECT p.word, p.pos + m.plen, p.score + m.lp,
    CASE WHEN p.segs = '' THEN m.piece ELSE p.segs || chr(1) || m.piece END
  FROM up p JOIN um m ON m.word = p.word AND m.pos = p.pos),
ubest AS MATERIALIZED (SELECT word, segs FROM (SELECT word, segs,
    row_number() OVER (PARTITION BY word ORDER BY score DESC, segs) AS rn
  FROM up WHERE pos = len(word)) WHERE rn = 1),
unsym AS MATERIALIZED (SELECT word,
  CAST(len(string_split(segs, chr(1))) AS BIGINT) AS n_symbols FROM ubest)"""
  }

  /** Training result: the fenced distinct-words frame (word, freq), the
    * released vocab with final usage counts, and its micro-log scores.
    */
  private[graft] final case class Trained(words: DataFrame,
      released: Map[String, Long], lpFinal: Map[String, Long])

  private[graft] def trainOn(spark: SparkSession,
      corpus: DataFrame): Trained = {
    import spark.implicits._
    // THE one corpus pass: whitespace words -> frequencies, fenced so
    // every EM round reads a vocab-sized leaf, never the corpus
    val words = Fence(corpus
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    // substring census (vocab-sized): freq-weighted occurrence counts of
    // every piece up to MaxPieceLen
    val maxLen = MaxPieceLen
    val subCounts = words.as[(String, Long)]
      .flatMap { case (w, f) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(maxLen, w.length - i)
        } yield (w.substring(i, i + l), f)
      }
      .toDF("piece", "freq")
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val chars = subCounts.filter(length(col("piece")) === 1)
      .as[(String, Long)].collect()
    // top-N multi pieces, ties by piece — Spark's string sort IS the
    // UTF-8 binary order DuckDB's default collation uses
    val seed = subCounts.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(SeedMultiPieces)
      .as[(String, Long)].collect()
    var vocab: Map[String, Long] = (chars ++ seed).toMap

    def eStep(lp: Map[String, Long]): Map[String, Long] =
      words.as[(String, Long)]
        .flatMap { case (w, f) => viterbi(w, lp).map(p => (p, f)) }
        .toDF("piece", "freq")
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .as[(String, Long)].collect().toMap

    for (_ <- 1 to EmRounds) {
      val usage = eStep(mkLp(vocab))
      val (multis, singles) = vocab.keys.toSeq.partition(_.length >= 2)
      // keep the top 4/5 of multi pieces by (usage DESC, piece ASC);
      // singles always survive (segmentability invariant)
      val keep = multis.length * 4 / 5
      val keptMultis = multis
        .map(p => (p, usage.getOrElse(p, 0L)))
        .sortBy { case (p, c) => (-c, p) }(
          Ordering.Tuple2(Ordering.Long, BpeTrainer.utf8Ordering))
        .take(keep)
      vocab = (singles.map(p => (p, usage.getOrElse(p, 0L))) ++ keptMultis)
        .toMap
    }
    // FINAL re-estimation (the Kudo'18 finalize step): one more E-step
    // on the post-prune vocab, so usage reflects words whose whole-word
    // piece was pruned in the LAST round re-segmenting via survivors
    // (without it, such a word's chars all carry stale zero usage and
    // the release filter orphans the word — hit at EmRounds=4). Release
    // then keeps ALL single characters (the SentencePiece
    // segmentability guarantee: every alphabet word stays segmentable)
    // plus multis with final usage > 0. Scores are the final
    // estimation's, RESTRICTED rather than renormalized: renormalizing
    // over the released subset shifts scores by -len(path)·Δln(tot),
    // which can flip best paths; restriction reproduces the final
    // E-step's segmentations exactly (dropped pieces appeared in no
    // best path), making `cnt` the true usage under `lpFinal`
    // (the spec's accounting invariant).
    val lpAll = mkLp(vocab)
    val usageF = eStep(lpAll)
    val released = vocab.keys
      .map(p => p -> usageF.getOrElse(p, 0L))
      .filter { case (p, c) => p.length == 1 || c > 0 }
      .toMap
    Trained(words, released,
      lpAll.filter { case (p, _) => released.contains(p) })
  }

  /** Add-one-smoothed micro-log scores: floor(ln((c+1)/(T+|V|))·10⁶+0.5).
    * The double op sequence — one division, one ln, one multiply-add,
    * one floor — is written identically in the oracle SQL, so the BIGINT
    * scores agree across engines (modulo a sub-ulp ln difference landing
    * exactly on a 0.5 boundary, probability ~1e-10 per piece).
    */
  private def mkLp(vocab: Map[String, Long]): Map[String, Long] = {
    val tot = vocab.valuesIterator.sum + vocab.size
    vocab.map { case (p, c) =>
      p -> math.floor(math.log((c + 1.0) / tot.toDouble) * 1000000d + 0.5d)
        .toLong
    }
  }

  /** The Viterbi segmentation: max integer score sum, ties by the
    * chr(1)-joined segmentation string in UTF-8 binary order (DuckDB's
    * `ORDER BY score DESC, segs`). DP over prefix boundaries is exact
    * for this ordering: candidate strings for a boundary all spell the
    * same characters, so none is a prefix of another and lexicographic
    * comparison is stable under appending a common suffix.
    */
  private[graft] def viterbi(word: String,
      lp: Map[String, Long]): List[String] = {
    val n = word.length
    val NoPath = Long.MinValue / 4
    val score = Array.fill(n + 1)(NoPath)
    val str = new Array[String](n + 1)
    val path = Array.fill[List[String]](n + 1)(Nil)
    score(0) = 0L
    str(0) = ""
    var i = 1
    while (i <= n) {
      var l = 1
      val lMax = math.min(MaxPieceLen, i)
      while (l <= lMax) {
        if (score(i - l) != NoPath) {
          val piece = word.substring(i - l, i)
          lp.get(piece) match {
            case Some(s) =>
              val cand = score(i - l) + s
              if (cand > score(i)) {
                score(i) = cand
                str(i) =
                  if (i - l == 0) piece else str(i - l) + Sep + piece
                path(i) = piece :: path(i - l)
              } else if (cand == score(i)) {
                val candStr =
                  if (i - l == 0) piece else str(i - l) + Sep + piece
                if (BpeTrainer.utf8Ordering.compare(candStr, str(i)) < 0) {
                  str(i) = candStr
                  path(i) = piece :: path(i - l)
                }
              }
            case None =>
          }
        }
        l += 1
      }
      i += 1
    }
    path(n).reverse
  }

  /** The seed + EM round CTE chain shared by both generated oracles —
    * every multiply-referenced CTE is MATERIALIZED (the hitsOracleSql
    * discipline: DuckDB inlines repeated CTE references, and an
    * iterative chain re-evaluated per reference grows exponentially in
    * the round count). `p{r}` path CTEs are RECURSIVE — they enumerate
    * every segmentation of every distinct word, and the per-word best by
    * (score DESC, segs) is exactly the Spark side's tie-broken Viterbi.
    */
  private def vocabCtes: String = {
    val rounds = (1 to EmRounds).map { r =>
      s"""t$r AS MATERIALIZED (SELECT CAST(sum(cnt) + count(*) AS DOUBLE) AS tot FROM v${r - 1}),
lp$r AS MATERIALIZED (SELECT piece, CAST(floor(ln((cnt + 1.0) / tot) * 1000000 + 0.5) AS BIGINT) AS lp
  FROM v${r - 1}, t$r),
m$r AS MATERIALIZED (SELECT v.word, CAST(u.i AS BIGINT) AS pos, len(l.piece) AS plen, l.piece, l.lp
  FROM vw v, unnest(range(len(v.word))) u(i), lp$r l
  WHERE substr(v.word, CAST(u.i AS INTEGER) + 1, len(l.piece)) = l.piece),
p$r AS (SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS score, '' AS segs FROM vw
  UNION ALL
  SELECT p.word, p.pos + m.plen, p.score + m.lp,
    CASE WHEN p.segs = '' THEN m.piece ELSE p.segs || chr(1) || m.piece END
  FROM p$r p JOIN m$r m ON m.word = p.word AND m.pos = p.pos),
best$r AS MATERIALIZED (SELECT word, segs FROM (SELECT word, segs,
    row_number() OVER (PARTITION BY word ORDER BY score DESC, segs) AS rn
  FROM p$r WHERE pos = len(word)) WHERE rn = 1),
u$r AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT b.word, unnest(string_split(b.segs, chr(1))) AS piece FROM best$r b) s
  JOIN vw ON s.word = vw.word GROUP BY piece),
v$r AS MATERIALIZED (SELECT piece, cnt FROM (
    SELECT c.piece, CAST(coalesce(u.cnt, 0) AS BIGINT) AS cnt
    FROM (SELECT piece FROM v${r - 1} WHERE len(piece) = 1) c
    LEFT JOIN u$r u USING (piece))
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT q.piece, CAST(coalesce(u.cnt, 0) AS BIGINT) AS cnt,
      row_number() OVER (ORDER BY coalesce(u.cnt, 0) DESC, q.piece) AS rk,
      count(*) OVER () AS nm
    FROM (SELECT piece FROM v${r - 1} WHERE len(piece) >= 2) q
    LEFT JOIN u$r u USING (piece)) WHERE rk <= nm * 4 // 5)"""
    }.mkString(",\n")
    s"""vw AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM
    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE len(word) > 0 GROUP BY word),
sub AS MATERIALIZED (SELECT substr(word, CAST(i AS INTEGER) + 1, CAST(l AS INTEGER)) AS piece,
    CAST(sum(freq) AS BIGINT) AS cnt
  FROM vw, unnest(range(len(word))) u(i), unnest(range(1, ${MaxPieceLen + 1})) v(l)
  WHERE i + l <= len(word) GROUP BY 1),
v0 AS MATERIALIZED (SELECT piece, cnt FROM sub WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (SELECT piece, cnt FROM sub WHERE len(piece) >= 2
    ORDER BY cnt DESC, piece LIMIT $SeedMultiPieces)),
$rounds,
tS AS MATERIALIZED (SELECT CAST(sum(cnt) + count(*) AS DOUBLE) AS tot FROM v$EmRounds),
lpS AS MATERIALIZED (SELECT piece, CAST(floor(ln((cnt + 1.0) / tot) * 1000000 + 0.5) AS BIGINT) AS lp
  FROM v$EmRounds, tS),
mS AS MATERIALIZED (SELECT v.word, CAST(u.i AS BIGINT) AS pos, len(l.piece) AS plen, l.piece, l.lp
  FROM vw v, unnest(range(len(v.word))) u(i), lpS l
  WHERE substr(v.word, CAST(u.i AS INTEGER) + 1, len(l.piece)) = l.piece),
pS AS (SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS score, '' AS segs FROM vw
  UNION ALL
  SELECT p.word, p.pos + m.plen, p.score + m.lp,
    CASE WHEN p.segs = '' THEN m.piece ELSE p.segs || chr(1) || m.piece END
  FROM pS p JOIN mS m ON m.word = p.word AND m.pos = p.pos),
bestS AS MATERIALIZED (SELECT word, segs FROM (SELECT word, segs,
    row_number() OVER (PARTITION BY word ORDER BY score DESC, segs) AS rn
  FROM pS WHERE pos = len(word)) WHERE rn = 1),
uS AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT b.word, unnest(string_split(b.segs, chr(1))) AS piece FROM bestS b) s
  JOIN vw ON s.word = vw.word GROUP BY piece),
vstar AS MATERIALIZED (SELECT c.piece, CAST(coalesce(u.cnt, 0) AS BIGINT) AS cnt
  FROM v$EmRounds c LEFT JOIN uS u USING (piece)
  WHERE len(c.piece) = 1 OR coalesce(u.cnt, 0) > 0),
lpF AS MATERIALIZED (SELECT l.piece, l.lp FROM lpS l JOIN vstar USING (piece))"""
  }

  /** The generated DuckDB replay of [[unigramVocab]]. */
  private[graft] def unigramVocabOracleSql: String =
    s"""WITH RECURSIVE
$vocabCtes
SELECT v.piece, CAST(len(v.piece) AS BIGINT) AS n_chars, v.cnt,
  l.lp AS lp_micro
FROM vstar v JOIN lpF l ON v.piece = l.piece ORDER BY v.piece"""

  /** The generated DuckDB replay of [[unigramCoverage]] — the released
    * (vstar, lpF) tokenizer segments every word once more (one final
    * recursive pass), the frozen-BPE side rides the caller-supplied
    * replay CTEs (`nsym`), and both fertilities aggregate per language.
    */
  private[graft] def unigramCoverageOracleSql(bpeReplayCtes: String)
      : String =
    s"""WITH RECURSIVE
$bpeReplayCtes,
$vocabCtes,
mF AS MATERIALIZED (SELECT v.word, CAST(u.i AS BIGINT) AS pos, len(l.piece) AS plen, l.piece, l.lp
  FROM vw v, unnest(range(len(v.word))) u(i), lpF l
  WHERE substr(v.word, CAST(u.i AS INTEGER) + 1, len(l.piece)) = l.piece),
pF AS (SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS score, '' AS segs FROM vw
  UNION ALL
  SELECT p.word, p.pos + m.plen, p.score + m.lp,
    CASE WHEN p.segs = '' THEN m.piece ELSE p.segs || chr(1) || m.piece END
  FROM pF p JOIN mF m ON m.word = p.word AND m.pos = p.pos),
bestF AS MATERIALIZED (SELECT word, segs FROM (SELECT word, segs,
    row_number() OVER (PARTITION BY word ORDER BY score DESC, segs) AS rn
  FROM pF WHERE pos = len(word)) WHERE rn = 1),
nsp AS MATERIALIZED (SELECT word,
  CAST(len(string_split(segs, chr(1))) AS BIGINT) AS uni_sym FROM bestF),
tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
SELECT t.lang, CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(u.uni_sym) AS BIGINT) AS uni_tokens,
  CAST(sum(e.n_sym) AS BIGINT) AS bpe_tokens,
  round(CAST(sum(u.uni_sym) AS DOUBLE) / count(*), 4) AS uni_tokens_per_word,
  round(CAST(sum(e.n_sym) AS DOUBLE) / count(*), 4) AS bpe_tokens_per_word
FROM tok t JOIN nsp u USING (word) JOIN nsym e USING (word)
WHERE length(t.word) > 0 GROUP BY t.lang ORDER BY t.lang"""
}
