package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis building blocks for the LLM-data-pipeline operators
  * (tokenization, shingling, MinHash, SimHash, winnowing fingerprints,
  * stopword profiles).
  *
  * Everything is a composition of built-in, codegen'd Spark SQL functions —
  * higher-order array functions (`transform`/`aggregate`/`filter`) instead of
  * UDFs — so the whole per-document feature extraction stays inside one
  * whole-stage-codegen'd projection and is trivially distributed: no state, no
  * driver round-trips, shuffles only where an operator later groups/joins.
  *
  * Hash choice: `md5` everywhere. It is deterministic, seedable by prefixing
  * (`md5(seed || ':' || s)`), identical across engines (the DuckDB oracle
  * computes the very same signatures), and lexicographic MIN over hex digests
  * is a valid uniform min-hash.
  */
object TextFunctions {

  /** Whitespace tokens, in document order. The generator emits single-space
    * separated words; `split` on a single space keeps oracle parity exact.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Word k-gram shingles in document order (duplicates preserved — the
    * winnowing path needs positional hashes).
    */
  def shingles(text: Column, k: Int = 3): Column = {
    val w = tokens(text)
    when(size(w) < k, array(concat_ws(" ", w)))
      .otherwise(transform(
        sequence(lit(0), size(w) - k),
        i => concat_ws(" ", slice(w, i + 1, lit(k)))))
  }

  /** Distinct shingle set — the Jaccard universe. */
  def shingleSet(text: Column, k: Int = 3): Column =
    array_distinct(shingles(text, k))

  /** Exact Jaccard similarity of two pre-distinct shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /** One min-hash: lexicographic MIN of seed-prefixed md5 digests over the
    * shingle set. A distinct seed per hash function gives the independent
    * permutations MinHash needs.
    */
  def minHash(shingleSet: Column, seed: Int): Column =
    array_min(transform(shingleSet, s => md5(concat(lit(s"$seed:"), s))))

  /** LSH band digests: the 16-hash signature split into `bands` contiguous
    * bands, each band hashed to one digest. Two documents are candidates iff
    * they agree on at least one full band — the standard S-curve: with
    * 4 bands x 4 rows, a 0.98-Jaccard pair collides w.p. ~1-(1-0.98^4)^4
    * while a 0.1-Jaccard pair w.p. ~4e-4. Banding is what keeps the join
    * bucketed (shuffle key = band digest) instead of all-pairs.
    *
    * Built directly from [[minHash]] calls — NOT by element_at over a
    * materialized signature array: Catalyst inlines array-construction
    * expressions into every consumer (no cross-lambda subexpression
    * elimination), so indexing a 16-element signature 16 times evaluates
    * 256 min-hashes per row (measured 10x slowdown). Here each min-hash
    * appears exactly once in the expression tree.
    */
  def lshBandDigests(shingleSet: Column, bands: Int = 4, rows: Int = 4): Column =
    array((0 until bands).map { b =>
      md5(concat_ws("|", (0 until rows).map(r =>
        minHash(shingleSet, b * rows + r)): _*))
    }: _*)

  /** 32-bit hash of one token: first 8 hex chars of its md5, parsed
    * big-endian. The oracle parses the same 8 chars digit-by-digit — same
    * value, different (engine-idiomatic) route.
    */
  def tokenHash32(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast(LongType)

  /** Per-token 32-bit hash array for SimHash. Materialize this as a real
    * column (behind an exchange) before calling [[simHashFromHashes]]: the
    * bit loop references its input 32 times, and Catalyst re-evaluates
    * inlined expressions per reference — md5 32x per token unless the array
    * is an attribute.
    */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), tokenHash32(_))

  /** 32-bit SimHash from a [[tokenHashes]] array (token multiplicity =
    * weight): document bit b = sign of the sum over tokens of +-1 votes from
    * bit b of the token hash. Pure integer/array expressions (nested
    * higher-order functions) — bit-identical in the DuckDB oracle, no UDFs.
    */
  def simHashFromHashes(hashes: Column): Column =
    graft.expressions.VectorExpressions.simHash32Native(hashes)

  /** HOF reference formulation of [[simHashFromHashes]] (semantics spec the
    * native expression is tested against).
    */
  def simHashFromHashesHof(hashes: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(31)), b => {
        val vote = aggregate(
          hashes, lit(0),
          (acc, h) =>
            acc + (call_function("shiftright", h, b).bitwiseAND(lit(1L))
              .cast(IntegerType) * 2 - 1))
        when(vote > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))
      }),
      lit(0L), (acc, x) => acc + x)

  /** SimHash of raw text — for tests/small inputs; operators should use the
    * two-stage [[tokenHashes]] -> [[simHashFromHashes]] split (see above).
    */
  def simHash(text: Column): Column = simHashFromHashes(tokenHashes(text))

  /** SimHash band values for Hamming-bucketed candidate generation:
    * `bands` x (32/bands)-bit slices of the 32-bit SimHash. By pigeonhole, a
    * pair within Hamming distance < `bands` agrees on >= 1 band, so joining
    * per band finds all such pairs without an all-pairs product.
    */
  def simHashBands(sim: Column, bands: Int = 4): Column = {
    val width = 32 / bands
    val mask = (1L << width) - 1
    array((0 until bands).map(b =>
      shiftright(sim, b * width).bitwiseAND(lit(mask))): _*)
  }

  /** Positional k-gram hashes for winnowing — the per-document input to the
    * relational sliding-window MIN in TextPipeline.textFingerprint. (The
    * window step is deliberately NOT an array expression: `slice` over an
    * inlined hash array re-evaluates every md5 per window position — O(n^2)
    * per document, measured 60x slower than the posexplode + window-function
    * plan.)
    */
  def shingleHashes(text: Column, k: Int = 3): Column =
    transform(shingles(text, k), s => md5(s))

  /** Language stopword profiles for the n-gram/stopword language-ID heuristic.
    * Deterministic, profile-driven; the oracle replicates the same profiles.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is", "not"),
    "es" -> Seq("el", "la", "los", "de", "y", "es"),
    "fr" -> Seq("le", "les", "des", "et", "est", "ne"),
    "zh" -> Seq("de5", "le5", "shi4", "bu4", "wo3", "ni3"))

  /** Count of tokens present in `profile`. */
  def stopwordHits(toks: Column, profile: Seq[String]): Column =
    size(filter(toks, t => t.isin(profile.map(x => x: Any): _*)))

  /** Predicted language: argmax of profile hit counts; ties break to the
    * first profile in [[LangProfiles]] order (alphabetical) — the oracle CASE
    * evaluates in the same order.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores = LangProfiles.map { case (lang, prof) =>
      lang -> stopwordHits(toks, prof)
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(lit(null).cast(StringType)) { case (acc, (lang, s)) =>
      when(acc.isNotNull, acc).when(s === best, lit(lang)).otherwise(acc)
    }
  }

  /** BPE-ish regex token count: letter runs, digit runs, or single other
    * non-space chars — a cheap stand-in for subword tokenization whose regex
    * is identical in Spark and DuckDB RE2.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
}
