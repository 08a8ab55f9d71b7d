package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Preference-data preparation — the RLHF-side family: derive pairwise
  * comparisons deterministically from the corpus, then fit
  * Bradley-Terry strengths per domain with Hunter's MM algorithm
  * (Hunter, Annals of Statistics 2004) — the model behind Elo-style
  * arena leaderboards and reward-model data curation.
  *
  * Comparisons: within each language, consecutive documents (doc_id
  * order) from DIFFERENT sources form one match; the higher
  * [[TextPipeline.qualityCol]] score wins (compared as the proven
  * floor(q·10⁴ + 0.5) BIGINT; ties go to the lower doc_id, i.e. the
  * current row). This is a synthetic-but-deterministic pairing — the
  * operator's contract is the RATING computation; swap in human
  * comparisons by feeding (winner, loser) rows at the same seam.
  *
  * Determinism discipline (the [[MixtureOptimizer]] rules): win/game
  * counts are exact integer aggregates; ratings live in micro BIGINTs;
  * each MM round quantizes every n_ij/(p_i+p_j) term to an integer
  * BEFORE the per-player sum (order-invariant), applies ONE IEEE double
  * division for the update and one for the mean-10⁶ renormalization, and
  * floor-quantizes back. A player with no games keeps its current
  * rating; a player with games and no wins goes to 0 (the true MM
  * fixpoint direction).
  *
  * Scale shape: the derivation is one quality scan + the sharded
  * adjacent-pairing of [[withNext]] ((lang, doc_id-range-shard) windows
  * with a tiny boundary fix-up — never a lang-alone sort window) + a
  * #source²-bounded aggregate; the MM loop runs on the collected
  * pair-count matrix (bounded: domains², the DoReMi-loop precedent) for
  * [[Rounds]] rounds, unrolled in the oracle.
  */
object Preference {

  /** MM rounds — fixed so the oracle unrolls statically. */
  val Rounds = 5

  def btRatings(spark: SparkSession, sfDir: String): DataFrame =
    btRatingsFrom(spark, Tables.documents(spark, sfDir))

  /** [[btRatings]] over any (doc_id, lang, source, text) frame — the
    * seam a caller with REAL (winner, loser) comparisons re-enters at
    * `cmp` level by substituting its own pair derivation.
    */
  /** The synthetic quality-derived `(winner, loser)` comparison stream the
    * rating family shares ([[btRatingsFrom]], [[prefCyclesFrom]]): adjacent
    * documents in per-lang doc_id order play a match, the higher quantized
    * heuristic quality wins (ties to the earlier doc). A caller with REAL
    * preference pairs substitutes its own frame with the same two columns.
    */
  private[graft] def qualityComparisons(corpus: DataFrame): DataFrame = {
    val qd = corpus.select(
      col("doc_id"), col("lang"), col("source"),
      floor(TextPipeline.qualityCol * 10000d + 0.5d).cast("long").as("qs"))
    withNext(qd)
      .filter(col("doc_b").isNotNull && col("source") =!= col("source_b"))
      .select(
        when(col("qs") >= col("qs_b"), col("source"))
          .otherwise(col("source_b")).as("winner"),
        when(col("qs") >= col("qs_b"), col("source_b"))
          .otherwise(col("source")).as("loser"))
  }

  /** Adjacent (current, next) document pairing per language WITHOUT a
    * lang-alone sort window (which would put a whole language's docs
    * through one task at 10⁹ docs — the round-9 systemic finding, here
    * applied to the `lead` pairing): doc_id range-shards (monotone in
    * the pairing order), a within-(lang, shard) lead, and each shard's
    * LAST row fixed up with the NEXT occupied shard's first row from the
    * tiny shard table (a #shards-sized lead window). The final row per
    * language keeps NULL next columns, exactly like the plain lead.
    * `shardWidth` is the parallelism knob; the shard-firsts table is
    * corpus/shardWidth rows.
    */
  private def withNext(qd: DataFrame, shardWidth: Long = 4096L)
      : DataFrame = {
    val base = qd.withColumn("_sh", expr(s"doc_id div $shardWidth"))
    val ws = Window.partitionBy("lang", "_sh").orderBy("doc_id")
    val inShard = base
      .withColumn("doc_b", lead("doc_id", 1).over(ws))
      .withColumn("source_b", lead("source", 1).over(ws))
      .withColumn("qs_b", lead("qs", 1).over(ws))
    val firsts = base.groupBy(col("lang"), col("_sh"))
      .agg(min(struct(col("doc_id"), col("source"), col("qs"))).as("f"))
    val nextFirst = firsts
      .withColumn("nf",
        lead("f", 1).over(Window.partitionBy("lang").orderBy("_sh")))
      .select(col("lang").as("_nl"), col("_sh").as("_ns"),
        col("nf.doc_id").as("n_doc"), col("nf.source").as("n_source"),
        col("nf.qs").as("n_qs"))
    inShard
      .join(broadcast(nextFirst),
        col("lang") === col("_nl") && col("_sh") === col("_ns"), "left")
      .select(col("lang"), col("doc_id"), col("source"), col("qs"),
        coalesce(col("doc_b"), col("n_doc")).as("doc_b"),
        coalesce(col("source_b"), col("n_source")).as("source_b"),
        coalesce(col("qs_b"), col("n_qs")).as("qs_b"))
  }

  def btRatingsFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    import spark.implicits._
    val qd = corpus.select(
      col("doc_id"), col("lang"), col("source"),
      floor(TextPipeline.qualityCol * 10000d + 0.5d).cast("long").as("qs"))
    val cmp = qualityComparisons(corpus)
    val wij = cmp.groupBy("winner", "loser")
      .agg(count(lit(1)).as("w"))
      .as[(String, String, Long)]
      .collect() // bounded: <= #domains^2 directed pair counts
    val players = qd.select(col("source")).distinct()
      .orderBy("source").as[String].collect() // bounded: one per domain

    val winsOver: Map[(String, String), Long] =
      wij.map { case (i, j, w) => (i, j) -> w }.toMap
    val nij: Map[(String, String), Long] =
      (wij.map { case (i, j, _) => (i, j) } ++
        wij.map { case (i, j, _) => (j, i) }).distinct.map { case (i, j) =>
        (i, j) ->
          (winsOver.getOrElse((i, j), 0L) + winsOver.getOrElse((j, i), 0L))
      }.toMap
    val wTot = players.map(i =>
      i -> winsOver.collect { case ((a, _), w) if a == i => w }.sum).toMap
    val nTot = players.map(i =>
      i -> nij.collect { case ((a, _), n) if a == i => n }.sum).toMap

    val nd = players.length.toLong
    var p = players.map(_ -> 1000000L).toMap
    var r = 0
    while (r < Rounds) {
      val praw = players.map { i =>
        // the max(.,1) guard keeps a (degenerate) all-zero pair finite
        val terms = nij.collect { case ((a, j), n) if a == i =>
          math.floor(n.toDouble * 1000000000000.0 /
            math.max(p(i) + p(j), 1L).toDouble + 0.5).toLong
        }
        i -> (if (terms.isEmpty) p(i)
        else math.floor(wTot(i).toDouble * 1000000000000.0 /
          terms.sum.toDouble + 0.5).toLong)
      }.toMap
      val sp = praw.values.sum
      p = praw.map { case (i, pi) =>
        i -> math.floor(pi.toDouble * (nd * 1000000L).toDouble /
          sp.toDouble + 0.5).toLong
      }
      r += 1
    }
    players.map(i => (i, nTot(i), wTot(i), p(i))).toSeq
      .toDF("source", "n_games", "n_wins", "rating_micro")
      .orderBy("source")
  }

  /** Elo K-factor in micro-points (K = 32). */
  val EloK = 32000000.0

  /** Elo starting rating in micro-points (1500). */
  val EloStart = 1500000000L

  /** One Elo update in micro-BIGINT ratings: the winner gains
    * floor(K·(1−e)+0.5), the loser gains floor(−K·(1−e)+0.5) (each side
    * floors its OWN delta — the two are not exact negatives), where e is
    * the winner's expected score 1/(1+10^((r_l−r_w)/400)). The single
    * transcendental (pow) is computed once per match from exact integer
    * ratings; its value sits ~10⁶ quantization steps away from any
    * boundary, so a sub-ulp libm difference flips a floor with
    * probability ~1e-10 per match (the UnigramTrainer.mkLp acceptance).
    */
  private[graft] def eloStep(rw: Long, rl: Long): (Long, Long) = {
    val e = 1.0 / (1.0 +
      math.pow(10.0, (rl - rw).toDouble / 400000000.0))
    (rw + math.floor(EloK * (1.0 - e) + 0.5).toLong,
      rl + math.floor(-EloK * (1.0 - e) + 0.5).toLong)
  }

  /** Elo ratings over the SAME deterministic comparison stream as
    * [[btRatings]], replayed in match order — the ONLINE rating twin
    * (arena-style leaderboards update this way; Bradley-Terry is the
    * batch refit). Per language, matches replay in doc_id order from
    * [[EloStart]]; every (lang, source) present in the corpus gets a row
    * (unplayed sources keep the start rating).
    *
    * Scale shape: Elo is inherently SEQUENTIAL — each update reads the
    * two current ratings — so the honest distribution unit is the
    * independent rating pool: one per language here (one per arena/
    * league in production). The match log repartitions by lang,
    * secondary-sorts by doc_id, and replays each language's log in one
    * partition-local pass (`mapPartitions` — the declared last-resort
    * shape, used precisely because the algorithm defines away
    * parallelism inside a pool); languages replay in parallel. Nothing
    * is collected: state per pool is #sources ratings.
    */
  def eloRatings(spark: SparkSession, sfDir: String): DataFrame =
    eloRatingsFrom(spark, Tables.documents(spark, sfDir))

  /** [[eloRatings]] over any (doc_id, lang, source, text) frame — same
    * real-comparison seam as [[btRatingsFrom]].
    */
  def eloRatingsFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    import spark.implicits._
    comparisonLog(corpus)
      .repartition(col("lang"))
      .sortWithinPartitions(col("lang"), col("doc_id"), col("winner"))
      .as[(String, Long, String, String)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long, Long, Long)]
        var lang: String = null
        var ratings = scala.collection.mutable.Map.empty[String, Long]
        var games = scala.collection.mutable.Map.empty[String, Long]
        var wins = scala.collection.mutable.Map.empty[String, Long]
        def flush(): Unit = if (lang != null) {
          ratings.toSeq.sortBy(_._1).foreach { case (s, r) =>
            out += ((lang, s, games.getOrElse(s, 0L),
              wins.getOrElse(s, 0L), r))
          }
        }
        it.foreach { case (l, _, w, lOrNull) =>
          if (l != lang) {
            flush(); lang = l
            ratings = scala.collection.mutable.Map.empty
            games = scala.collection.mutable.Map.empty
            wins = scala.collection.mutable.Map.empty
          }
          if (lOrNull == null) ratings.getOrElseUpdate(w, EloStart)
          else {
            val (rw, rl) = (ratings.getOrElse(w, EloStart),
              ratings.getOrElse(lOrNull, EloStart))
            val (nw, nl) = eloStep(rw, rl)
            ratings(w) = nw; ratings(lOrNull) = nl
            games(w) = games.getOrElse(w, 0L) + 1
            games(lOrNull) = games.getOrElse(lOrNull, 0L) + 1
            wins(w) = wins.getOrElse(w, 0L) + 1
          }
        }
        flush()
        out.iterator
      }
      .toDF("lang", "source", "n_games", "n_wins", "rating_micro")
      .orderBy("lang", "source")
  }

  /** The ordered Elo match log: roster markers (doc_id = Long.MinValue,
    * loser NULL — every (lang, source) participates even unplayed) then
    * the deterministic quality comparisons, so one (lang, doc_id)-sorted
    * pass replays a pool. Shared by the batch replay and the streaming
    * twin's spec.
    */
  private[graft] def comparisonLog(corpus: DataFrame): DataFrame = {
    val qd = corpus.select(
      col("doc_id"), col("lang"), col("source"),
      floor(TextPipeline.qualityCol * 10000d + 0.5d).cast("long").as("qs"))
    val cmp = withNext(qd)
      .filter(col("doc_b").isNotNull && col("source") =!= col("source_b"))
      .select(col("lang"), col("doc_id"),
        when(col("qs") >= col("qs_b"), col("source"))
          .otherwise(col("source_b")).as("winner"),
        when(col("qs") >= col("qs_b"), col("source_b"))
          .otherwise(col("source")).as("loser"))
    val roster = qd.select(col("lang"), col("source")).distinct()
      .select(col("lang"), lit(Long.MinValue).as("doc_id"),
        col("source").as("winner"), lit(null).cast("string").as("loser"))
    roster.unionByName(cmp)
  }

  /** The DuckDB replay of [[eloRatings]]: the per-language match log is
    * indexed by row_number, the rating pool rides the recursion as a
    * LIST aligned to the language's sorted source roster, and each
    * recursive step applies exactly one match's two floors (the e
    * expression written once per delta, the identical IEEE sequence).
    * Languages step in lockstep; a language out of matches keeps its
    * final row, picked by max idx at the end.
    */
  private[graft] def eloRatingsOracleSql: String = {
    val e =
      "1.0 / (1.0 + power(10.0, CAST(st.rl[list_position(es.srcs, m.loser)]" +
        " - st.rl[list_position(es.srcs, m.winner)] AS DOUBLE)" +
        " / 400000000.0))"
    s"""WITH RECURSIVE
ew AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks FROM documents),
es0 AS (SELECT doc_id, lang, source,
  least(1.0, CAST(len(toks) AS DOUBLE) / 50.0) * 0.4
  + least(1.0, CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','not'))) AS DOUBLE) / len(toks) * 5.0) * 0.3
  + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.3 AS q
FROM ew),
eqd AS MATERIALIZED (SELECT doc_id, lang, source, CAST(floor(q * 10000 + 0.5) AS BIGINT) AS qs FROM es0),
epr AS (SELECT lang, doc_id, source, qs,
  lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS doc_b,
  lead(source) OVER (PARTITION BY lang ORDER BY doc_id) AS source_b,
  lead(qs) OVER (PARTITION BY lang ORDER BY doc_id) AS qs_b
  FROM eqd),
ecmp AS MATERIALIZED (SELECT lang, doc_id,
  CASE WHEN qs >= qs_b THEN source ELSE source_b END AS winner,
  CASE WHEN qs >= qs_b THEN source_b ELSE source END AS loser
  FROM epr WHERE doc_b IS NOT NULL AND source <> source_b),
em AS MATERIALIZED (SELECT lang, winner, loser,
  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS idx FROM ecmp),
esrc AS MATERIALIZED (SELECT lang, list(source ORDER BY source) AS srcs
  FROM (SELECT DISTINCT lang, source FROM eqd) GROUP BY lang),
est AS (
  SELECT lang, CAST(0 AS BIGINT) AS idx,
    list_transform(srcs, s -> CAST(1500000000 AS BIGINT)) AS rl
  FROM esrc
  UNION ALL
  SELECT st.lang, st.idx + 1,
    list_transform(range(len(st.rl)), k -> CASE
      WHEN es.srcs[CAST(k + 1 AS INTEGER)] = m.winner
        THEN st.rl[CAST(k + 1 AS INTEGER)]
          + CAST(floor(32000000.0 * (1.0 - $e) + 0.5) AS BIGINT)
      WHEN es.srcs[CAST(k + 1 AS INTEGER)] = m.loser
        THEN st.rl[CAST(k + 1 AS INTEGER)]
          + CAST(floor(-32000000.0 * (1.0 - $e) + 0.5) AS BIGINT)
      ELSE st.rl[CAST(k + 1 AS INTEGER)] END) AS rl
  FROM est st
  JOIN em m ON m.lang = st.lang AND m.idx = st.idx + 1
  JOIN esrc es ON es.lang = st.lang),
efin AS MATERIALIZED (SELECT lang, rl FROM (
  SELECT lang, rl, row_number() OVER (PARTITION BY lang ORDER BY idx DESC) AS rn
  FROM est) WHERE rn = 1),
eout AS (SELECT f.lang, s.srcs[CAST(u.k + 1 AS INTEGER)] AS source,
  f.rl[CAST(u.k + 1 AS INTEGER)] AS rating_micro
  FROM efin f JOIN esrc s ON s.lang = f.lang,
  unnest(range(len(f.rl))) AS u(k)),
egm AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN won THEN 1 ELSE 0 END) AS BIGINT) AS w FROM (
    SELECT lang, winner AS source, true AS won FROM ecmp
    UNION ALL SELECT lang, loser AS source, false AS won FROM ecmp)
  GROUP BY lang, source)
SELECT o.lang, o.source,
  coalesce(g.n, 0) AS n_games, coalesce(g.w, 0) AS n_wins,
  o.rating_micro
FROM eout o LEFT JOIN egm g ON g.lang = o.lang AND g.source = o.source
ORDER BY o.lang, o.source"""
  }

  /** The shared DuckDB CTE prefix for the rating family: the quantized
    * quality surface, the adjacent-pair comparison stream, and the
    * directed win-count matrix `bwij(i, j, w)` — the exact replay of
    * [[qualityComparisons]] + its groupBy.
    */
  private[graft] val pairCtesSql: String =
    """bw AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks FROM documents),
bs AS (SELECT doc_id, lang, source,
  least(1.0, CAST(len(toks) AS DOUBLE) / 50.0) * 0.4
  + least(1.0, CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','not'))) AS DOUBLE) / len(toks) * 5.0) * 0.3
  + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.3 AS q
FROM bw),
bqd AS MATERIALIZED (SELECT doc_id, lang, source, CAST(floor(q * 10000 + 0.5) AS BIGINT) AS qs FROM bs),
bpr AS (SELECT source, qs,
  lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS doc_b,
  lead(source) OVER (PARTITION BY lang ORDER BY doc_id) AS source_b,
  lead(qs) OVER (PARTITION BY lang ORDER BY doc_id) AS qs_b
  FROM bqd),
bcmp AS (SELECT CASE WHEN qs >= qs_b THEN source ELSE source_b END AS winner,
  CASE WHEN qs >= qs_b THEN source_b ELSE source END AS loser
  FROM bpr WHERE doc_b IS NOT NULL AND source <> source_b),
bwij AS MATERIALIZED (SELECT winner AS i, loser AS j, CAST(count(*) AS BIGINT) AS w FROM bcmp GROUP BY 1, 2)"""

  /** The DuckDB replay — same derivation, [[Rounds]] unrolled MM rounds
    * in the same quantized arithmetic.
    */
  private[graft] def btRatingsOracleSql: String = {
    val rounds = (1 to Rounds).map { r =>
      val prev = if (r == 1) "bp0" else s"bp${r - 1}"
      s"""bd$r AS MATERIALIZED (SELECT bnij.i AS source,
  CAST(sum(CAST(floor(CAST(bnij.n AS DOUBLE) * 1000000000000.0 / CAST(greatest(pi.p + pj.p, 1) AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS dq
  FROM bnij JOIN $prev pi ON bnij.i = pi.source JOIN $prev pj ON bnij.j = pj.source
  GROUP BY bnij.i),
bq$r AS MATERIALIZED (SELECT w.source,
  CASE WHEN d.dq IS NULL THEN pp.p
    ELSE CAST(floor(CAST(w.wins AS DOUBLE) * 1000000000000.0 / CAST(d.dq AS DOUBLE) + 0.5) AS BIGINT) END AS praw
  FROM bwtot w JOIN $prev pp ON w.source = pp.source
  LEFT JOIN bd$r d ON w.source = d.source),
bs$r AS MATERIALIZED (SELECT CAST(sum(praw) AS BIGINT) AS sp FROM bq$r),
bp$r AS MATERIALIZED (SELECT q.source,
  CAST(floor(CAST(q.praw AS DOUBLE) * CAST(bkk.nd * 1000000 AS DOUBLE) / CAST(s.sp AS DOUBLE) + 0.5) AS BIGINT) AS p
  FROM bq$r q, bs$r s, bkk)"""
    }.mkString(",\n")
    s"""WITH $pairCtesSql,
bnij AS MATERIALIZED (SELECT i, j, CAST(sum(w) AS BIGINT) AS n FROM (
    SELECT i, j, w FROM bwij
    UNION ALL SELECT j AS i, i AS j, w FROM bwij) GROUP BY i, j),
bpl AS MATERIALIZED (SELECT DISTINCT source FROM bqd),
bwtot AS MATERIALIZED (SELECT bpl.source, CAST(coalesce(sum(bwij.w), 0) AS BIGINT) AS wins
  FROM bpl LEFT JOIN bwij ON bpl.source = bwij.i GROUP BY bpl.source),
bntot AS MATERIALIZED (SELECT bpl.source, CAST(coalesce(sum(bnij.n), 0) AS BIGINT) AS games
  FROM bpl LEFT JOIN bnij ON bpl.source = bnij.i GROUP BY bpl.source),
bkk AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS nd FROM bpl),
bp0 AS MATERIALIZED (SELECT source, CAST(1000000 AS BIGINT) AS p FROM bpl),
$rounds
SELECT n.source, n.games AS n_games, w.wins AS n_wins, p.p AS rating_micro
FROM bntot n JOIN bwtot w ON n.source = w.source
JOIN bp$Rounds p ON n.source = p.source
ORDER BY n.source"""
  }

  def prefCycles(spark: SparkSession, sfDir: String): DataFrame =
    prefCyclesFrom(spark, Tables.documents(spark, sfDir))

  /** Circular-triad consistency audit over the preference matrix — the
    * label-quality check an RLHF data pipeline runs BEFORE fitting
    * Bradley-Terry/Elo: count the triads (i, j, k) whose majority
    * preferences form a cycle (i beats j beats k beats i). Kendall &
    * Babington Smith's coefficient of consistence
    * zeta = 1 − d/max(d) (max = n(n²−1)/24 for odd n, n(n²−4)/24 even)
    * is 1 for a perfectly transitive panel and falls toward 0 as the
    * comparisons approach noise — a low zeta means the preference signal
    * (or the annotator pool) is too inconsistent for a scalar rating to
    * represent, and the ratings downstream are not trustworthy. Pairs with
    * no games or tied win counts contribute direction 0 (never cyclic).
    *
    * Scale: the comparison stream aggregates to a #domains² win matrix;
    * triad enumeration is equi-joins over the (tiny, checkpointed)
    * all-pairs frame — nothing corpus-sized past the first groupBy.
    */
  def prefCyclesFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val wij = qualityComparisons(corpus)
      .groupBy("winner", "loser").agg(count(lit(1)).as("w"))
    val und = wij.select(
        least(col("winner"), col("loser")).as("i"),
        greatest(col("winner"), col("loser")).as("j"),
        when(col("winner") < col("loser"), col("w")).otherwise(lit(0L))
          .as("wf"),
        when(col("winner") > col("loser"), col("w")).otherwise(lit(0L))
          .as("wb"))
      .groupBy("i", "j")
      .agg(sum("wf").as("w_ij"), sum("wb").as("w_ji"))
    val players = corpus.select(col("source")).distinct()
    // checkpoint: the all-pairs frame feeds four consumers (three triad
    // legs + the pair summary); unfenced, Catalyst re-executes the whole
    // corpus-sized comparison chain per reference.
    val ap = players.as("a")
      .crossJoin(broadcast(players.select(col("source").as("source_b"))))
      .filter(col("source") < col("source_b"))
      .select(col("source").as("i"), col("source_b").as("j"))
      .join(und, Seq("i", "j"), "left")
      .select(col("i"), col("j"),
        coalesce(col("w_ij"), lit(0L)).as("w_ij"),
        coalesce(col("w_ji"), lit(0L)).as("w_ji"))
      .withColumn("dir", when(col("w_ij") > col("w_ji"), 1)
        .when(col("w_ij") < col("w_ji"), -1).otherwise(0))
      .transform(Fence)
    val tri = ap.select(col("i"), col("j"), col("dir").as("d_ij"))
      .join(ap.select(col("i").as("j"), col("j").as("k"),
        col("dir").as("d_jk")), "j")
      .join(ap.select(col("i"), col("j").as("k"), col("dir").as("d_ik")),
        Seq("i", "k"))
    val isCyc = (col("d_ij") === 1 && col("d_jk") === 1 &&
      col("d_ik") === -1) ||
      (col("d_ij") === -1 && col("d_jk") === -1 && col("d_ik") === 1)
    val cyc = tri.agg(count(lit(1)).as("n_triads"),
      sum(when(isCyc, 1L).otherwise(0L)).as("n_cyclic"))
    val played = col("w_ij") + col("w_ji") > 0
    val cps = ap.agg(count(lit(1)).as("n_pairs"),
      sum(when(played, 1L).otherwise(0L)).as("n_played"),
      sum(when(played && col("w_ij") === col("w_ji"), 1L).otherwise(0L))
        .as("n_ties"))
    val cn = players.agg(count(lit(1)).as("n_sources"))
    val nd = col("n_sources").cast("double")
    val maxd = when(col("n_sources") % 2 === 1,
      (nd * nd * nd - nd) / 24.0d)
      .otherwise((nd * nd * nd - lit(4.0d) * nd) / 24.0d)
    cn.crossJoin(cps).crossJoin(cyc)
      .select(col("n_sources"), col("n_pairs"), col("n_played"),
        col("n_ties"), col("n_triads"), col("n_cyclic"),
        // n_sources <= 2 has no triads and maxd = 0: pin the
        // consistency coefficient to 1 (scaled 10^6) instead of letting
        // 0/0 poison the surface — the gateKappa degenerate-case rule
        when(col("n_sources") <= 2, lit(1000000L))
          .otherwise(floor((lit(1.0d) -
              col("n_cyclic").cast("double") / maxd)
            * 1000000d + 0.5d).cast("long")).as("zeta_q6"))
  }

  /** The DuckDB replay of [[prefCyclesFrom]] over the shared
    * [[pairCtesSql]] win matrix.
    */
  private[graft] def prefCyclesOracleSql: String =
    s"""WITH $pairCtesSql,
cpl AS MATERIALIZED (SELECT DISTINCT source FROM documents),
cund AS MATERIALIZED (SELECT least(i, j) AS i, greatest(i, j) AS j,
  CAST(sum(CASE WHEN i < j THEN w ELSE 0 END) AS BIGINT) AS w_ij,
  CAST(sum(CASE WHEN i > j THEN w ELSE 0 END) AS BIGINT) AS w_ji
  FROM bwij GROUP BY 1, 2),
call AS MATERIALIZED (SELECT a.source AS i, b.source AS j,
  coalesce(cund.w_ij, 0) AS w_ij, coalesce(cund.w_ji, 0) AS w_ji,
  CASE WHEN coalesce(cund.w_ij, 0) > coalesce(cund.w_ji, 0) THEN 1
    WHEN coalesce(cund.w_ij, 0) < coalesce(cund.w_ji, 0) THEN -1
    ELSE 0 END AS dir
  FROM cpl a JOIN cpl b ON a.source < b.source
  LEFT JOIN cund ON cund.i = a.source AND cund.j = b.source),
ctr AS (SELECT p1.dir AS d_ij, p2.dir AS d_jk, p3.dir AS d_ik
  FROM call p1 JOIN call p2 ON p1.j = p2.i
  JOIN call p3 ON p3.i = p1.i AND p3.j = p2.j),
ccy AS (SELECT CAST(count(*) AS BIGINT) AS n_triads,
  CAST(sum(CASE WHEN (d_ij = 1 AND d_jk = 1 AND d_ik = -1)
    OR (d_ij = -1 AND d_jk = -1 AND d_ik = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_cyclic
  FROM ctr),
cps AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(CASE WHEN w_ij + w_ji > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_played,
  CAST(sum(CASE WHEN w_ij + w_ji > 0 AND w_ij = w_ji THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
  FROM call),
ccn AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM cpl)
SELECT n_sources, n_pairs, n_played, n_ties, n_triads, n_cyclic,
  CASE WHEN n_sources <= 2 THEN CAST(1000000 AS BIGINT)
  ELSE CAST(floor((1.0 - CAST(n_cyclic AS DOUBLE) /
    (CASE WHEN n_sources % 2 = 1
      THEN (CAST(n_sources AS DOUBLE) * CAST(n_sources AS DOUBLE) * CAST(n_sources AS DOUBLE) - CAST(n_sources AS DOUBLE)) / 24.0
      ELSE (CAST(n_sources AS DOUBLE) * CAST(n_sources AS DOUBLE) * CAST(n_sources AS DOUBLE) - 4.0 * CAST(n_sources AS DOUBLE)) / 24.0 END))
    * 1000000 + 0.5) AS BIGINT) END AS zeta_q6
FROM ccn, cps, ccy"""
}
