package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Graph analytics over relation-derived graphs — the link-analysis side of
  * a training-data pipeline (source authority for quality weighting, the
  * same iterative-join discipline as the connected-components dedup
  * clusters in [[TextPipeline]]).
  *
  * Scale design (100 TB):
  *  - Edges come from a KEYED equi-join of the base relations (never a
  *    cross product) and every iteration is (join on src) + (agg on dst) —
  *    both partitioned by node key, the standard distributed PageRank; no
  *    per-node driver traffic, no adjacency broadcast.
  *  - The rank frame is node-sized (≪ edge-sized); iterations are FIXED
  *    count (power-iteration), so the plan is a static unrolled chain —
  *    no fixpoint collect at all (cheaper than CC's 1-row fixpoint agg).
  *  - Per-iteration `round(r, 10)` pins the float accumulation so shard
  *    order cannot drift results between engines or between cluster runs
  *    — determinism at any parallelism, the property the DuckDB oracle
  *    hash-checks.
  *  - The only driver value is the node count (one count job, like CC's
  *    fixpoint row); lineage stays 5 joins deep — under Spark's plan
  *    limits without checkpointing (a 50-iteration variant would
  *    [[Fence]] its frame every ~10 rounds, the CC discipline).
  */
object Graph {

  /** Power-iteration rounds for the driver query (fixed → deterministic). */
  private val Iters = 5

  private val Damping = 0.85

  /** PageRank over the symmetric customer↔supplier purchase graph: nodes
    * are `c<custkey>` / `s<suppkey>`, with an edge pair per DISTINCT
    * (customer, supplier) trading relationship in orders⨝lineitem. The
    * symmetric closure means no dangling nodes (every node has out-degree
    * ≥ 1), so no dangling-mass redistribution term is needed.
    */
  def pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val (deg, edges) = degreeEdges(spark, sfDir)
    val n = deg.count() // node count: the single driver-side value
    powerIterate(deg, edges, lit(1.0 / n), lit((1.0 - Damping) / n))
      .select(col("node"), col("outdeg"), col("r").as("pagerank"))
      .orderBy("node")
  }

  /** The graph leaves shared by all four graph queries, built ONCE per
    * (Spark application, sfDir) and cached: the distinct
    * customer↔supplier pair frame plus its derived partitioned edge
    * tables. pagerank/ppr/lpa consume the symmetric (deg, edges) pair;
    * hits consumes the directed (bySrc, byDst) pair. Rebuilding these per
    * query cost ~4× the orders⨝lineitem distinct and 4 redundant
    * exchange-and-sorts per suite run (13.6% of round-7 bench wall); the
    * [[SessionCache]] entry is the PersistedIndex build-once discipline
    * applied in-session.
    */
  private final case class EdgeArtifacts(deg: DataFrame, edges: DataFrame,
      pairsBySrc: DataFrame, pairsByDst: DataFrame)

  private def sharedEdges(spark: SparkSession,
      sfDir: String): EdgeArtifacts =
    SessionCache(spark, "graph-edges", sfDir)(
      buildEdgeArtifacts(spark, sfDir))

  /** Free the shared edge leaves' cached blocks and forget the cache
    * entry — `graft.Bench` calls this once the graph family's timed runs
    * (and their quiesced re-measures) are done, so 250+ later queries
    * don't GC-fight node×4 checkpointed frames they never read (the
    * BENCH_r12 ambient-GC source). Safe at any time: the entry is
    * removed BEFORE the blocks drop, so a later consumer rebuilds from
    * scratch instead of touching a truncated-lineage RDD. */
  def releaseSharedEdges(spark: SparkSession, sfDir: String): Unit =
    SessionCache.release(spark, "graph-edges", sfDir)

  /** Membership rule for the driver queries that CONSUME
    * [[sharedEdges]] — every `graph_*` query reads the warm edge
    * leaves. `graft.Bench` groups the family with this predicate (next
    * to the cache, so consumers and the registry move together —
    * round-13 ADVICE). */
  private[graft] def isBenchFamilyQuery(name: String): Boolean =
    name.startsWith("graph_")

  /** Build the shared edge leaves NOW (a no-op when already cached) —
    * the explicit warm hook for harnesses that must keep the build out
    * of (or charge it to) a specific measurement window; `graft.Bench`
    * warms and reports it as its own line item.
    */
  def warmSharedEdges(spark: SparkSession, sfDir: String): Unit = {
    sharedEdges(spark, sfDir)
    ()
  }

  /** Build the checkpointed graph leaves — every iteration of every graph
    * query re-reads them, and a [[Fence]] both truncates the unrolled
    * lineage and avoids CacheManager entries leaking into other queries'
    * plans.
    */
  private def buildEdgeArtifacts(spark: SparkSession,
      sfDir: String): EdgeArtifacts = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
    // round 16 (§2.3 shuffle narrower types): the distinct dedups the
    // INTEGER (custkey, suppkey) pair — two fixed 8-byte longs — and the
    // "c"/"s" node strings (variable-length, ~40% more exchange bytes
    // plus string hashing/compares) are built only from the deduped
    // pairs. The mapping int-pair → string-pair is injective, so the
    // distinct sets are identical.
    val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"))
      .distinct()
      .select(concat(lit("c"), col("o_custkey")).as("cnode"),
        concat(lit("s"), col("l_suppkey")).as("snode"))
    // edges are checkpointed PRE-PARTITIONED by src and SORTED within
    // partitions: the checkpoint leaf (LogicalRDD) records the
    // HashPartitioning + ordering, so all `Iters` rounds' contribution
    // joins reuse this ONE exchange-and-sort instead of re-shuffling the
    // edge frame (the largest frame in the loop) every round — at 100x
    // scale that repartition is the loop's dominant avoidable cost. The
    // degree aggregation also rides the same partitioning (its grouping
    // key IS src), and its leaf records node-keyed partitioning for the
    // per-round rank join. The leaves are computed with AQE OFF: an
    // AdaptiveSparkPlanExec reports UnknownPartitioning at checkpoint
    // capture time, so an AQE-built leaf forgets its partitioning and
    // every round re-shuffles (measured: 17 exchanges -> 7). round(r, 10)
    // already pins the float sum order, so the plan change is
    // hash-identical.
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqeWas = spark.conf.get(aqeKey, "true")
    spark.conf.set(aqeKey, "false")
    try {
      // the symmetric union references `pairs` twice; fencing it first
      // runs the orders⨝lineitem distinct once, not once per branch
      val pairsC = Fence(pairs)
      val edges = Fence(
        pairsC.select(col("cnode").as("src"), col("snode").as("dst"))
          .union(pairsC.select(col("snode").as("src"), col("cnode").as("dst")))
          .repartition(col("src"))
          .sortWithinPartitions("src"))
      val deg = Fence(
        edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).cast(LongType).as("outdeg")))
      // the DIRECTED c→s pair leaves for HITS: the hub-side join probes
      // by src, the authority side by dst — two partitionings of the
      // same pairsC, captured once each
      val directed = pairsC.select(col("cnode").as("src"),
        col("snode").as("dst"))
      val pairsBySrc = Fence(
        directed.repartition(col("src")).sortWithinPartitions("src"))
      val pairsByDst = Fence(
        directed.repartition(col("dst")).sortWithinPartitions("dst"))
      EdgeArtifacts(deg, edges, pairsBySrc, pairsByDst)
    } finally spark.conf.set(aqeKey, aqeWas)
  }

  private def degreeEdges(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val a = sharedEdges(spark, sfDir)
    (a.deg, a.edges)
  }

  /** The shared power-iteration loop: `init`/`teleport` are expressions
    * over the degree frame (uniform for [[pagerank]], seed-masked for
    * [[pagerankPersonalized]]); each round is the src-keyed contribution
    * join + dst-keyed sum + node left-join, rounded to 10 dp so float
    * accumulation order cannot drift the result between runs or engines.
    */
  private def powerIterate(deg: DataFrame, edges: DataFrame,
      init: org.apache.spark.sql.Column,
      teleport: org.apache.spark.sql.Column): DataFrame = {
    var ranks = deg.select(col("node"), col("outdeg"), init.as("r"))
    for (_ <- 1 to Iters) {
      val sums = edges
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("r") / col("outdeg")).as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("m"))
      ranks = deg.join(sums, col("node") === col("dst"), "left")
        .select(col("node"), col("outdeg"),
          round(teleport +
            lit(Damping) * coalesce(col("m"), lit(0.0)), 10).as("r"))
    }
    ranks
  }

  /** Seed suppliers for the personalized variant — the "trusted sources"
    * whose neighborhood the walk scores (curation's source-authority
    * propagation). Shared with the generated oracle SQL.
    */
  private[graft] val SeedNodes: Seq[String] = (1 to 5).map(i => s"s$i")

  /** Personalized PageRank: the random walk teleports back to the seed
    * set instead of everywhere, so rank measures proximity to the seeds —
    * customers of trusted suppliers score high, far corners of the graph
    * decay to 0. Same plan shape and rounding contract as [[pagerank]];
    * only the teleport vector changes.
    */
  def pagerankPersonalized(spark: SparkSession, sfDir: String): DataFrame = {
    val (deg, edges) = degreeEdges(spark, sfDir)
    val isSeed = col("node").isin(SeedNodes: _*)
    val nSeeds = SeedNodes.length
    powerIterate(deg, edges,
      when(isSeed, lit(1.0 / nSeeds)).otherwise(lit(0.0)),
      when(isSeed, lit((1.0 - Damping) / nSeeds)).otherwise(lit(0.0)))
      .select(col("node"), col("outdeg"), col("r").as("ppr"))
      .filter(col("ppr") > 0.0)
      .orderBy("node")
  }

  /** Synchronous label-propagation rounds (fixed → unrolled static plan,
    * generated oracle — the [[pagerank]] discipline).
    */
  private val LpaIters = 3

  /** Community detection by synchronous label propagation (Raghavan'07)
    * over the same purchase graph: each round every node adopts the most
    * frequent label among its neighbors, ties broken by the SMALLEST
    * label (total order → deterministic, unlike the randomized original
    * — determinism is what lets the oracle hash-check it). Distinct from
    * connected components: LPA finds dense regions inside one component.
    * Plan: per round a src-keyed edge⨝labels join, a (dst, label) count
    * aggregation, and a bounded per-dst argmax window (≤ #distinct
    * neighbor labels rows per node) — all node-keyed, the edges leaf
    * pre-partitioned by the [[degreeEdges]] fence.
    */
  def labelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    val (deg, edges) = degreeEdges(spark, sfDir)
    var labels = deg.select(col("node"), col("node").as("label"))
    for (_ <- 1 to LpaIters) {
      val counted = edges
        .join(labels, col("src") === col("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst"))
        .orderBy(col("c").desc, col("label"))
      labels = counted
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("label"))
    }
    val sizeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
    labels
      .select(col("node"), col("label").as("community"),
        count(lit(1)).over(sizeW).as("community_size"))
      .orderBy("node")
  }

  /** The generated unrolled DuckDB replay of [[labelPropagation]]. */
  private[graft] def lpaOracleSql: String = {
    val rounds = (1 to LpaIters).map { i =>
      s"""c$i AS (SELECT e.dst, p.label, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN l${i - 1} p ON e.src = p.node GROUP BY e.dst, p.label),
l$i AS (SELECT dst AS node, label FROM (
    SELECT dst, label, row_number() OVER (PARTITION BY dst
      ORDER BY c DESC, label) AS rn FROM c$i) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""$OracleBase,
l0 AS (SELECT node, node AS label FROM deg),
$rounds
SELECT node, label AS community,
  CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
FROM l$LpaIters ORDER BY node"""
  }

  private val OracleBase =
    """WITH pairs AS (SELECT DISTINCT 'c' || o_custkey AS cnode,
  's' || l_suppkey AS snode
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (SELECT cnode AS src, snode AS dst FROM pairs
  UNION ALL SELECT snode, cnode FROM pairs),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
  FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM deg)"""

  private def oracleIters(teleportSql: String): String =
    (1 to Iters).map { i =>
      s"""r$i AS (SELECT d.node, d.outdeg,
  round($teleportSql + 0.85 * COALESCE(s.m, 0), 10) AS r
  FROM deg d LEFT JOIN (
    SELECT e.dst AS node, sum(p.r / p.outdeg) AS m
    FROM edges e JOIN r${i - 1} p ON e.src = p.node GROUP BY e.dst) s
  ON d.node = s.node)"""
    }.mkString(",\n")

  /** The unrolled DuckDB replay of [[pagerank]] — generated for the same
    * iteration count so the two can never drift.
    */
  private[graft] def pagerankOracleSql: String =
    s"""$OracleBase,
r0 AS (SELECT node, outdeg, 1.0 / n_nodes AS r FROM deg, nn),
${oracleIters("0.15 / (SELECT n_nodes FROM nn)")}
SELECT node, outdeg, r AS pagerank FROM r$Iters ORDER BY node"""

  /** HITS mutual-reinforcement rounds (fixed → unrolled, generated
    * oracle — the [[pagerank]] discipline).
    */
  private val HitsIters = 4

  /** HITS hubs/authorities (Kleinberg'99) over the DIRECTED bipartite
    * purchase graph customer→supplier: a supplier's authority is the sum
    * of its buyers' hub scores, a customer's hub score the sum of its
    * suppliers' authorities — the natural "good buyers certify good
    * sources" signal on a procurement graph (bipartite, so hubs and
    * authorities partition cleanly by side).
    *
    * Determinism is STRONGER than [[pagerank]]'s round-after-sum pin:
    * scores are rounded to 10 dp then cast to DECIMAL(20,10) before each
    * contribution sum, so the per-node sums are EXACT and
    * order-independent — no float accumulation exists anywhere in the
    * loop, at any parallelism. Normalization is by the per-side MAX (a
    * deterministic, order-free statistic — Kleinberg's limit is invariant
    * to the norm choice), broadcast as a 1-row frame.
    *
    * Scale shape: two edge leaves checkpointed pre-partitioned (by src
    * for the hub-side join, by dst for the authority side — the
    * [[degreeEdges]] AQE-off fence), every round two node-keyed sums that
    * ride those partitionings, 1-row max broadcasts, nothing corpus-sized
    * beyond the keyed aggs.
    */
  def hits(spark: SparkSession, sfDir: String): DataFrame = {
    val shared = sharedEdges(spark, sfDir)
    val (edgesBySrc, edgesByDst) = (shared.pairsBySrc, shared.pairsByDst)
    val dec = DecimalType(20, 10)
    // score := round(sum / max, 10): the sum is exact DECIMAL (inputs are
    // 10-dp-rounded doubles, exactly representable at scale 10), max of
    // exact sums is exact, and the one double division is over identical
    // operands on every engine/run.
    //
    // Each half-round's contribution frame is CHECKPOINTED before its max
    // normalizer: the 1-row broadcast plans the frame a second time, so
    // without the fence every half-round DOUBLES the unrolled plan
    // (2^8 subtree copies by round 4). Behind a node-sized leaf, the
    // normalizer agg is a one-job scan and every round's plan is
    // constant-size — the CC/kmv fence discipline applied per iteration.
    def normalize(raw: DataFrame, scoreCol: String): DataFrame = {
      val fenced = Fence(raw)
      val mx = fenced.agg(max(col("s")).as("mx"))
      fenced.crossJoin(broadcast(mx))
        .select(col("node"),
          round(col("s").cast(DoubleType) / col("mx").cast(DoubleType), 10)
            .as(scoreCol))
    }
    var hubs = edgesBySrc.select(col("src").as("node")).distinct()
      .withColumn("h", lit(1.0))
    var auths: DataFrame = null
    for (_ <- 1 to HitsIters) {
      val araw = edgesBySrc.join(hubs, col("src") === col("node"))
        .groupBy(col("dst").as("anode"))
        .agg(sum(col("h").cast(dec)).as("s"))
        .select(col("anode").as("node"), col("s"))
      auths = normalize(araw, "a")
      val hraw = edgesByDst
        .join(auths, col("dst") === col("node"))
        .groupBy(col("src").as("hnode"))
        .agg(sum(col("a").cast(dec)).as("s"))
        .select(col("hnode").as("node"), col("s"))
      hubs = normalize(hraw, "h")
    }
    hubs.select(col("node"), lit("hub").as("kind"), col("h").as("score"))
      .union(auths.select(col("node"), lit("authority").as("kind"),
        col("a").as("score")))
      .orderBy("node")
  }

  /** The generated unrolled DuckDB replay of [[hits]] — same rounds, same
    * DECIMAL-exact sums, same max normalization. Every round CTE is
    * MATERIALIZED: each is referenced twice (the max-normalizer scalar
    * subquery + the select), so inlining would double the evaluation per
    * half-round — the SQL mirror of the exponential-plan hazard the
    * Spark side fences with per-half-round checkpoints.
    */
  private[graft] def hitsOracleSql: String = {
    val rounds = (1 to HitsIters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS node,
    sum(CAST(p.h AS DECIMAL(20,10))) AS s
  FROM pairs e JOIN h${i - 1} p ON e.src = p.node GROUP BY e.dst),
a$i AS MATERIALIZED (SELECT node, round(CAST(s AS DOUBLE) /
    CAST((SELECT max(s) FROM ar$i) AS DOUBLE), 10) AS a FROM ar$i),
hr$i AS MATERIALIZED (SELECT e.src AS node,
    sum(CAST(p.a AS DECIMAL(20,10))) AS s
  FROM pairs e JOIN a$i p ON e.dst = p.node GROUP BY e.src),
h$i AS MATERIALIZED (SELECT node, round(CAST(s AS DOUBLE) /
    CAST((SELECT max(s) FROM hr$i) AS DOUBLE), 10) AS h FROM hr$i)"""
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT 'c' || o_custkey AS src,
  's' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
h0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1.0 AS h FROM pairs),
$rounds
SELECT node, 'hub' AS kind, h AS score FROM h$HitsIters
UNION ALL
SELECT node, 'authority' AS kind, a AS score FROM a$HitsIters
ORDER BY node"""
  }

  /** Minimum (customer, supplier) co-occurrence count for an edge of the
    * STRONG purchase graph ([[components]]) — the unthresholded graph is
    * one giant component at every SF (every analysis would return one
    * row); thresholding on relationship strength is the standard
    * community-extraction move and fragments the graph into real
    * components at the driver's SF.
    */
  private[graft] val MinPairOrders = 4L

  /** Weakly-connected components over the strong purchase graph: nodes
    * are `c<custkey>` / `s<suppkey>`, edges are (customer, supplier)
    * pairs with >= [[MinPairOrders]] lineitem co-occurrences in
    * orders⨝lineitem. Labels via [[TextPipeline.connectedComponents]]'
    * pointer-jumping loop (min-label propagation, checkpointed rounds,
    * convergence-detected) — the same machinery the dedup cluster
    * operators run, applied to the relational graph.
    *
    * Scale shape: the edge build is a keyed join + agg (never a cross
    * product); each CC round is a node-keyed join + min-agg on
    * checkpointed, graph-sized leaves; rounds are O(log diameter). The
    * DuckDB oracle replays via a recursive transitive closure + min —
    * tractable because the thresholded graph's Σ component² is small.
    */
  def components(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(concat(lit("c"), col("o_custkey")).as("cnode"),
        concat(lit("s"), col("l_suppkey")).as("snode"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= MinPairOrders)
      .select(col("cnode").as("doc_a"), col("snode").as("doc_b"))
    TextPipeline.connectedComponents(pairs)
      .select(col("doc_id").as("node"), col("cluster_id").as("component_id"),
        col("cluster_size").as("component_size"))
      .orderBy("node")
  }

  /** The DuckDB replay of [[components]]: recursive reachability + min
    * label (the emb_clusters oracle pattern on the relational graph).
    */
  private[graft] def componentsOracleSql: String =
    s"""WITH RECURSIVE
po AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS cnode,
    's' || CAST(l_suppkey AS VARCHAR) AS snode, count(*) AS n
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2 HAVING count(*) >= $MinPairOrders),
edges AS (SELECT cnode AS src, snode AS dst FROM po
  UNION ALL SELECT snode, cnode FROM po),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (SELECT node, node AS r FROM nodes
  UNION
  SELECT reach.node, e.dst AS r FROM reach JOIN edges e ON reach.r = e.src),
lab AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node)
SELECT node, component_id,
  CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT) AS component_size
FROM lab ORDER BY node"""

  /** The unrolled DuckDB replay of [[pagerankPersonalized]]. */
  private[graft] def pprOracleSql: String = {
    val seeds = SeedNodes.map(s => s"'$s'").mkString(", ")
    val n = SeedNodes.length
    s"""$OracleBase,
r0 AS (SELECT node, outdeg,
  CASE WHEN node IN ($seeds) THEN 1.0 / $n ELSE 0.0 END AS r FROM deg),
${oracleIters(s"CASE WHEN d.node IN ($seeds) THEN 0.15 / $n ELSE 0.0 END")}
SELECT node, outdeg, r AS ppr FROM r$Iters WHERE r > 0 ORDER BY node"""
  }
}
