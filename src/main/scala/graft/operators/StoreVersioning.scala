package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared version discipline for every persisted store in the engine —
  * the curation store's `manifest/version=N` contract
  * ([[CurationStore.readManifest]]) lifted into one module so the text
  * index and the kNN-graph store fold under the same rules:
  *
  *   - a version directory (`<dir>/version=N/`) is IMMUTABLE once
  *     published — writers stage under a dot-prefixed directory (hidden
  *     from Spark's file listing) and publish with one filesystem
  *     rename, so a concurrent reader either sees the whole version or
  *     none of it, never a torn tree;
  *   - readers pin a version at query start ([[latestVersion]]) and are
  *     never blocked or invalidated by a writer landing version N+1
  *     (snapshot isolation on plain parquet — the lakehouse discipline
  *     without a table format);
  *   - [[pruneVersions]] is the retention lever; the CURRENT version is
  *     never dropped, and [[requireVersion]] turns a read of a pruned or
  *     never-written version into an error instead of a silently-empty
  *     frame.
  *
  * Segment stores share one manifest and one scan:
  *
  *   - a version of a segment store is one UTF-8 file,
  *     `<path>/manifest/version=N/tokens.tsv`, one `kind<TAB>token` line
  *     per row (`seg`/`tomb`/`folded` segment tokens, the shingle store's
  *     `bloom`, the kNN store's `nodes` and `edges` = `<cluster>:<seg>`).
  *     [[commitTokens]] is its only writer and [[liveTokens]] its only
  *     reader; both are driver-side filesystem calls that start no Spark
  *     job;
  *   - [[segments]] is the one live-segment scan: a sub-store read whole
  *     and filtered on its segment partition column, so the token list
  *     lands in the scan's PartitionFilters.
  *
  * Every filesystem touch resolves the store path's OWN filesystem
  * (`Path.getFileSystem`), never the cluster default — a store on
  * `s3a://` keeps versioning correctly on an HDFS-default cluster.
  */
object StoreVersioning {

  /** The filesystem owning `dir` — resolved from the path's scheme, not
    * `fs.defaultFS`. */
  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def versionDir(dir: String, v: Long): String = s"$dir/version=$v"

  /** Every published version under `dir`, ascending; empty when the
    * store has never committed (bounded driver-side listing — one
    * directory of version names). */
  def listVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName).toSeq
      .filter(_.startsWith("version="))
      .map(_.stripPrefix("version=").toLong).sorted
  }

  /** Highest published version at `dir`, or 0 when none exist. */
  def latestVersion(spark: SparkSession, dir: String): Long =
    listVersions(spark, dir).foldLeft(0L)(math.max)

  def versionExists(spark: SparkSession, dir: String, v: Long): Boolean =
    fs(spark, dir).exists(new Path(versionDir(dir, v)))

  /** Fail fast on a read of a pruned or never-written version — the
    * alternative is a silently-empty scan that makes e.g. a version
    * diff look like "everything was added". */
  def requireVersion(spark: SparkSession, dir: String, v: Long): Unit =
    require(versionExists(spark, dir, v),
      s"version $v does not exist under $dir (pruned or never written); " +
        s"published versions: ${listVersions(spark, dir).mkString(", ")}")

  /** Publish the next version: `write` receives a dot-prefixed staging
    * path (invisible to Spark's partition discovery), and the staged
    * tree is renamed into `version=<n+1>` in one filesystem call —
    * readers never observe a partial version. Returns the published
    * version number.
    */
  def commitNextVersion(spark: SparkSession, dir: String)(
      write: String => Unit): Long = {
    val next = latestVersion(spark, dir) + 1
    val stagingName = s".staging-version-$next"
    val staging = s"$dir/$stagingName"
    val f = fs(spark, dir)
    f.delete(new Path(staging), true) // clear a dead writer's leftovers
    write(staging)
    val dest = new Path(versionDir(dir, next))
    // optimistic concurrency, first-writer-wins: if a racing writer
    // published this version while we staged, fail LOUDLY. The explicit
    // existence check matters because a local-filesystem rename onto an
    // existing directory silently moves the staging tree INSIDE it
    // (posix mv-into semantics) instead of refusing like HDFS.
    if (f.exists(dest)) {
      // lost the race — drop our staged tree before throwing, or the
      // dot-prefixed copy (a full segment-sized tree) leaks forever:
      // later commits compute next >= N+1 and only clear THEIR staging
      f.delete(new Path(staging), true)
      throw new IllegalArgumentException(
        s"failed to publish $dir version $next: a concurrent writer " +
          "already committed it (re-read latestVersion and retry)")
    }
    require(f.rename(new Path(staging), dest),
      s"failed to publish $dir version $next (staging rename refused)")
    // post-rename sanity against the residual check-then-rename window:
    // a mv-into leaves the staging name nested under the destination
    val nested = new Path(s"${versionDir(dir, next)}/$stagingName")
    if (f.exists(nested)) {
      f.delete(nested, true)
      throw new IllegalArgumentException(
        s"failed to publish $dir version $next: lost the publish race " +
          "to a concurrent writer (nested staging removed; retry)")
    }
    next
  }

  /** Drop versions older than the `keep` most recent. The current
    * version is never dropped. */
  def pruneVersions(spark: SparkSession, dir: String, keep: Int): Unit = {
    val f = fs(spark, dir)
    listVersions(spark, dir).dropRight(math.max(keep, 1)).foreach { v =>
      f.delete(new Path(versionDir(dir, v)), true)
    }
  }

  /** The manifest file inside a version directory. */
  private val TokensFile = "tokens.tsv"

  /** Publish the next version of a segment store's manifest: a flat list
    * of (kind, token) rows — which immutable segments (and kind-specific
    * artifacts) the version reads — written as one `kind<TAB>token` line
    * each. Resolve with [[liveTokens]]. */
  def commitTokens(spark: SparkSession, manifestDir: String,
      rows: Seq[(String, String)]): Long = {
    rows.foreach { case (kind, token) =>
      require(!(kind + token).exists(c => c == '\t' || c == '\n'),
        s"manifest row ($kind, $token) holds a tab or a newline")
    }
    val f = fs(spark, manifestDir)
    commitNextVersion(spark, manifestDir) { staging =>
      val out = f.create(new Path(s"$staging/$TokensFile"), true)
      try out.write(rows.map { case (k, t) => s"$k\t$t\n" }.mkString
        .getBytes(UTF_8))
      finally out.close()
    }
  }

  /** (kind → tokens) of `version` (latest when -1), tokens sorted; a kind
    * the version does not list reads as empty. A version directory
    * without a manifest file (a store persisted by a pre-(kind, token)
    * build) or with a malformed line fails loudly instead of resolving
    * to a silently smaller live set, where probes would scan fewer
    * segments than the version holds. */
  def liveTokens(spark: SparkSession, manifestDir: String,
      version: Long = -1L): Map[String, Seq[String]] = {
    val v = if (version > 0) version else latestVersion(spark, manifestDir)
    requireVersion(spark, manifestDir, v)
    val f = fs(spark, manifestDir)
    val file = new Path(s"${versionDir(manifestDir, v)}/$TokensFile")
    def malformed(why: String) = new IllegalArgumentException(
      s"manifest $manifestDir version $v $why; expected (kind, token) " +
        s"lines in $TokensFile — a store persisted by a pre-(kind, token) " +
        "build must be rebuilt")
    if (!f.exists(file)) throw malformed(s"has no $TokensFile")
    val in = f.open(file)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    // every line ends in '\n', so a torn file fails here too
    if (text.nonEmpty && !text.endsWith("\n")) throw malformed("is truncated")
    text.split("\n", -1).toSeq.dropRight(1).map { line =>
        line.split("\t", -1) match {
          case Array(kind, token) => kind -> token
          case _ => throw malformed(s"has the line '$line'")
        }
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      .withDefaultValue(Seq.empty)
  }

  /** `df` restricted to the rows of the given segments — the filter half
    * of [[segments]], for a frame derived from a segment scan. */
  def inSegments(df: DataFrame, tokens: Seq[String],
      partition: String = "ingest"): DataFrame =
    df.filter(col(partition).isInCollection(tokens))

  /** The one live-segment scan: the rows of sub-store `<path>/<sub>` that
    * live in the `<partition>=<token>` segments `tokens` names (usually a
    * [[liveTokens]] kind). The token list reaches the scan's
    * PartitionFilters, so only live segment directories are read. */
  def segments(spark: SparkSession, path: String, sub: String,
      tokens: Seq[String], partition: String = "ingest"): DataFrame =
    inSegments(spark.read.parquet(s"$path/$sub"), tokens, partition)

  /** Drop every `<prefix><token>` directory under each sub-store whose
    * token is not in `referenced` — the deletion half of [[gcLayout]].
    * One listing per sub-store. */
  def gcUnreferenced(spark: SparkSession, path: String,
      referenced: Set[String], subDirs: Seq[String],
      prefix: String = "ingest="): Unit = {
    val f = fs(spark, path)
    subDirs.foreach { sub =>
      val p = new Path(s"$path/$sub")
      if (f.exists(p))
        f.listStatus(p).map(_.getPath.getName).toSeq
          .filter(_.startsWith(prefix))
          .map(_.stripPrefix(prefix))
          .filterNot(referenced)
          .foreach(t => f.delete(new Path(s"$path/$sub/$prefix$t"), true))
    }
  }

  /** One sub-store family inside a persisted store's layout: which
    * segment directories it owns (`<path>/<subDir>/<prefix><token>`) and
    * how to compute the tokens a given manifest VERSION references —
    * the shape [[retain]] needs to sweep any store under one policy. */
  final case class SubStore(subDirs: Seq[String], prefix: String,
      referenced: (SparkSession, String, Long) => Set[String])

  /** A persisted store's full segment layout. Stores whose versions ARE
    * the data (the curation manifest) have no sub-stores — retention is
    * pure version pruning for them. */
  final case class StoreLayout(subStores: Seq[SubStore])

  /** The common referenced-token computation: the tokens of the given
    * manifest kinds. */
  def kindTokens(kinds: String*): (SparkSession, String, Long) => Set[String] =
    (spark, path, v) => {
      val live = liveTokens(spark, s"$path/manifest", v)
      kinds.flatMap(live).toSet
    }

  /** The gc half of [[retain]]: drop segment directories referenced by
    * NO surviving manifest version — the per-store `gcXxxSegments`
    * entry points all delegate here with their store's layout. */
  def gcLayout(spark: SparkSession, path: String,
      layout: StoreLayout): Unit = {
    val versions = listVersions(spark, s"$path/manifest")
    layout.subStores.foreach { ss =>
      val referenced =
        versions.flatMap(v => ss.referenced(spark, path, v)).toSet
      gcUnreferenced(spark, path, referenced, ss.subDirs, ss.prefix)
    }
  }

  /** ONE retention policy for every persisted store (the round-13
    * unification of gcTextIndexSegments / gcLshSegments /
    * pruneManifestVersions): keep the `keep` most recent manifest
    * versions, then drop every segment directory no surviving version
    * references. The CURRENT version is never dropped; a pinned reader
    * of a SURVIVING version keeps every segment it needs, because
    * reference sets are computed across all survivors, not just the
    * head. */
  def retain(spark: SparkSession, path: String, keep: Int,
      layout: StoreLayout): Unit = {
    pruneVersions(spark, s"$path/manifest", keep)
    gcLayout(spark, path, layout)
  }
}
