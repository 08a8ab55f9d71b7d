package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one build-once cache for session artifacts: persisted stores
  * written to a temp directory, and fenced frames (graph edges, dedup
  * cluster labels, mutual-kNN edges) that several driver queries read.
  * An entry is built once per (Spark application, name, sfDir) and
  * served from the cache until it is released.
  *
  *  - `SessionCache(spark, name, sfDir)(build)` caches a value (a fenced
  *    frame or a case class of them);
  *  - `SessionCache.directory(spark, prefix, sfDir)(build)` creates a
  *    temp directory named after `prefix`, lets `build` write a store
  *    into it, and caches its path;
  *  - `SessionCache.release(spark, name, sfDir)` removes the entry
  *    FIRST, then unpersists the RDDs its build persisted, then deletes
  *    its directory — a later lookup rebuilds from scratch instead of
  *    reading a truncated lineage or a half-deleted store.
  *
  * Lookups take one lock. Each lookup first evicts the entries of DEAD
  * applications (deleting their directories; their blocks went with
  * their context), so a long-lived JVM cycling Spark apps pins nothing
  * for its lifetime. First builds serialize under the lock, which also
  * keeps builds that toggle session-global confs (the graph edge build
  * flips AQE around its fences) from observing each other's toggle. The
  * lock is reentrant and the build runs outside any map operation, so a
  * build may look up another entry. Directories still cached when the
  * JVM exits are deleted by a shutdown hook.
  *
  * RDD attribution: a build's RDDs are the `getPersistentRDDs` ids that
  * appear during it, minus those of entries built inside it. That
  * assumes no OTHER thread persists RDDs during the build — true for
  * `graft.Bench`'s single-threaded sweep and the sequential test
  * harness. A concurrent foreign persist would be attributed to the
  * entry and unpersisted by its release, so do not call [[release]] from
  * a multi-threaded driver.
  */
object SessionCache {

  private final case class Entry(value: AnyRef, rddIds: Set[Int],
      dir: Option[String])

  /** Keyed by (applicationId, (name, sfDir)); written under the lock,
    * concurrent so the shutdown hook can read it without the lock. */
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, (String, String)),
      Entry]

  sys.addShutdownHook(entries.values.asScala.foreach(e => delete(e.dir)))

  /** The cached value for (name, sfDir), built by `build` on first use. */
  def apply[T <: AnyRef](spark: SparkSession, name: String, sfDir: String)
      (build: => T): T =
    getOrBuild(spark, name, sfDir)((build, None)).asInstanceOf[T]

  /** The cached store directory for (prefix, sfDir): on first use, a new
    * temp directory named `prefix…` that `build` writes the store into. */
  def directory(spark: SparkSession, prefix: String, sfDir: String)
      (build: String => Unit): String =
    getOrBuild(spark, prefix, sfDir) {
      val p = Files.createTempDirectory(prefix).toString
      try build(p)
      catch { case e: Throwable => delete(Some(p)); throw e }
      (p, Some(p))
    }.asInstanceOf[String]

  /** Forget the entry, then free its blocks and delete its directory. */
  def release(spark: SparkSession, name: String, sfDir: String): Unit =
    synchronized {
      val sc = spark.sparkContext
      val removed = Option(entries.remove((sc.applicationId, (name, sfDir))))
      removed.foreach { e =>
        e.rddIds.foreach(id =>
          sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
        delete(e.dir)
      }
    }

  private def getOrBuild(spark: SparkSession, name: String, sfDir: String)
      (build: => (AnyRef, Option[String])): AnyRef = synchronized {
    val sc = spark.sparkContext
    val appId = sc.applicationId
    for ((k, e) <- entries.asScala.toList if k._1 != appId) {
      entries.remove(k)
      delete(e.dir)
    }
    val key = (appId, (name, sfDir))
    Option(entries.get(key)).map(_.value).getOrElse {
      val before = sc.getPersistentRDDs.keySet.toSet
      val (value, dir) = build
      val nested = entries.values.asScala.flatMap(_.rddIds).toSet
      entries.put(key,
        Entry(value, sc.getPersistentRDDs.keySet.toSet -- before -- nested,
          dir))
      value
    }
  }

  private def delete(dir: Option[String]): Unit =
    dir.foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
}
