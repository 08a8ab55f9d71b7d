package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Deterministic hashing for the seeded generators: every draw is a pure
  * function of (seed, coordinates), so one minute, round or document can
  * be generated without replaying the ones before it.
  */
object Rng {
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def hash(parts: Long*): Long = parts.foldLeft(0x5DEECE66DL)((h, p) => mix(h ^ p))
  /** Uniform in [0, n). */
  def below(n: Int, parts: Long*): Int =
    java.lang.Long.remainderUnsigned(hash(parts: _*), n.toLong).toInt
  def unit(parts: Long*): Double = (hash(parts: _*) >>> 11).toDouble / (1L << 53)

  /** A Zipf(s) sampler over ranks 0 until n by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it; with
    * fewer than forty samples that percentile would be no tail, so the
    * slowest sample stands in for it.
    */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length >= 40) s(s.length - 11) else s.last
  }
}

/** Readings of this process from /proc: peak RSS, run-queue wait of every
  * thread, and host steal — the last two tell a contended run apart.
  */
object Proc {
  private def lines(p: String): Seq[String] =
    try Files.readAllLines(Paths.get(p)).asScala.toSeq
    catch { case _: java.io.IOException => Seq.empty }

  def peakRssMb: Double =
    lines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Sum over live threads of the time spent runnable but waiting for a
    * CPU (second field of schedstat), in ms. */
  def runQueueWaitMs: Double = {
    val tasks = Paths.get("/proc/self/task")
    val ids = try Files.list(tasks).iterator().asScala.toList
      catch { case _: java.io.IOException => Nil }
    ids.map { t =>
      lines(t.resolve("schedstat").toString).headOption
        .map(_.split(" ")(1).toDouble / 1e6).getOrElse(0.0)
    }.sum
  }

  /** Host steal time, all CPUs, in ms (USER_HZ = 100). */
  def stealMs: Double =
    lines("/proc/stat").find(_.startsWith("cpu ")).map { l =>
      l.split("\\s+")(8).toDouble * 10.0
    }.getOrElse(0.0)

  /** Memory in use after a full collection, in MB: the heap plus the
    * class metadata, leaving out the JIT's code cache. What the run
    * retains, apart from when its collections and compilations happen. */
  def liveMb: Double = {
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filterNot(_.getName.startsWith("CodeHeap"))
    def used = { System.gc(); pools.map(_.getUsage.getUsed / 1048576.0).sum }
    // collect until the figure settles: Spark's context cleaner releases
    // the blocks of frames found unreferenced by one collection only after
    // it, and the next collection frees them
    val seen = mutable.ArrayBuffer(used)
    while (seen.size < 8 && (seen.size < 3 || math.abs(seen(seen.size - 2) - seen.last) > 0.5)) {
      Thread.sleep(500)
      seen += used
    }
    System.err.println(s"# live_mb ${seen.map(v => f"$v%.1f").mkString(",")}")
    seen.last
  }

  def uptimeS: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def jitMs: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def gcMs: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** User + system time of a /proc stat line, in ms (USER_HZ = 100). */
  private def statCpuMs(path: String): Double =
    lines(path).headOption.map { l =>
      val f = l.substring(l.lastIndexOf(')') + 2).split(" ")
      (f(11).toDouble + f(12).toDouble) * 10.0
    }.getOrElse(0.0)

  /** CPU time of this JVM less its JIT compiler threads', in ms. In runs
    * this short the compilers spend more CPU than the engine, and a
    * different amount every run. */
  def cpuMs: Double =
    statCpuMs("/proc/self/stat") - compilers.map(t => statCpuMs(t.resolve("stat").toString)).sum

  private def tasks: List[Path] =
    try Files.list(Paths.get("/proc/self/task")).iterator().asScala.toList
    catch { case _: java.io.IOException => Nil }

  private def compilers: List[Path] =
    tasks.filter(t => lines(t.resolve("comm").toString).headOption.exists(_.contains("CompilerThre")))

  /** CPU time in ns of each live thread but the JIT compilers', by thread
    * id: the first field of schedstat, finer than /proc/self/stat's 10 ms. */
  def threadCpuNs: Map[String, Long] = {
    val skip = compilers.toSet
    tasks.filterNot(skip).flatMap { t =>
      lines(t.resolve("schedstat").toString).headOption.map(l => t.getFileName.toString -> l.split(" ")(0).toLong)
    }.toMap
  }

  /** CPU in seconds the threads alive now spent since `before` was read. */
  def cpuSinceS(before: Map[String, Long]): Double =
    threadCpuNs.map { case (t, ns) => ns - before.getOrElse(t, 0L) }.sum / 1e9
}

object Loop {
  /** Runs whole rounds for about `seconds`: the first always, each further
    * one only while it is expected to end inside the time. Every run thus
    * attempts whole rounds of the same operations. Returns the rounds run. */
  def rounds(seconds: Double)(round: Int => Unit): Int = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var n = 0
    System.err.println(s"# timed loop starts at ${Proc.uptimeS} s")
    while (n == 0 || elapsed + elapsed / n <= seconds) { round(n); n += 1 }
    System.err.println(s"# timed loop ends at ${Proc.uptimeS} s after $n rounds")
    n
  }
}

/** One result row of a run: end-to-end or per-layer metrics by name. */
final class Metrics {
  private val out = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, value: Double, unit: String): Unit = out(name) = (value, unit)
  def toMap: Map[String, (Double, String)] = out.toMap
  def toJson: String = out.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).underlying.toPlainString
    s""""$k": {"value": $num, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}

/** What a workload hands back: the op-level outcome and its metrics. */
final case class Outcome(attempted: Int, failed: Int, correct: Boolean,
    endToEnd: Metrics, perLayer: Metrics, notes: Seq[String])
