package graftbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

final case class RunCfg(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path)

/** One benchmark run in one JVM: set the engine up, run the workload for
  * the given seconds, check its outputs, print the result as the last line
  * of standard output. `--selftest 1` runs the output checks' self-test
  * instead and needs no engine.
  */
object Main {
  /** The end-to-end metrics every workload reports, with their units.
    * Throughput and latency are printed on the `# end_to_end` line only:
    * on a host whose steal swings from 10% to 40% between runs they do not
    * repeat. So is peak RSS, which reads the fixed heap more than the
    * program (see perfbench/README.md). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "cpu_ms_per_op" -> "ms",
    "live_heap_mb" -> "MB")

  /** Every per-layer metric with its unit: each workload's own, in the
    * order of BENCHMARK.json. */
  val PerLayer: Seq[(String, String)] = Canary.Layer ++ Corpus.Layer

  /** Session starts per run; setup_s is the median of their CPU time. */
  val SetupSamples = 15

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.get("selftest").contains("1")) System.exit(if (SelfTest.run()) 0 else 1)
    val t0Ms = a("t0-ms").toLong
    def start() = graft.GraftSession.local(cores = a("threads").toInt, appName = "graftbench")
    // the first start is the JVM's, counted from its launch; each further
    // one stops the session before it and is counted alone. CPU time, not
    // wall time: the host's steal doubled the wall time of a start between
    // two sets of runs of one commit
    var spark = start()
    val coldWallS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val cold = (Proc.cpuMs / 1000.0, coldWallS)
    val setups = cold +: (1 until SetupSamples).map { _ =>
      spark.stop()
      val cpu0 = Proc.threadCpuNs
      val t0 = System.nanoTime()
      spark = start()
      val wall = (System.nanoTime() - t0) / 1e9
      (Proc.cpuSinceS(cpu0), wall)
    }
    System.err.println(s"# setups_cpu_s ${setups.map(_._1).mkString(",")}")
    System.err.println(s"# setups_wall_s ${setups.map(_._2).mkString(",")}")
    val cfg = RunCfg(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", Paths.get(a("work")))
    println(run(spark, cfg, setups))
    System.out.flush()
    // the run's files are removed by the launcher; Spark's shutdown hooks
    // would only add several seconds of teardown to every run
    Runtime.getRuntime.halt(0)
  }

  def run(spark: SparkSession, cfg: RunCfg, setups: Seq[(Double, Double)]): String = {
    val tracer = new Tracer(cfg.trace)
    val probe = if (cfg.trace) Some(new Probe(spark)) else None
    val rq0 = Proc.runQueueWaitMs
    val steal0 = Proc.stealMs
    val gc0 = Proc.gcMs
    val jit0 = Proc.jitMs
    val o = cfg.workload match {
      case "canary_catchup" => Canary.run(spark, cfg, tracer, probe)
      case "corpus_curate" => Corpus.run(spark, cfg, tracer, probe)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    probe.foreach(_.close())
    val own = if (cfg.workload == "canary_catchup") Canary.Layer else Corpus.Layer
    require(o.perLayer.toMap.keySet == (if (cfg.trace) own.map(_._1).toSet else Set.empty[String]),
      s"${cfg.workload} reports per-layer ${o.perLayer.toMap.keys.toSeq.sorted.mkString(",")}")
    // a layer this workload does not drive reads 0, once the listeners
    // show it did no work: no micro-batch in the corpus run, no curation,
    // dedup or native-expression call in the canary run
    if (cfg.trace) require(
      if (cfg.workload == "canary_catchup") !tracer.names.exists(n => n.startsWith("operators.") || n.startsWith("expressions."))
      else probe.get.progress.isEmpty, s"${cfg.workload} drove a layer it does not report")
    tracer.write(cfg.work.getParent.resolve(s"spans-${cfg.workload}.jsonl"))
    o.endToEnd.put("setup_s", Stats.median(setups.map(_._1)), "s")
    o.endToEnd.put("setup_wall_s", Stats.median(setups.map(_._2)), "s")
    o.endToEnd.put("cold_setup_s", setups.head._2, "s")
    o.endToEnd.put("peak_rss_mb", Proc.peakRssMb, "MB")
    val reported = o.endToEnd.toMap
    require(EndToEnd.forall { case (n, u) => reported.get(n).exists(_._2 == u) },
      s"${cfg.workload} reports ${reported.keys.mkString(",")}")
    val diag = new Metrics
    diag.put("run_queue_wait_ms", Proc.runQueueWaitMs - rq0, "ms")
    diag.put("host_steal_ms", Proc.stealMs - steal0, "ms")
    diag.put("gc_ms", Proc.gcMs - gc0, "ms")
    diag.put("jit_ms", Proc.jitMs - jit0, "ms")
    System.err.println(s"# notes ${o.notes.mkString(" ")}; workload done at ${Proc.uptimeS} s")
    // the traced run's own end-to-end figures: beside an untraced run's,
    // they give the tracing overhead
    println(s"# end_to_end ${o.endToEnd.toJson}")
    println(s"# diagnostics ${diag.toJson}")
    val m = new Metrics
    if (cfg.trace) {
      val have = o.perLayer.toMap
      PerLayer.foreach { case (n, u) => m.put(n, have.get(n).map(_._1).getOrElse(0.0), u) }
    } else EndToEnd.foreach { case (n, u) => m.put(n, o.endToEnd.toMap(n)._1, u) }
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": ${m.toJson}}"""
  }
}
