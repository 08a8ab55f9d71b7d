package graft

import java.nio.file.{Files, Paths}

/** Dev harness (round 16): dumps `.explain("formatted")` for a
  * comma-separated list of SparkEntry queries to `<outDir>/<name>.txt` —
  * the before/after plan evidence the optimization rounds commit under
  * `plans/rNN/`. Not part of the driver contract.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <name>[,<name>...] [suffix]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val suffix = args.lift(3).getOrElse("")
    val spark = GraftSession.local(8, "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          val plan = fn(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), plan)
          println(s"[plandump] wrote $outDir/$name$suffix.txt")
        case None => System.err.println(s"[plandump] no such query: $name")
      }
    }
    spark.stop()
  }
}
