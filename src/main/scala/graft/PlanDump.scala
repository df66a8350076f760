package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence dump: `.explain("formatted")` output for
  * named SparkEntry queries, one file per query, for plans/r{N}/ before /
  * after comparisons.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <query...>
  *
  * The session is [[GraftSession.build]]'s, the one Bench runs on, so the
  * dumped initial plans match what the bench executes. Lifecycle queries
  * run their side-effecting setup while the DataFrame is built; only the
  * returned frame's plan is dumped.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <query...>")
    val sfDir = args(0)
    val outDir = args(1)
    val selected = SparkEntry.select(args.drop(2).toSeq)
    val spark = GraftSession.build()
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = fn(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"$name.txt"), formatted)
      println(s"wrote $outDir/$name.txt")
    }
    spark.stop()
  }
}
