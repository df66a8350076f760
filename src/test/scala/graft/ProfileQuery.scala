package graft

/** Test-scope profiling aid: per-Spark-job timings for one SparkEntry
  * query at sf0.1. Usage: sbt "Test/runMain graft.ProfileQuery q_dup_spans"
  *
  * Prints, per job: wall seconds, the driver-side GAP since the previous
  * job ended (planning/codegen/manifest work between actions), and the
  * job's callsite/description — the figures that tell job-overhead-bound
  * lifecycle queries apart from compute-bound scans.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_dup_spans")
    val spark = GraftSession.build()
    def execute(): Unit =
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.1")
        .write.format("noop").mode("overwrite").save()
    execute() // warm
    final case class Rec(start: Long, end: Long, desc: String)
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = scala.collection.concurrent.TrieMap.empty[Int, Rec]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val d = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .filter(_.nonEmpty)
            .orElse(j.stageInfos.lastOption.map(_.name))
            .getOrElse("")
          started.put(j.jobId, (System.nanoTime(), d))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t, d) = started.getOrDefault(j.jobId, (0L, ""))
          done.put(j.jobId, Rec(t, System.nanoTime(), d))
        }
      })
    val t0 = System.nanoTime()
    execute()
    val t1 = System.nanoTime()
    println(f"[profile] $name total ${(t1 - t0) / 1e9}%.3f s")
    Thread.sleep(300)
    var prevEnd = t0
    var gapSum = 0.0
    var jobSum = 0.0
    done.toSeq.sortBy(_._1).foreach { case (id, r) =>
      val sec = (r.end - r.start) / 1e9
      val gap = math.max(0.0, (r.start - prevEnd) / 1e9)
      gapSum += gap; jobSum += sec
      prevEnd = math.max(prevEnd, r.end)
      println(f"[profile] job $id%3d ${sec}%6.3f s  gap ${gap}%6.3f s  ${r.desc.take(100)}")
    }
    val tail = math.max(0.0, (t1 - prevEnd) / 1e9)
    println(f"[profile] sum(jobs) ${jobSum}%.3f s  sum(gaps) ${gapSum}%.3f s  tail ${tail}%.3f s  njobs ${done.size}")
    spark.stop()
  }
}
