package graftbench

import java.io.File

import scala.collection.mutable

/** One benchmark run of one workload, in its own JVM:
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --work DIR --record FILE --spans FILE
  *                   [--source DIGEST] [--git COMMIT]
  *
  * Set-up (session start, input generation and hub seeding repeated
  * `SetupReps` times, warm-up), the timed closed loop, a forced-GC heap
  * reading, the output checks, and for a traced run the per-layer figures
  * and the span dump. The whole record goes to `--record` as one JSON
  * object and the human-readable report to stdout.
  */
object Main {
  val Workloads: Seq[Workload] = Seq(IngestCatalog, HubStreamRw, CorpusCurate)
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == args("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${args("workload")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val work = new File(args("work")).getAbsoluteFile
    work.mkdirs()

    val tSession = System.nanoTime()
    val spark = Harness.session(work)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val tracer = new Tracer(traced)
    val ctx = new Ctx(spark, seed, seconds, tracer, work)
    // data set-up, repeated; the last copy is the one the run uses
    val dataS = (1 to SetupReps).map { i =>
      val d = new File(work, s"setup$i")
      if (i > 1) Fs.rm(new File(work, s"setup${i - 1}"))
      ctx.inputs.clear()
      val t0 = System.nanoTime()
      wl.setupData(ctx, d)
      (System.nanoTime() - t0) / 1e9
    }
    val dir = new File(work, s"setup$SetupReps")
    val tWarm = System.nanoTime()
    wl.warmup(ctx, dir)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + Stats.p50(dataS) + warmS

    val host = mutable.LinkedHashMap[String, String](
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "load_avg_start" -> Json.num(Harness.loadAvg()),
      "calib_start_s" -> Json.num(Harness.calibrate(spark)),
      "jvm" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "source" -> Json.str(args.getOrElse("source", "unknown")),
      "git" -> Json.str(args.getOrElse("git", "none")))

    val listeners = new Listeners
    if (traced) listeners.register(spark)
    tracer.spans.clear() // warm-up and set-up are not traced
    val out = new Outcome
    val gc0 = Harness.gcSeconds()
    val tCalib = System.nanoTime()
    val phase0 = System.nanoTime()
    wl.run(ctx, dir, out)
    val phase1 = System.nanoTime()
    val gcS = Harness.gcSeconds() - gc0
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val heap = Harness.heapMb()
    val tVerify = System.nanoTime()
    wl.verify(ctx, dir, out)
    val verifyS = (System.nanoTime() - tVerify) / 1e9

    out.e2e("setup_s") = setupS
    out.e2e("retained_heap_mb") = heap
    out.named("setup_s") = (setupS, "s")
    out.named("retained_heap_mb") = (heap, "MB")
    out.named("space_amp") = (out.e2e("space_amp"), "ratio")
    val layers = if (!traced) None else {
      listeners.drain()
      Some(new Layers(tracer, listeners, phase0, phase1))
    }
    layers.foreach { l =>
      ctx.op("check.span_coverage", timed = false)(ctx.check(
        math.abs(1 - l.coverage) <= Layers.CoverageTolerance,
        s"span self times cover ${l.coverage} of the timed wall time, " +
          s"outside 1 ± ${Layers.CoverageTolerance}"))
    }
    val failedFrac = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    out.named("ops_failed_frac") = (failedFrac, "ratio")

    val layerRows = layers.toSeq.flatMap { l =>
      l.table.foreach(row => println(s"[layers] $row"))
      tracer.dumpJsonl(new File(args("spans")).toPath, l.jobs.map(j =>
        Json.obj(Seq("job" -> j.rec.id.toString,
          "call_site" -> Json.str(j.rec.callSite),
          "span" -> j.span.fold(-1)(_.id).toString,
          "layer" -> Json.str(j.layer), "start_ns" -> j.startNs.toString,
          "end_ns" -> j.endNs.toString, "in_bytes" -> j.inBytes.toString,
          "out_bytes" -> j.outBytes.toString,
          "shuffle_bytes" -> j.shuffle.toString))))
      l.metrics(out, cachedMb, gcS, failedFrac)
    }

    host("calib_end_s") = Json.num(Harness.calibrate(spark))
    host("load_avg_end") = Json.num(Harness.loadAvg())
    spark.stop()

    val unit = Map("setup_s" -> "s", "write_s_p50" -> "s",
      "rows_per_s" -> "rows/s", "space_amp" -> "ratio",
      "retained_heap_mb" -> "MB")
    def metric(v: Double, u: String) =
      Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    val record = Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "seed" -> seed.toString,
      "seconds" -> seconds.toString,
      "trace" -> (if (traced) "1" else "0"),
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "failures" -> ctx.failures.map(Json.str).mkString("[", ",", "]"),
      "host" -> Json.obj(host.toSeq),
      "inputs" -> Json.obj(ctx.inputs.toSeq.map { case (k, v) =>
        k -> v.toString }),
      "samples" -> Json.obj(ctx.lat.toSeq.map { case (k, v) =>
        k -> v.size.toString }),
      "latencies_s" -> Json.obj(ctx.lat.toSeq.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") }),
      "phases_s" -> Json.obj(Seq("session" -> Json.num(sessionS),
        "warmup" -> Json.num(warmS),
        "before_timed" -> Json.num((tCalib - tSession) / 1e9),
        "timed" -> Json.num((phase1 - phase0) / 1e9),
        "verify" -> Json.num(verifyS),
        "data" -> dataS.map(Json.num).mkString("[", ",", "]"))),
      "end_to_end" -> Json.obj(out.e2e.toSeq.map { case (k, v) =>
        k -> metric(v, unit(k)) }),
      "named" -> Json.obj(out.named.toSeq.map { case (k, (v, u)) =>
        k -> metric(v, u) }),
      "per_layer" -> Json.obj(layerRows.map { case (k, v, u) =>
        k -> metric(v, u) })))
    Fs.write(new File(args("record")).toPath, record + "\n")
    // stop at once: the JVM's shutdown must not wait on stray pool threads
    System.exit(0)
  }
}
