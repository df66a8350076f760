package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns the traced run's spans and listener records into the per-layer
  * figures and the per-layer table.
  *
  * A job belongs to the innermost span open when it started. Its layer is
  * the layer of the source file its `callSite.short` names ("parquet at
  * RawWriter.scala:21" → writers.raw) when that file is one of the
  * program's layer files, else the layer of its span.
  */
final class Layers(tr: Tracer, ls: Listeners, phaseStartNs: Long,
    phaseEndNs: Long) {

  val Order = Seq("catalog", "readers", "engine", "writers.raw", "writers.hub",
    "sources", "streaming", "operators", "bench")

  private val fileLayer: Map[String, String] = Map(
    "Catalog" -> "catalog", "Readers" -> "readers", "Ingest" -> "engine",
    "Transform" -> "engine", "RawWriter" -> "writers.raw",
    "StreamingIngest" -> "streaming") ++
    Seq("VersionedHub", "HubWriter", "FileStats", "CommitStore", "BloomIndex",
      "ColumnMapping", "Compactor", "Export").map(_ -> "writers.hub") ++
    Seq("HubCatalog", "HubDataSource", "HubMergeRule", "HubUpdateRule",
      "HubNotNullRule", "HubStreamSink", "HubStreamSource", "HubProcedures")
      .map(_ -> "sources") ++
    Seq("Dedup", "Similarity", "TextAnalysis", "QualityChecks", "Graph",
      "Materialize", "Multimodal", "QualityModel", "Sampling", "Search")
      .map(_ -> "operators")

  private val CallFile = """ at ([A-Za-z0-9_$]+)\.scala""".r

  final case class J(rec: JobRec, startNs: Long, endNs: Long,
      span: Option[Span], layer: String) {
    def durS: Double = (endNs - startNs) / 1e9
    private def st = rec.stageIds.flatMap(s =>
      Option(ls.stageJob.get(s)).filter(_ == rec.id)
        .flatMap(_ => Option(ls.stages.get(s))))
    def inBytes: Long = st.map(_.inBytes).sum
    def outBytes: Long = st.map(_.outBytes).sum
    def shuffle: Long = st.map(_.shuffleWrite).sum
    def spill: Long = st.map(_.spill).sum
    def runS: Double = st.map(_.runS).sum
    def failedTasks: Int = st.map(_.failedTasks).sum
    def schedWaitS: Double = st.filter(s => s.submittedMs > 0 &&
      s.firstLaunchMs != Long.MaxValue)
      .map(s => math.max(0L, s.firstLaunchMs - s.submittedMs) / 1000.0).sum
  }

  val jobs: Seq[J] = ls.jobs.values.asScala.toSeq.sortBy(_.id).map { r =>
    val s = tr.nsOfEpochMs(r.startMs)
    val e = if (r.endMs > 0) tr.nsOfEpochMs(r.endMs) else s
    val span = tr.innermostAt(s)
    val file = CallFile.findFirstIn(r.callSite).map {
      case CallFile(f) => f
    }
    val layer = file.flatMap(fileLayer.get)
      .getOrElse(span.fold("runtime")(_.layer))
    J(r, s, e, span, layer)
  }
  val phaseJobs: Seq[J] =
    jobs.filter(j => j.startNs >= phaseStartNs && j.startNs <= phaseEndNs)

  /** Jobs that started inside `s` or any span nested in it. */
  def jobsIn(s: Span): Seq[J] =
    jobs.filter(j => j.startNs >= s.startNs && j.startNs <= s.endNs)

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time inside [a, b] with no job running, seconds. */
  def gapS(a: Long, b: Long, js: Seq[J]): Double =
    math.max(0L, (b - a) - covered(js.map(j =>
      (math.max(a, j.startNs), math.min(b, j.endNs))).filter(x => x._2 > x._1))
    ) / 1e9

  def planS(a: Long, b: Long): Double =
    ls.plans.asScala.toSeq.map { p =>
      val s = tr.nsOfEpochMs(p.startMs); val e = tr.nsOfEpochMs(p.endMs)
      if (s >= a && s <= b) (e - s) / 1e9 else 0.0
    }.sum

  def spansNamed(p: String => Boolean): Seq[Span] =
    tr.spans.filter(s => p(s.name)).toSeq

  /** Wall time by layer: each span's self time, with the parts covered by
    * its own jobs moved to those jobs' layers.
    */
  def wallByLayer: Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    tr.spans.foreach { s =>
      val own = jobs.filter(_.span.exists(_.id == s.id))
      var moved = 0.0
      own.groupBy(_.layer).foreach { case (l, js) =>
        if (l != s.layer) {
          val c = covered(js.map(j => (math.max(s.startNs, j.startNs),
            math.min(s.endNs, j.endNs))).filter(x => x._2 > x._1)) / 1e9
          acc(l) += c
          moved += c
        }
      }
      acc(s.layer) += math.max(0.0, tr.selfS(s) - moved)
    }
    acc.toMap
  }

  /** The per-layer table: self time, jobs, job seconds, bytes, failures. */
  def table: Seq[String] = {
    val wall = wallByLayer
    val byLayer = phaseJobs.groupBy(_.layer)
    val head = "%-12s %9s %6s %9s %14s %8s".format("layer", "self_s",
      "jobs", "job_s", "bytes", "failures")
    val rows = (Order :+ "runtime").map { l =>
      val js = byLayer.getOrElse(l, Nil)
      "%-12s %9.3f %6d %9.3f %14d %8d".format(l, wall.getOrElse(l, 0.0),
        js.size, js.map(_.durS).sum,
        js.map(j => j.inBytes + j.outBytes + j.shuffle).sum,
        js.count(_.rec.failed) + js.map(_.failedTasks).sum)
    }
    head +: rows
  }

  /** Sum of the top-level spans' durations over the timed wall time; a
    * traced run fails unless it lies within `Layers.CoverageTolerance`
    * of 1.
    */
  val coverage: Double = tr.spans.filter(s => s.parent < 0 &&
    s.startNs >= phaseStartNs && s.endNs <= phaseEndNs).map(_.durS).sum /
    ((phaseEndNs - phaseStartNs) / 1e9)

  /** Every per-layer figure; 0 where the workload does not reach a layer. */
  def metrics(out: Outcome, cachedMb: Double, gcS: Double,
      failedFrac: Double): Seq[(String, Double, String)] = {
    def per(x: Double, n: Int): Double = if (n == 0) 0.0 else x / n
    val cycles = math.max(1, out.cycles)
    val runs = spansNamed(n => n == "bench.initial_load" ||
      n == "bench.catalog_run").size
    val sourceSpans = spansNamed(_.startsWith("engine.runSource:"))
    val sourceJobs = sourceSpans.flatMap(jobsIn)
    val readerJobs = phaseJobs.filter(_.layer == "readers")
    val rawJobs = phaseJobs.filter(_.layer == "writers.raw")
    // a hub commit's jobs: those of a write span that neither read the
    // source nor write RAW (a micro-batch's or a DML's jobs carry the
    // stream's or the SQL statement's call site, not VersionedHub's)
    val writeSpans = spansNamed(n => n.startsWith("engine.runSource:") ||
      n == "stream.upsert" || n.startsWith("sources.dml:"))
    def commitJobs(s: Span): Seq[J] = jobsIn(s).filterNot(j =>
      j.layer == "readers" || j.layer == "writers.raw")
    val hubJobs = writeSpans.flatMap(commitJobs)
    val commitGap = writeSpans.map { s =>
      val hj = commitJobs(s)
      if (hj.isEmpty) 0.0
      else gapS(hj.map(_.startNs).min, hj.map(_.endNs).max, jobsIn(s))
    }.sum
    val reads = spansNamed(_.startsWith("read."))
    val lookups = spansNamed(_ == "read.lookup")
    val dml = spansNamed(_.startsWith("sources.dml:"))
    val batches = ls.batches.asScala.toSeq
    def bm(k: String): Double =
      Stats.mean(batches.map(_.durMs.getOrElse(k, 0L) / 1000.0))
    val passes = spansNamed(_ == "bench.pass").size
    def stage(n: String): Double =
      per(spansNamed(_ == s"operators.$n").map(_.durS).sum, passes)
    val opJobs = spansNamed(_.startsWith("operators.")).flatMap(jobsIn)
    val history = spansNamed(_ == "writers.hub.history")
    Seq(
      ("catalog.load_s", Stats.mean(spansNamed(_ == "catalog.load")
        .map(_.durS)), "s"),
      ("readers.jobs", per(readerJobs.size, runs), "count"),
      ("readers.job_s", per(readerJobs.map(_.durS).sum, runs), "s"),
      ("readers.infer_jobs", per(readerJobs.count(j =>
        j.rec.callSite.startsWith("csv at") ||
          j.rec.callSite.startsWith("json at")), runs), "count"),
      ("engine.source_s_p50", if (sourceSpans.isEmpty) 0.0
        else Stats.p50(sourceSpans.map(_.durS)), "s"),
      ("engine.gap_s", per(sourceSpans.map(s =>
        gapS(s.startNs, s.endNs, jobsIn(s))).sum, runs), "s"),
      ("engine.source_read_ratio", if (out.sourceBytes == 0) 0.0
        else sourceJobs.map(_.inBytes).sum.toDouble /
          (out.sourceBytes + out.hubBaseBytes), "ratio"),
      ("writers.raw.job_s", per(rawJobs.map(_.durS).sum, runs), "s"),
      ("writers.raw.bytes_per_input_byte", if (out.sourceBytes == 0) 0.0
        else rawJobs.map(_.outBytes).sum.toDouble / out.sourceBytes, "ratio"),
      ("writers.raw.files", per(out.rawFiles, runs), "count"),
      ("writers.hub.commit_jobs", per(hubJobs.size, out.commits), "count"),
      ("writers.hub.commit_gap_s", per(commitGap, out.commits), "s"),
      ("writers.hub.bytes_written_per_batch_byte", if (out.batchBytes == 0) 0.0
        else hubJobs.map(_.outBytes).sum.toDouble / out.batchBytes, "ratio"),
      ("writers.hub.buckets_rewritten_per_commit",
        Stats.mean(out.bucketsRewritten.map(_.toDouble)), "count"),
      ("writers.hub.log_files", out.logFiles.toDouble, "count"),
      ("writers.hub.history_s", Stats.mean(history.map(_.durS)), "s"),
      ("writers.hub.lookup_bytes_read_frac", if (out.liveBytes == 0) 0.0
        else Stats.mean(lookups.map(s => jobsIn(s).map(_.inBytes).sum
          .toDouble)) / out.liveBytes, "ratio"),
      ("writers.hub.read_plan_s", Stats.mean(reads.map(s =>
        planS(s.startNs, s.endNs))), "s"),
      ("sources.dml_plan_s", Stats.mean(dml.map(s =>
        planS(s.startNs, s.endNs))), "s"),
      ("sources.dml_jobs", Stats.mean(dml.map(jobsIn(_).size.toDouble)),
        "count"),
      ("sources.dml_gap_s", Stats.mean(dml.map(s =>
        gapS(s.startNs, s.endNs, jobsIn(s)))), "s"),
      ("streaming.add_batch_s", bm("addBatch"), "s"),
      ("streaming.trigger_overhead_s", Stats.mean(batches.map(b =>
        (b.durMs.getOrElse("triggerExecution", 0L) -
          b.durMs.getOrElse("addBatch", 0L)) / 1000.0)), "s"),
      ("streaming.wal_commit_s", bm("walCommit"), "s"),
      ("streaming.query_planning_s", bm("queryPlanning"), "s"),
      ("operators.quality_s", stage("quality"), "s"),
      ("operators.exact_dedup_s", stage("exact_dedup"), "s"),
      ("operators.near_dedup_s", stage("near_dedup"), "s"),
      ("operators.components_s", stage("components"), "s"),
      ("operators.ann_s", stage("ann"), "s"),
      ("operators.components_jobs", per(spansNamed(_ == "operators.components")
        .map(jobsIn(_).size).sum, passes), "count"),
      ("operators.shuffle_bytes", per(opJobs.map(_.shuffle).sum, passes),
        "bytes"),
      ("operators.near_dup_recall", out.layer.getOrElse("near_dup_recall", 0.0),
        "ratio"),
      ("operators.ann_recall_at_k", out.layer.getOrElse("ann_recall_at_k", 0.0),
        "ratio"),
      ("runtime.jobs", per(phaseJobs.size, cycles), "count"),
      ("runtime.task_s", per(phaseJobs.map(_.runS).sum, cycles), "s"),
      ("runtime.gap_s", per(gapS(phaseStartNs, phaseEndNs, phaseJobs), cycles),
        "s"),
      ("runtime.plan_s", per(planS(phaseStartNs, phaseEndNs), cycles), "s"),
      ("runtime.sched_wait_s", per(phaseJobs.map(_.schedWaitS).sum, cycles),
        "s"),
      ("runtime.shuffle_bytes", per(phaseJobs.map(_.shuffle).sum, cycles),
        "bytes"),
      ("runtime.spill_bytes", per(phaseJobs.map(_.spill).sum, cycles), "bytes"),
      ("runtime.gc_s", per(gcS, cycles), "s"),
      ("runtime.cached_mb", cachedMb, "MB"),
      ("runtime.failed_tasks", phaseJobs.map(_.failedTasks).sum.toDouble,
        "count"),
      ("runtime.unattributed_jobs", phaseJobs.count(_.span.isEmpty).toDouble,
        "count"),
      ("ops_failed_frac", failedFrac, "ratio"),
      ("trace.span_coverage", coverage, "ratio"))
  }
}

object Layers {
  val CoverageTolerance = 0.02
}
