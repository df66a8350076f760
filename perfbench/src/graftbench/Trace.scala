package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call from the benchmark into one layer's public
  * function. Times are System.nanoTime; `op` is the id of the workload op
  * (catalog run, stream cycle, curation pass) the span belongs to.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    op: Int, startNs: Long, var endNs: Long = -1L) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Spans are recorded only when tracing is on; with tracing off `span` is
  * the bare call. Everything stays in memory until the run ends.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = 0
  // epoch-ms ↔ nanoTime anchor, so listener event times (epoch ms) can be
  // placed inside span intervals
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nsOfEpochMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, layer,
        op, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Innermost span whose interval holds `ns` (spans nest, one client). */
  def innermostAt(ns: Long): Option[Span] = {
    var best: Option[Span] = None
    spans.foreach { s =>
      if (s.startNs <= ns && ns <= s.endNs &&
          best.forall(b => s.startNs >= b.startNs)) best = Some(s)
    }
    best
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def selfS(s: Span): Double =
    s.durS - children(s.id).map(_.durS).sum

  /** One JSON line per span, then the given job lines. */
  def dumpJsonl(path: java.nio.file.Path, jobLines: Seq[String]): Unit = {
    val lines = spans.toSeq.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfS(s)}}"""
    }
    java.nio.file.Files.write(path, (lines ++ jobLines).asJava)
  }
}

/** Per-job record built from scheduler events. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String,
    val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  @volatile var failed: Boolean = false
}

final class StageRec(val id: Int) {
  @volatile var submittedMs: Long = -1L
  @volatile var firstLaunchMs: Long = Long.MaxValue
  @volatile var runS: Double = 0
  @volatile var inBytes: Long = 0
  @volatile var outBytes: Long = 0
  @volatile var shuffleWrite: Long = 0
  @volatile var spill: Long = 0
  @volatile var failedTasks: Int = 0
}

/** Planning-phase interval of one query execution. */
final case class PlanRec(startMs: Long, endMs: Long)

/** Batch timing from StreamingQueryProgress.durationMs. */
final case class BatchRec(rows: Long, durMs: Map[String, Long])

/** Public-listener event sink: SparkListener (jobs, stages, tasks),
  * QueryExecutionListener (analysis/optimization/planning phases) and
  * StreamingQueryListener (micro-batch durations).
  */
final class Listeners extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()

  private def stage(id: Int): StageRec =
    stages.computeIfAbsent(id, i => new StageRec(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // an explicit callSite.short property wins; otherwise Spark names the
    // result stage (the job's newest) after the action's call site
    val cs = Option(e.properties).flatMap(p =>
      Option(p.getProperty("callSite.short"))).getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, cs, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.failed = e.jobResult != JobSucceeded
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo.stageId).submittedMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val s = stage(e.stageId)
    s.synchronized {
      s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.synchronized {
      if (e.taskInfo.failed) s.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runS += m.executorRunTime / 1000.0
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        plans.add(PlanRec(ph.values.map(_.startTimeMs).min,
          ph.values.map(_.endTimeMs).max))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      rec(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = rec(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        batches.add(BatchRec(e.progress.numInputRows,
          e.progress.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap))
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Listener delivery is asynchronous: wait until every started job has
    * ended and the event counts stop moving.
    */
  def drain(): Unit = {
    var last = -1
    var stable = 0
    val deadline = System.currentTimeMillis() + 10000
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val n = jobs.size + stages.size + plans.size
      val open = jobs.values.asScala.count(_.endMs < 0)
      if (n == last && open == 0) stable += 1 else stable = 0
      last = n
    }
  }
}
