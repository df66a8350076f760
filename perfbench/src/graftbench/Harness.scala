package graftbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }
  /** Every digit as measured; a non-finite value (a failed op poisoning a
    * latency) is written as 1e9 so the record stays valid JSON.
    */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "1.0E9" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Median (mean of the two middle values for an even count). */
  def p50(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Fs {
  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum
    else f.length()
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else Seq(f)
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete()
  }
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes("UTF-8"))
  }
}

/** A check that found the program's output wrong. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val work: File) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** latency samples per op kind; a failed op adds +Inf */
  val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** input rows / bytes the generator produced, per input kind */
  val inputs = mutable.LinkedHashMap.empty[String, Long]

  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  /** Run one op: counts it, records its latency under `kind` (when given),
    * and turns an exception or a failed check into a counted failure.
    */
  def op[T](kind: String, timed: Boolean = true)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      if (timed) samples(kind) += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        if (timed) samples(kind) += Double.PositiveInfinity
        val msg = s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
        if (failures.size < 20) failures += msg
        System.err.println(s"[graftbench] op failed: $msg")
        None
    }
  }

  def samples(kind: String): mutable.ArrayBuffer[Double] =
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty)

  def addInput(kind: String, n: Long): Unit =
    inputs(kind) = inputs.getOrElse(kind, 0L) + n

  def dir(rel: String): File = {
    val d = new File(work, rel)
    d.mkdirs()
    d
  }
}

/** What a workload reports: the end-to-end figures and the layer counters
  * that only the workload itself knows (recalls, bytes it generated).
  */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** the figures under their workload-specific names, for the report */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** write ops (commit count basis for per-commit layer figures) */
  var commits = 0
  /** hub dirs whose history the traced run probes */
  var hubs: Seq[String] = Nil
  /** bytes of the inputs each write op consumed, summed */
  var batchBytes = 0L
  var sourceBytes = 0L
  /** units of work (catalog runs, stream cycles, curation passes) */
  var cycles = 0
  // traced-run probes
  var hubBaseBytes = 0L
  var rawFiles = 0L
  var logFiles = 0L
  var liveBytes = 0L
  val bucketsRewritten = mutable.ArrayBuffer.empty[Int]
  val probedVersion = mutable.Map.empty[String, Int]
}

trait Workload {
  def name: String
  /** Smallest number of write ops per run, so figures taken "after the
    * K-th write" exist on every run.
    */
  def minWrites: Int
  /** Generate this run's starting inputs (and seed hubs) under `dir`. */
  def setupData(ctx: Ctx, dir: File): Unit
  /** Warm the workload's code paths (JIT, codegen) after set-up. */
  def warmup(ctx: Ctx, dir: File): Unit
  /** The timed closed loop. */
  def run(ctx: Ctx, dir: File, out: Outcome): Unit
  /** The output checks that need the whole run (untimed). */
  def verify(ctx: Ctx, dir: File, out: Outcome): Unit
}

object Harness {
  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      .config("spark.sql.warehouse.dir",
        new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The fixed CPU-bound probe graft.Bench.calibrate runs. */
  def calibrate(spark: SparkSession): Double = {
    System.gc()
    Thread.sleep(50)
    val t0 = System.nanoTime()
    spark.range(0L, 400000000L, 1L, 4)
      .selectExpr("sum(id * (id % 7)) AS v")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def heapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(100); System.gc(); Thread.sleep(100)
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }
}
