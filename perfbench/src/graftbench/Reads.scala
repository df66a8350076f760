package graftbench

import java.io.File

import graft.writers.VersionedHub

import org.apache.spark.sql.{Row, SparkSession}

/** The three hub reads every workload issues after its writes, through
  * the HubCatalog SQL surface: a full-snapshot aggregate, a key point
  * lookup and a time-travel aggregate. Each is an op whose result is
  * checked by the caller.
  */
object Reads {
  val Kinds = Seq("scan", "lookup", "travel")

  private var catalogs = 0

  /** Register a HubCatalog over `base` under a fresh name (a session keeps
    * the first instance of a catalog name) and return the name.
    */
  def register(spark: SparkSession, base: File): String = {
    catalogs += 1
    val name = s"hub$catalogs"
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.HubCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.base", base.getAbsolutePath)
    name
  }

  def scan(ctx: Ctx, table: String, aggs: String)(check: Row => Unit): Unit =
    ctx.op("scan") {
      val r = ctx.tracer.span("read.scan", "sources")(
        ctx.spark.sql(s"SELECT $aggs FROM $table").head())
      check(r)
    }

  def lookup(ctx: Ctx, table: String, pred: String)(
      check: Array[Row] => Unit): Unit =
    ctx.op("lookup") {
      val rs = ctx.tracer.span("read.lookup", "sources")(
        ctx.spark.sql(s"SELECT * FROM $table WHERE $pred").collect())
      check(rs)
    }

  def travel(ctx: Ctx, table: String, version: Int, aggs: String)(
      check: Row => Unit): Unit =
    ctx.op("travel") {
      val r = ctx.tracer.span("read.travel", "sources")(ctx.spark.sql(
        s"SELECT $aggs FROM $table VERSION AS OF $version").head())
      check(r)
    }

  /** Bytes the latest snapshot references (versioned hub) or holds (flat
    * hub).
    */
  def liveBytes(spark: SparkSession, path: String): Long =
    if (new File(path, "_log").isDirectory)
      VersionedHub.history(spark, path).last.fileStats.values.map(_.bytes).sum
    else Fs.files(new File(path)).filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum

  /** Hub bytes on disk ÷ live snapshot bytes, over all `hubs`. */
  def spaceAmp(spark: SparkSession, hubs: Seq[String]): Double =
    hubs.map(h => Fs.sizeOf(new File(h))).sum.toDouble /
      hubs.map(liveBytes(spark, _)).sum

  /** The read figures, printed and not gated: the per-kind medians over
    * the timed phase (a failed read counts as +Inf) and `read_s_p50`, one
    * read of each kind at its median. Reads of 0.1-0.5 s follow the host's
    * speed: over ten runs `read_s_p50` spread 0.28, past the largest bound
    * a gated metric may have.
    */
  def named(ctx: Ctx, out: Outcome): Unit = {
    val p50 = Kinds.map(k => k -> Stats.p50(ctx.samples(k).toSeq))
    p50.foreach { case (k, v) => out.named(s"${k}_s_p50") = (v, "s") }
    out.named("read_s_p50") = (p50.map(_._2).sum, "s")
  }

  /** Traced runs only, once per cycle: time the public
    * `VersionedHub.history` on each probed hub (log-fold growth), and read
    * from it the buckets each new version rewrote, the log file count and
    * the live snapshot bytes.
    */
  def probe(ctx: Ctx, out: Outcome): Unit =
    if (ctx.tracer.enabled) out.hubs.foreach { h =>
      val hist = ctx.tracer.span("writers.hub.history", "writers.hub")(
        VersionedHub.history(ctx.spark, h))
      val seen = out.probedVersion.getOrElse(h, Int.MaxValue)
      hist.zip(hist.drop(1)).foreach { case (a, b) =>
        if (b.version > seen && a.buckets.nonEmpty)
          out.bucketsRewritten += (a.buckets.keySet ++ b.buckets.keySet)
            .count(k => a.buckets.get(k) != b.buckets.get(k))
      }
      hist.lastOption.foreach { v =>
        out.probedVersion(h) = v.version
        out.liveBytes = v.fileStats.values.map(_.bytes).sum
      }
      out.logFiles = Option(new File(h, "_log").listFiles()).toSeq.flatten
        .count(f => !f.getName.endsWith(".crc"))
    }
}
