package graft.engine

import java.time.{LocalDate, ZoneOffset}

import graft.catalog.{Source, SourceSystem, YamlCatalog}
import graft.conf.EngineConfig
import graft.readers.Readers
import graft.transform.Transform
import graft.writers.{RawWriter, VersionedHub}

import org.apache.log4j.Logger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The per-source ingestion pipeline, mirroring the reference's
  * `framework.run` (metadata_ingestion/src/ingestion_framework/
  * framework.py:13-40): load catalog → build config → for each enabled
  * source: read → stamp audit columns → write RAW → transform → write HUB.
  *
  * Differences from the reference, by design:
  *   - native JVM (no Py4J hop per DataFrame call);
  *   - sources may be processed concurrently (`parallelism > 1`): each
  *     source's pipeline is independent driver-side work, and overlapping
  *     them keeps the cluster busy during per-source skew. The reference is
  *     strictly sequential (framework.py:18).
  */
object Ingest {

  private val log = Logger.getLogger(getClass)

  final case class SourceResult(id: String, rawPath: String, hubPath: String)

  def run(
      spark: SparkSession,
      sourcesYaml: String,
      env: Option[String] = None,
      parallelism: Int = 1
  ): Seq[SourceResult] =
    runCatalog(spark, YamlCatalog.load(sourcesYaml), env, parallelism)

  /** One source's failure, kept alongside the successes when the run is
    * error-isolated.
    */
  final case class SourceFailure(id: String, error: Throwable)

  /** Thrown at the END of an error-isolated run: every healthy source has
    * already ingested; the message lists exactly which sources failed.
    */
  final class PartialIngestFailure(
      val failures: Seq[SourceFailure],
      val succeeded: Seq[SourceResult])
      extends RuntimeException(
        s"${failures.size} source(s) failed: " +
          failures.map(f => s"${f.id} (${f.error.getMessage})").mkString("; "))

  def runCatalog(
      spark: SparkSession,
      system: SourceSystem,
      env: Option[String] = None,
      parallelism: Int = 1,
      /** false (default) = reference parity: first failure aborts the run.
        * true = per-source isolation: every healthy source ingests; failures
        * are collected and thrown together as [[PartialIngestFailure]] at
        * the end — the behavior a nightly run over hundreds of sources
        * needs (one broken upstream must not starve the other 199).
        */
      continueOnError: Boolean = false
  ): Seq[SourceResult] = {
    val cfg = EngineConfig.fromDefaults(system.defaults, env)
    val enabled = system.sources.filter(_.enabled)
    log.info(s"ingest: ${enabled.size}/${system.sources.size} sources enabled (env=${cfg.env})")
    def attempt(s: Source): Either[SourceFailure, SourceResult] =
      if (!continueOnError) Right(runSource(spark, cfg, s))
      else
        try Right(runSource(spark, cfg, s))
        catch {
          case scala.util.control.NonFatal(e) =>
            log.error(s"[${s.id}] failed: ${e.getMessage}")
            Left(SourceFailure(s.id, e))
        }
    val outcomes: Seq[Either[SourceFailure, SourceResult]] =
      if (parallelism <= 1) enabled.map(attempt)
      else {
        import java.util.concurrent.Executors
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = Executors.newFixedThreadPool(parallelism)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try Await.result(
          Future.sequence(enabled.map(s => Future(attempt(s)))),
          Duration.Inf
        )
        finally pool.shutdown()
      }
    val failures = outcomes.collect { case Left(f) => f }
    val results = outcomes.collect { case Right(r) => r }
    if (failures.nonEmpty) throw new PartialIngestFailure(failures, results)
    results
  }

  def runSource(spark: SparkSession, cfg: EngineConfig, s: Source): SourceResult = {
    log.info(s"[${s.id}] reading type=${s.`type`}")
    val df = Readers.get(s.`type`)(spark, s.options)
    val stamped = stampAudit(df, s.id)
    val rawPath = s"${cfg.rawBase}/${s.domain}/${s.entity}"
    log.info(s"[${s.id}] writing RAW → $rawPath")
    RawWriter.write(stamped, rawPath, s.rawPartitions)
    val hubDf = Transform.toHub(stamped, s)
    val hubPath = s"${cfg.hubBase}/${s.domain}/${s.entity}"
    val keys = s.hubPrimaryKeys
    log.info(s"[${s.id}] writing HUB → $hubPath (keys=${keys.mkString(",")})")
    if (keys.isEmpty)
      VersionedHub.write(spark, hubDf, hubPath, Seq.empty) // keyless: append
    else if (VersionedHub.latest(spark, hubPath).exists(v =>
        v.nBuckets.isEmpty && v.rows > 0))
      // a hub adopted by VersionedHub.convert is flat: merge in its layout
      VersionedHub.write(spark, hubDf, hubPath, keys)
    else
      VersionedHub.writeBucketed(spark, hubDf, hubPath, keys,
        s.hubBuckets.getOrElse(DefaultHubBuckets))
    if (s.hubZorder.nonEmpty) { // keyless only: YamlCatalog.load refuses keys
      val Seq(za, zb) = s.hubZorder
      log.info(s"[${s.id}] z-order compaction on ($za, $zb)")
      VersionedHub.optimizeZOrder(spark, hubPath, za, zb)
    }
    SourceResult(s.id, rawPath, hubPath)
  }

  /** Default bucket count for versioned keyed hubs when the catalog doesn't
    * set `hub_buckets`. Bucket count is immutable once a table is written and
    * bounds merge parallelism AND the per-merge rewrite floor (a 1-row batch
    * still rewrites ≥1 whole bucket) — size it so a bucket is a few GB at the
    * table's target size (e.g. 100 TB / 8192 ≈ 12 GB/bucket); the default
    * here suits test-to-mid-size tables.
    */
  val DefaultHubBuckets: Int = 16

  /** HUB read: the latest committed snapshot through the transaction log
    * (a plain recursive parquet read would see EVERY version's files at
    * once). A path holding an unversioned hub fails with the migration
    * pointer ([[VersionedHub.read]]).
    */
  def readHub(spark: SparkSession, path: String): DataFrame =
    VersionedHub.read(spark, path)

  /** Audit-column stamp (framework.py:27-32): `_source_id` literal,
    * `_ingest_ts_utc` per-row current_timestamp, and `ingest_date` as ONE
    * ISO-date string literal per source run, computed driver-side — the whole
    * run lands in a single RAW partition, exactly like the reference.
    */
  def stampAudit(
      df: DataFrame,
      sourceId: String,
      runDate: LocalDate = LocalDate.now(ZoneOffset.UTC)
  ): DataFrame =
    df.withColumn("_source_id", lit(sourceId))
      .withColumn("_ingest_ts_utc", current_timestamp())
      .withColumn("ingest_date", lit(runDate.toString))
}
