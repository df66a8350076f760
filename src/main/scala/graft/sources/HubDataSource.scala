package graft.sources

import java.util.{Map => JMap}

import graft.writers.{FileStats, HubWriter, VersionedHub}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst
import org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{And, BaseRelation, DataSourceRegister, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Or, TableScan}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for the versioned hub — the idiomatic Spark
  * surface for a custom table format: `spark.read.format("graft-hub")
  * .option("path", hub).option("versionAsOf", 3).load()` instead of the
  * library call, so SQL users, BI tools, and other Spark code can consume
  * ACID hub snapshots without importing graft.
  *
  * Planning-time capabilities — all JOBLESS (no Spark job, no filesystem
  * listing, during query planning; everything is answered from the commit
  * manifest plus driver-local expression evaluation):
  *
  *   - **time travel** via `versionAsOf` (manifest-resolved snapshot, same
  *     contract as [[graft.writers.VersionedHub.read]]);
  *   - **bucket pruning from pushed filters**: an equality/IN predicate on
  *     the hub's bucket-routing column prunes the scan to the matching
  *     bucket DIRS at planning time ([[SupportsPushDownFilters]]) — the
  *     connector twin of [[graft.writers.VersionedHub.readBucketsFor]].
  *     Bucket ids come from the SAME canonical-key hash the writer stamps
  *     with, evaluated driver-locally over the literal (no job);
  *   - **file-level min/max data skipping**: `=`, `<=>`, `IN`, `<`, `<=`,
  *     `>`, `>=`, `IS [NOT] NULL` (and And/Or combinations) on ANY column
  *     with manifest-recorded per-file stats skip whole files whose
  *     [min,max] cannot contain a match — the Delta data-skipping shape
  *     (Armbrust VLDB 2020 §4.1), answered from [[FileStats]] in the
  *     manifest with zero file I/O. Every filter is also returned for
  *     post-scan re-evaluation, so pruning can only skip data, never
  *     change semantics;
  *   - **column pruning** ([[SupportsPushDownRequiredColumns]]) — the
  *     projection reaches the inner parquet scan;
  *   - **manifest-backed statistics** (rows AND bytes of exactly the
  *     surviving file set) so Catalyst's join planner sees true post-prune
  *     sizes — a pruned hub side of a join can qualify for broadcast;
  *   - **schema-evolution safety**: output aligns to the manifest-recorded
  *     full-snapshot schema, so a column living only in pruned-away buckets
  *     reads as null instead of vanishing, and a file written before a
  *     column existed records no stat for it — it is never skipped on that
  *     column's predicates.
  *
  * Execution delegates to Spark's own parquet source over the surviving
  * files through the [[V1Scan]] bridge (the same bridge Spark's JDBC v2
  * connector uses) — scan performance, vectorization, and further parquet
  * pushdown (row-group zone maps under the file level) stay Spark-native
  * instead of reimplemented.
  */
class HubDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-hub"

  // ---- streaming source (spark.readStream.format("graft-hub")) ----
  // Wired through the V1 StreamSourceProvider bridge (the DeltaSource
  // shape): the table deliberately does NOT declare MICRO_BATCH_READ, so
  // the engine falls back here and [[HubStreamSource]] serves manifest
  // versions as offsets.

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = streamPathOf(parameters)
    val spark = sqlContext.sparkSession
    val snap = VersionedHub.snapshotSchema(spark, path,
      VersionedHub.versionAt(spark, path, None))
    val out =
      if (cdfKeysOf(parameters).isEmpty) snap
      else StructType(snap.fields :+ org.apache.spark.sql.types.StructField(
        "_change_type", org.apache.spark.sql.types.StringType,
        nullable = false))
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    // endingVersion/endingTimestamp are batch-only: a stream has no end —
    // silently ignoring them would diverge from what the batch feed honors
    require(!parameters.keys.exists(k => k.equalsIgnoreCase("endingVersion")
        || k.equalsIgnoreCase("endingTimestamp")),
      "endingVersion/endingTimestamp are BATCH readChangeFeed options — " +
        "a stream is unbounded; bound a drain with Trigger.AvailableNow")
    // Delta parity: startingVersion / startingTimestamp start the stream
    // at that commit's CHANGES, skipping the initial-snapshot catch-up
    // batch; startingTimestamp resolves to the first commit at or after
    // the instant through the same resolver the batch feed uses. The
    // options only seed a FRESH stream — a checkpoint-resumed stream
    // keeps its offsets, like Delta.
    val path = streamPathOf(parameters)
    val spark = sqlContext.sparkSession
    val byV = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingVersion") => v.toInt
    }
    val byTs = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingTimestamp") =>
        VersionedHub.versionAtOrAfterTimestamp(spark, path,
          HubDataSource.parseTsMillis(spark, v)).version
    }
    require(byV.isEmpty || byTs.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    byV.foreach { v =>
      require(v >= 1, s"startingVersion must be >= 1, got $v")
      // a bound beyond latest+1 is a typo, not a future subscription —
      // refuse loudly like the post-history startingTimestamp does
      // (latest+1 itself is the legitimate "changes from now on" form)
      val latest = VersionedHub.latest(spark, path)
        .map(_.version).getOrElse(0)
      require(v <= latest + 1,
        s"startingVersion $v is beyond the latest committed version " +
          s"$latest of $path (use ${latest + 1} to start at the next " +
          "commit)")
    }
    new HubStreamSource(sqlContext, path,
      cdfKeysOf(parameters),
      parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("maxVersionsPerTrigger") =>
          val n = v.toInt
          require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n")
          n
      },
      maxBytesPerTrigger = parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("maxBytesPerTrigger") =>
          val n = v.toLong
          require(n >= 1L, s"maxBytesPerTrigger must be >= 1, got $n")
          n
      },
      startingVersion = byV.orElse(byTs))
  }

  /** `readChangeFeed=true` switches the stream to row-level CDF batches;
    * `keys` (the hub primary keys) are required then — the feed is a keyed
    * diff.
    */
  private def cdfKeysOf(parameters: Map[String, String]): Option[Seq[String]] = {
    val cdf = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v.toBoolean
    }.getOrElse(false)
    if (!cdf) None
    else Some(parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("keys") => v
    }.flatMap(HubDataSource.parseKeys)
      .getOrElse(throw new IllegalArgumentException(
        "readChangeFeed requires option(\"keys\", <hub primary keys>)")))
  }

  /** Streaming SINK (`df.writeStream.format("graft-hub")`): each
    * micro-batch is one batchId-idempotent ACID merge commit — see
    * [[HubStreamSink]].
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-hub routes rows by key hash; partitionBy is not supported")
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft-hub sink merges each micro-batch; Complete mode (whole-table " +
        "overwrite per trigger) is not supported — use Append or Update")
    val keys = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("keys") => v
    }.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    new HubStreamSink(sqlContext, streamPathOf(parameters), keys)
  }

  private def streamPathOf(parameters: Map[String, String]): String =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") && v.nonEmpty => v
    }.getOrElse(throw new IllegalArgumentException(
      "graft-hub stream requires option(\"path\", ...)"))

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val path = HubDataSource.pathOf(options)
    HubDataSource.asOfVersion(spark, path, options) match {
      case asOf @ Some(_) => VersionedHub.snapshotSchema(spark, path,
        VersionedHub.versionAt(spark, path, asOf))
      case None => VersionedHub.latest(spark, path) match {
        case Some(v) => VersionedHub.snapshotSchema(spark, path, v)
        // a hub that does not exist yet: streaming-WRITE resolution builds
        // the Table first (then falls back to the V1 sink, which creates
        // the hub on its first commit); a READ of the empty schema still
        // fails with the clear no-committed-versions error at scan time
        case None => new StructType()
      }
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = HubDataSource.pathOf(options)
    // BATCH change feed (Delta's readChangeFeed + startingVersion /
    // endingVersion parity): one row per net row-change per commit step,
    // tagged _change_type + _commit_version. Each step's diff reads only
    // the bucket dirs that DIFFER between the two manifests (structural
    // sharing), so the feed costs O(changed buckets per step), not
    // O(table × steps). Version 1 emits the initial snapshot as inserts;
    // a vacuumed step fails loudly (a hole re-delivered as inserts would
    // corrupt a delta-applying consumer).
    // startingVersion marks the BATCH feed: a readStream with
    // readChangeFeed resolves through getTable too (Spark probes the
    // provider before falling back to the V1 StreamSourceProvider), and
    // must reach the plain HubTable below; a BATCH read that forgot
    // startingVersion is refused at newScanBuilder (streaming never
    // builds a batch scan)
    if (options.getBoolean("readChangeFeed", false) &&
        (options.containsKey("startingVersion") ||
          options.containsKey("startingTimestamp"))) {
      val keys = HubDataSource.parseKeys(options.get("keys"))
        .getOrElse(throw new IllegalArgumentException(
          "readChangeFeed requires option(\"keys\", <hub primary keys>)"))
      // timestamp bounds (Delta parity): startingTimestamp = the first
      // commit AT OR AFTER the instant, endingTimestamp = the last commit
      // AT OR BEFORE it — both resolved once against the manifest log via
      // the same parser TIMESTAMP AS OF uses; pre-history endingTimestamp
      // and post-history startingTimestamp are refused in the resolvers
      require(!(options.containsKey("startingVersion") &&
          options.containsKey("startingTimestamp")),
        "startingVersion and startingTimestamp are mutually exclusive")
      require(!(options.containsKey("endingVersion") &&
          options.containsKey("endingTimestamp")),
        "endingVersion and endingTimestamp are mutually exclusive")
      val sparkTs = SparkSession.active
      val from = Option(options.get("startingVersion")).map(_.toInt)
        .getOrElse(VersionedHub.versionAtOrAfterTimestamp(sparkTs, path,
          HubDataSource.parseTsMillis(sparkTs,
            options.get("startingTimestamp"))).version)
      val toOpt = Option(options.get("endingVersion")).map(_.toInt)
        .orElse(Option(options.get("endingTimestamp")).map(s =>
          VersionedHub.versionAtTimestamp(sparkTs, path,
            HubDataSource.parseTsMillis(sparkTs, s)).version))
      // the feed is resolved and planned ONCE, eagerly: HubMetaTable calls
      // its df function from schema()/build()/buildScan() separately, and
      // re-resolving `to = latest` per call could union a step committed
      // mid-planning (rows diverging from the declared read schema)
      val spark = SparkSession.active
      val feed = {
        import org.apache.spark.sql.functions.lit
        val live = VersionedHub.history(spark, path).map(_.version)
        require(live.nonEmpty, s"no committed versions at $path")
        val to = toOpt.getOrElse(live.max)
        require(from >= 1 && to >= from,
          s"readChangeFeed needs 1 <= startingVersion <= endingVersion, " +
            s"got $from..$to")
        require(to <= live.max,
          s"endingVersion $to is beyond the latest committed version " +
            s"${live.max} of $path")
        (from to to).map { v =>
          val step =
            if (v == 1)
              VersionedHub.read(spark, path, Some(1))
                .withColumn("_change_type", lit("insert"))
            else {
              require(live.contains(v - 1) && live.contains(v),
                s"hub at $path no longer has version ${v - 1} or $v " +
                  "(vacuumed?) — the change feed cannot be reconstructed")
              VersionedHub.changesCDF(spark, path, keys, v - 1, v)
            }
          step.withColumn("_commit_version", lit(v))
        }.reduce { (a, b) =>
          // a step crossing a schema evolution carries the wider schema:
          // reconcile pairwise (pad + widen) like every hub union does
          val (x, y) = graft.writers.HubWriter.reconcileSchemas(a, b)
          x.unionByName(y)
        }
      }
      return new HubMetaTable(path, "changes", (_, _) => feed)
    }
    new HubTable(path,
      HubDataSource.asOfVersion(SparkSession.active, path, options))
  }
}

object HubDataSource {

  /** "a, b ,c" → Some(Seq(a,b,c)); null/blank → None. */
  private[sources] def parseKeys(raw: String): Option[Seq[String]] =
    Option(raw).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-hub requires option(\"path\", ...)")
    p
  }

  private[sources] def versionOf(options: CaseInsensitiveStringMap): Option[Int] =
    Option(options.get("versionAsOf")).map(_.toInt)

  /** Resolve either time-travel option to a concrete version number.
    * `timestampAsOf` accepts epoch millis (digits), a date (`yyyy-MM-dd`,
    * midnight), or a `yyyy-MM-dd HH:mm:ss[.f]` timestamp interpreted in
    * `spark.sql.session.timeZone` (the same zone SQL `TIMESTAMP AS OF`
    * literals resolve in) — Delta's reader-option surface. Resolution
    * happens ONCE at table construction against the manifest log, so the
    * scan itself is an ordinary `VERSION AS OF`.
    */
  private[sources] def asOfVersion(spark: SparkSession, path: String,
      options: CaseInsensitiveStringMap): Option[Int] = {
    val byVersion = versionOf(options)
    val byTs = Option(options.get("timestampAsOf"))
    require(byVersion.isEmpty || byTs.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    byVersion.orElse(byTs.map { s =>
      VersionedHub.versionAtTimestamp(spark, path,
        parseTsMillis(spark, s)).version
    })
  }

  private[sources] def parseTsMillis(spark: SparkSession, s: String): Long =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
    else {
      val zone = java.time.ZoneId.of(spark.conf.get(
        "spark.sql.session.timeZone",
        java.time.ZoneId.systemDefault().getId))
      val ldt =
        if (s.matches("\\d{4}-\\d{2}-\\d{2}"))
          java.time.LocalDate.parse(s).atStartOfDay()
        else java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
      ldt.atZone(zone).toInstant.toEpochMilli
    }

  /** The bucket a literal routes to, computed DRIVER-LOCALLY: the same
    * `pmod(xxhash64(canonicalKey(...)), n)` expression the writer stamps
    * rows with, built over a literal and evaluated with Catalyst's
    * interpreter — no Spark job at planning time. None when the literal
    * cannot be rendered into the column type (unprunable: full scan).
    */
  private[graft] def bucketOf(spark: SparkSession, value: Any, dt: DataType,
      n: Int): Option[Int] =
    try {
      import catalyst.expressions.{Cast, Literal, Pmod, XxHash64}
      val l = Cast(Literal(value), dt)
      val h = Cast(
        Pmod(new XxHash64(Seq(HubWriter.canonicalKey(l, dt))), Literal(n.toLong)),
        IntegerType)
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      val e = h.transformUp {
        case t: TimeZoneAwareExpression if t.timeZoneId.isEmpty =>
          t.withTimeZone(tz)
      }
      Option(e.eval(null)).map(_.asInstanceOf[Int])
    } catch { case _: Exception => None }

  /** Bucket ids implied by ONE filter, or None when it cannot prune
    * (not a single-routing-column hub, wrong column, wrong shape, or an
    * unhashable literal).
    */
  private[graft] def bucketsForFilter(spark: SparkSession,
      fullSchema: StructType, v: VersionedHub.Version,
      filter: Filter): Option[Set[Int]] = {
    if (v.buckets.isEmpty) return None
    val routing = v.bucketCols.getOrElse(return None)
    if (routing.size != 1) return None
    val c = routing.head
    val dt = fullSchema.find(_.name == c).map(_.dataType).getOrElse(return None)
    val n = v.nBuckets.getOrElse(v.buckets.keys.max + 1)
    def buckets(values: Seq[Any]): Option[Set[Int]] = {
      val ids = values.map(bucketOf(spark, _, dt, n))
      if (ids.forall(_.isDefined)) Some(ids.flatten.toSet) else None
    }
    filter match {
      case EqualTo(`c`, value) if value != null => buckets(Seq(value))
      case EqualNullSafe(`c`, value) if value != null => buckets(Seq(value))
      case In(`c`, values)
          if values != null && values.nonEmpty && !values.contains(null) =>
        buckets(values.toSeq)
      case _ => None
    }
  }

  /** Conjunction over all filters: per-filter bucket sets intersect.
    * Computed in ONE pass (each filter hashed once, driver-locally).
    */
  private[graft] def prunedBuckets(spark: SparkSession, fullSchema: StructType,
      v: VersionedHub.Version, filters: Seq[Filter]): Option[Set[Int]] = {
    val sets = filters.flatMap(bucketsForFilter(spark, fullSchema, v, _))
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** The parquet dirs a scan must read: all of the snapshot's dirs, or only
    * the pruned groups' dirs. Relative to the table root.
    */
  private[graft] def scanDirRels(v: VersionedHub.Version,
      groups: Option[Set[Int]]): Seq[String] =
    groups.fold(v.groups.keys.toSeq)(_.toSeq.filter(v.groups.contains))
      .sorted.flatMap(v.groups)

  /** Each data dir of `v` → the file group that reads it. */
  private[graft] def dirGroups(v: VersionedHub.Version): Map[String, Int] =
    v.groups.flatMap { case (g, ds) => ds.map(_ -> g) }

  /** The planned physical read set after bucket pruning AND file-level
    * stats skipping: `survivors` are individually-listed files with
    * manifest stats (read + statistics both answered from the manifest);
    * `uncoveredDirs` are dirs from manifests predating per-file stats,
    * scanned whole.
    */
  private[graft] final case class PlannedFiles(
      survivors: Seq[(String, FileStats.FileStat)],
      uncoveredDirs: Seq[String],
      skipped: Int)

  private[graft] def planFiles(v: VersionedHub.Version,
      dirRels: Seq[String], filters: Seq[Filter],
      schema: StructType): PlannedFiles = {
    // assign each stat-covered file to its scan dir by walking parents —
    // one pass over the manifest entries, no filesystem access
    val dirSet = dirRels.toSet
    val byDir = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.ArrayBuffer[(String, FileStats.FileStat)]]
    for ((p, st) <- v.fileStats) {
      var parent = p
      var found: Option[String] = None
      while (found.isEmpty && parent.contains('/')) {
        parent = parent.substring(0, parent.lastIndexOf('/'))
        if (dirSet.contains(parent)) found = Some(parent)
      }
      for (d <- found)
        byDir.getOrElseUpdate(d,
          scala.collection.mutable.ArrayBuffer.empty) += ((p, st))
    }
    val survivors = Seq.newBuilder[(String, FileStats.FileStat)]
    val uncovered = Seq.newBuilder[String]
    var skipped = 0
    for (d <- dirRels) byDir.get(d) match {
      case None => uncovered += d
      case Some(entries) =>
        for ((p, f) <- entries.sortBy(_._1)) {
          if (f.rows == 0L) skipped += 1 // provably empty: always skippable
          else if (filters.forall(mayMatch(schema, f, _))) survivors += ((p, f))
          else skipped += 1
        }
    }
    PlannedFiles(survivors.result(), uncovered.result(), skipped)
  }

  /** true = the file may contain a row matching `filter` (keep it);
    * false = the manifest stats PROVE it cannot (skip it). Any unknown —
    * missing stat, unsupported shape, incomparable classes — keeps the
    * file: skipping is an optimization, never a semantic.
    */
  private[graft] def mayMatch(schema: StructType, f: FileStats.FileStat,
      filter: Filter): Boolean = {
    def dtOf(c: String): Option[DataType] =
      schema.find(_.name == c).map(_.dataType)
    // stats are keyed by the FOOTER's column names = the PHYSICAL names
    // under column mapping; predicates arrive with logical names
    def phys(c: String): String =
      graft.writers.ColumnMapping.physOf(schema, c)
    def stat(c: String): Option[FileStats.ColStat] = f.cols.get(phys(c))
    def coerced(c: String, v: Any): Option[Any] =
      for { dt <- dtOf(c); cv <- coerce(v, dt) } yield cv
    def eqMay(c: String, v: Any): Boolean =
      if (v == null || f.allNull(phys(c))) false
      else (for {
        s <- stat(c); mn <- s.min; mx <- s.max; cv <- coerced(c, v)
        lo <- FileStats.compareOpt(mn, cv); hi <- FileStats.compareOpt(cv, mx)
      } yield lo <= 0 && hi <= 0).getOrElse(true)
    def gtMay(c: String, v: Any, strict: Boolean): Boolean =
      if (v == null || f.allNull(phys(c))) false
      else (for {
        s <- stat(c); mx <- s.max; cv <- coerced(c, v)
        r <- FileStats.compareOpt(mx, cv)
      } yield if (strict) r > 0 else r >= 0).getOrElse(true)
    def ltMay(c: String, v: Any, strict: Boolean): Boolean =
      if (v == null || f.allNull(phys(c))) false
      else (for {
        s <- stat(c); mn <- s.min; cv <- coerced(c, v)
        r <- FileStats.compareOpt(mn, cv)
      } yield if (strict) r < 0 else r <= 0).getOrElse(true)
    filter match {
      case And(l, r) => mayMatch(schema, f, l) && mayMatch(schema, f, r)
      case Or(l, r) => mayMatch(schema, f, l) || mayMatch(schema, f, r)
      case EqualTo(c, v) => eqMay(c, v)
      case EqualNullSafe(c, null) => mayMatch(schema, f, IsNull(c))
      case EqualNullSafe(c, v) => eqMay(c, v)
      case In(c, vs) =>
        vs == null || vs.isEmpty || vs.exists(v => v != null && eqMay(c, v))
      case GreaterThan(c, v) => gtMay(c, v, strict = true)
      case GreaterThanOrEqual(c, v) => gtMay(c, v, strict = false)
      case LessThan(c, v) => ltMay(c, v, strict = true)
      case LessThanOrEqual(c, v) => ltMay(c, v, strict = false)
      case IsNull(c) => stat(c).flatMap(_.nullCount).forall(_ > 0)
      case IsNotNull(c) => !f.allNull(phys(c))
      case _ => true
    }
  }

  /** Spark's external filter-literal types → the manifest stat value space
    * ([[FileStats]]: Long | Double | String | Boolean; dates as epoch days,
    * timestamps as epoch micros). None = cannot compare = never prune.
    */
  private def coerce(value: Any, dt: DataType): Option[Any] = dt match {
    case ByteType | ShortType | IntegerType | LongType => value match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    case FloatType | DoubleType => value match {
      case n: java.lang.Number =>
        val d = n.doubleValue(); if (d.isNaN) None else Some(d)
      case _ => None
    }
    case StringType => value match { case s: String => Some(s); case _ => None }
    case BooleanType => value match {
      case b: java.lang.Boolean => Some(b.booleanValue()); case _ => None
    }
    case DateType => value match {
      case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toLong)
      case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d).toLong)
      case _ => None
    }
    case TimestampType => value match {
      case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
      case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
      case _ => None
    }
    case TimestampNTZType => value match {
      case l: java.time.LocalDateTime =>
        Some(DateTimeUtils.localDateTimeToMicros(l))
      case _ => None
    }
    case _ => None
  }

  /** Translate a DSv2 V1 Filter into a Column predicate over `schema`'s
    * columns — the executable form [[graft.writers.VersionedHub.deleteWhere]]
    * consumes. None = untranslatable (the caller refuses the delete rather
    * than approximating).
    */
  private[graft] def filterToColumn(filter: Filter,
      schema: StructType): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    def c(name: String): Option[org.apache.spark.sql.Column] =
      if (schema.fieldNames.contains(name)) Some(col(name)) else None
    filter match {
      case EqualTo(a, v) => c(a).map(_ === lit(v))
      case EqualNullSafe(a, v) => c(a).map(_ <=> lit(v))
      case GreaterThan(a, v) => c(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => c(a).map(_ >= lit(v))
      case LessThan(a, v) => c(a).map(_ < lit(v))
      case LessThanOrEqual(a, v) => c(a).map(_ <= lit(v))
      case In(a, vs) => c(a).map(_.isInCollection(vs.toIndexedSeq))
      case IsNull(a) => c(a).map(_.isNull)
      case IsNotNull(a) => c(a).map(_.isNotNull)
      case And(l, r) => for {
        lc <- filterToColumn(l, schema); rc <- filterToColumn(r, schema)
      } yield lc && rc
      case Or(l, r) => for {
        lc <- filterToColumn(l, schema); rc <- filterToColumn(r, schema)
      } yield lc || rc
      case org.apache.spark.sql.sources.Not(child) =>
        filterToColumn(child, schema).map(not)
      case org.apache.spark.sql.sources.StringStartsWith(a, v) =>
        c(a).map(_.startsWith(v))
      case org.apache.spark.sql.sources.StringEndsWith(a, v) =>
        c(a).map(_.endsWith(v))
      case org.apache.spark.sql.sources.StringContains(a, v) =>
        c(a).map(_.contains(v))
      case org.apache.spark.sql.sources.AlwaysTrue() => Some(lit(true))
      case org.apache.spark.sql.sources.AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** The buckets of `base` that can hold rows matching ALL of `filters`,
    * judged against base's own manifest (bucket-hash pruning + per-file
    * stats skipping). A FUNCTION of the version — row-level commands
    * (DELETE/UPDATE) evaluate it inside each commit retry against the
    * freshly-read base, never against a stale tip.
    */
  private[graft] def candidateBucketsFn(spark: SparkSession,
      fullSchema: StructType, filters: Seq[Filter])
      : VersionedHub.Version => Set[Int] = { base =>
    val dirRels = scanDirRels(base,
      prunedBuckets(spark, fullSchema, base, filters))
    val plan = planFiles(base, dirRels, filters, fullSchema)
    val dirToGroup = dirGroups(base)
    val survivorDirs = plan.survivors.map { case (p, _) =>
      p.substring(0, p.lastIndexOf('/')) }.toSet
    (survivorDirs ++ plan.uncoveredDirs).flatMap(dirToGroup.get).toSet
  }

  /** [[candidateBucketsFn]] against the hub's tip schema — the public
    * entry for row-level commands living outside the graft package
    * ([[org.apache.spark.sql.graftbridge.GraftUpdateCommand]]).
    */
  def rowLevelCandidates(spark: SparkSession, path: String,
      filters: Seq[Filter]): Option[VersionedHub.Version => Set[Int]] =
    if (filters.isEmpty) None
    else {
      val tip = VersionedHub.versionAt(spark, path, None)
      val schema = VersionedHub.snapshotSchema(spark, path, tip)
      Some(candidateBucketsFn(spark, schema, filters))
    }

  /** The column a stats-skippable filter constrains, for pushed-filter
    * attribution only.
    */
  private[sources] def statsFilterAttr(filter: Filter): Option[String] =
    filter match {
      case EqualTo(c, _) => Some(c)
      case EqualNullSafe(c, _) => Some(c)
      case In(c, _) => Some(c)
      case GreaterThan(c, _) => Some(c)
      case GreaterThanOrEqual(c, _) => Some(c)
      case LessThan(c, _) => Some(c)
      case LessThanOrEqual(c, _) => Some(c)
      case IsNull(c) => Some(c)
      case IsNotNull(c) => Some(c)
      case _ => None
    }
}

private[sources] class HubTable(path: String, asOf: Option[Int])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private[graft] def hubPath: String = path
  private[graft] def isTimeTravel: Boolean = asOf.nonEmpty

  private def spark = SparkSession.active

  /** SQL `DELETE FROM <hub table> WHERE ...` ([[SupportsDelete]]): one
    * committed version removing the matching rows. The same manifest file
    * stats that prune reads bound the delete to its candidate buckets —
    * everything else shares structurally. TRUNCATE (no filters) empties
    * the table as a delete-all version.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && filters.forall(f =>
      HubDataSource.filterToColumn(f, fullSchema).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty,
      "cannot DELETE FROM a VERSION AS OF snapshot — drop versionAsOf")
    import org.apache.spark.sql.functions.lit
    val cond = filters.toIndexedSeq
      .map(f => HubDataSource.filterToColumn(f, fullSchema).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-hub cannot translate delete filter $f")))
      .reduceOption(_ && _).getOrElse(lit(true))
    // candidate buckets as a FUNCTION of the base manifest: the commit-retry
    // loop re-reads a fresh base each attempt, and pruning must be judged
    // against THAT snapshot's file stats — a set precomputed from the entry
    // tip would miss rows a concurrent upsert landed in a bucket whose old
    // stats proved no-match (wrong answer under concurrency)
    val candidates: Option[VersionedHub.Version => Set[Int]] =
      if (filters.isEmpty) None
      else Some(HubDataSource.candidateBucketsFn(spark, fullSchema,
        filters.toSeq))
    VersionedHub.deleteWhere(spark, path, cond, candidates)
    ()
  }
  private lazy val v = VersionedHub.versionAt(spark, path, asOf)
  private lazy val fullSchema = VersionedHub.snapshotSchema(spark, path, v)

  // no backticks: DSv2 write commands (OverwriteByExpression) feed the
  // table name through the attribute-name parser, which rejects them
  override def name(): String =
    s"graft-hub $path" + asOf.fold("")(n => s" VERSION_AS_OF_$n")

  override def schema(): StructType = fullSchema

  /** The stored CHECK constraints, reported enforced + valid: every
    * write path validates rows (the hub's CheckInvariant filter), and
    * ADD CONSTRAINT validated the standing data — so Spark's own
    * ResolveTableConstraints may also fold them into its v2 write
    * validation, and DESCRIBE shows them.
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    v.checks.toSeq.sortBy(_._1).map { case (n, sql) =>
      Constraint.check(n).predicateSql(sql)
        .enforced(true)
        .validationStatus(Constraint.ValidationStatus.VALID)
        .build(): Constraint
    }.toArray
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(!options.getBoolean("readChangeFeed", false),
      "batch readChangeFeed requires option(\"startingVersion\", N) or " +
        "option(\"startingTimestamp\", ts) " +
        "(streaming feeds go through readStream)")
    new HubScanBuilder(path, v, fullSchema)
  }

  /** WRITE path (`df.write.format("graft-hub").option("path", hub)
    * .option("keys", "k").mode("append").save()`): an "append" lands as one
    * ACID merge-upsert version through [[VersionedHub.write]] — keyed when
    * `keys` is given (comma-separated; a bucketed hub routes through its
    * recorded layout automatically), a plain snapshot append otherwise.
    * Same V1 bridge as the read path ([[org.apache.spark.sql.connector
    * .write.V1Write]] → InsertableRelation, the JDBC-v2 shape). The table
    * must have at least one committed version (schema inference reads the
    * manifest); bootstrap the first commit through the library.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty,
      "cannot write to a time-travel snapshot — drop versionAsOf")
    val keys = Option(info.options.get("keys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replaceAll = false
      // INSERT OVERWRITE arrives as truncate-then-append in DSv2; the hub
      // commits it as ONE full-replacement version (earlier versions stay
      // time-travelable)
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        replaceAll = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              // every appended row is user-provided: explicit values in a
              // GENERATED ALWAYS AS IDENTITY column are refused here (the
              // merge/update paths, whose carried rows hold allocated
              // values, do not take this guard)
              val guarded = VersionedHub.refuseExplicitIdentity(data, path)
              if (overwrite || replaceAll)
                VersionedHub.overwrite(data.sparkSession, guarded, path)
              else VersionedHub.write(data.sparkSession, guarded, path, keys)
              ()
            }
        }
    }
  }
}

/** Read-only driver-computed metadata tables over the manifest log:
  * `t$history` (`DESCRIBE HISTORY` analogue — one row per committed
  * version) and `t$files` (Iceberg `.files` analogue — one row per live
  * data file of the tip snapshot, with the recorded stats skipping uses).
  * The row set comes from the cached manifests, so a scan is a local
  * relation — no data file is opened.
  */
private[sources] class HubMetaTable(path: String, kind: String,
    df: (SparkSession, String) => org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  override def name(): String = s"graft-hub $path $kind"

  override def schema(): StructType = df(spark, path).schema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        private val out = schema()
        override def readSchema(): StructType = out
        override def description(): String = s"graft-hub $path $kind"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val relation = new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = out
            override def buildScan(): RDD[Row] =
              df(context.sparkSession, path).rdd
          }
          relation.asInstanceOf[T]
        }
      }
    }
}

private[graft] class HubScanBuilder(path: String,
    v: VersionedHub.Version, fullSchema: StructType)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pruned: Option[Set[Int]] = None
  private var pushed: Array[Filter] = Array.empty
  private var usedForPruning: Array[Filter] = Array.empty
  private var sawFilters = false
  private var countFromManifest = false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val spark = SparkSession.active
    sawFilters = filters.nonEmpty
    pushed = filters
    // ONE driver-local pass: each filter's bucket set computed once (no
    // Spark jobs), the conjunction intersected, attribution derived from
    // the same per-filter results
    val perFilter = filters.map(f =>
      f -> HubDataSource.bucketsForFilter(spark, fullSchema, v, f))
    val sets = perFilter.flatMap(_._2)
    pruned = if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
    val statCols: Set[String] =
      v.fileStats.valuesIterator.flatMap(_.cols.keysIterator).toSet
    usedForPruning = perFilter.collect {
      case (f, Some(_)) => f
      case (f, None) if HubDataSource.statsFilterAttr(f)
          .map(graft.writers.ColumnMapping.physOf(fullSchema, _))
          .exists(statCols.contains) => f
    }
    // dir/file pruning only skips data a matching row cannot live in; rows
    // inside surviving files still need every predicate — return ALL
    // filters for post-scan evaluation (correctness cannot regress)
    filters
  }

  override def pushedFilters(): Array[Filter] = usedForPruning

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Global `count(*)` with no predicates is answered from the MANIFEST —
    * the commit audit field every version carries — so counting a 100 TB
    * hub snapshot costs zero file I/O. Spark only offers an aggregate for
    * pushdown when every filter was fully handled; this builder always
    * returns filters for post-scan evaluation, so any filtered count
    * automatically takes the row-scan path (semantics can never regress).
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    countFromManifest = !sawFilters &&
      aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.length == 1 &&
      aggregation.aggregateExpressions.head.isInstanceOf[CountStar]
    countFromManifest
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean = {
    pushAggregation(aggregation)
    countFromManifest
  }

  override def build(): Scan =
    if (countFromManifest) new HubCountScan(path, v)
    else {
      val dirRels = HubDataSource.scanDirRels(v, pruned)
      val plan = HubDataSource.planFiles(v, dirRels, pushed.toSeq, fullSchema)
      val totalDirs = v.dirs.size
      new HubScan(path, v, fullSchema, required, plan, pushed.toSeq,
        dirsScanned = dirRels.size, totalDirs = totalDirs)
    }
}

/** The manifest-answered `count(*)` scan: one row, zero file I/O. */
private[sources] class HubCountScan(path: String, v: VersionedHub.Version)
    extends V1Scan {

  private val schemaOut =
    StructType(Seq(org.apache.spark.sql.types.StructField(
      "count(*)", org.apache.spark.sql.types.LongType, nullable = false)))

  override def readSchema(): StructType = schemaOut

  override def description(): String =
    s"graft-hub v${v.version} count-from-manifest rows=${v.rows}"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val desc = description()
    val rows = v.rows
    val relation = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = schemaOut
      override def toString: String = desc
      override def buildScan(): RDD[Row] =
        context.sparkSession.sparkContext.parallelize(Seq(Row(rows)), 1)
    }
    relation.asInstanceOf[T]
  }
}

private[sources] class HubScan(path: String, v: VersionedHub.Version,
    fullSchema: StructType, required: StructType,
    plan: HubDataSource.PlannedFiles, filters: Seq[Filter],
    dirsScanned: Int, totalDirs: Int)
    extends V1Scan with SupportsReportStatistics {

  private def paths: Seq[String] =
    plan.survivors.map(s => VersionedHub.resolve(path, s._1)) ++
      plan.uncoveredDirs.map(VersionedHub.resolve(path, _))

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-hub v${v.version} dirs=$dirsScanned/$totalDirs " +
      s"files=${plan.survivors.size} skipped=${plan.skipped}"

  /** Manifest-backed planning statistics, so Catalyst's join strategy sees
    * the true (pruned + skipped) row count and byte size instead of a
    * default guess — a pruned hub side of a join can qualify for broadcast.
    * Rows AND bytes of the surviving file set come straight from the
    * manifest's per-file audit: zero filesystem access. Only dirs from
    * legacy manifests (predating per-file stats) fall back to a listing.
    */
  override def estimateStatistics(): Statistics = {
    // a group's live rows are recorded only as a whole: known when every
    // dir of each uncovered group is uncovered
    val uncovered = plan.uncoveredDirs.toSet
    val rs = plan.uncoveredDirs.flatMap(HubDataSource.dirGroups(v).get)
      .distinct.map(g =>
        v.groupRows.get(g).filter(_ => v.groups(g).forall(uncovered)))
    val uncoveredRows: Option[Long] =
      if (rs.forall(_.isDefined)) Some(rs.flatten.sum) else None
    // per-file stats count PHYSICAL rows; subtract the files' deletion
    // vectors so the planner sees live cardinality (uncovered dirs come
    // from the group rows, which DV commits already decrement)
    val coveredDvRows: Long =
      if (v.dvs.isEmpty) 0L
      else plan.survivors.map(s =>
        v.dvs.get(s._1).map(_.size.toLong).getOrElse(0L)).sum
    val rowsOpt: Option[Long] =
      uncoveredRows.map(_ + plan.survivors.map(_._2.rows).sum - coveredDvRows)
    val coveredBytes = plan.survivors.map(_._2.bytes).sum
    val bytes: Long =
      if (plan.uncoveredDirs.isEmpty) coveredBytes
      else try {
        val conf = SparkSession.active.sparkContext.hadoopConfiguration
        coveredBytes + plan.uncoveredDirs.map { d =>
          val p = new org.apache.hadoop.fs.Path(VersionedHub.resolve(path, d))
          p.getFileSystem(conf).getContentSummary(p).getLength
        }.sum
      } catch { case _: Exception => Long.MaxValue }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rowsOpt.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val desc = description()
    val scanPaths = paths
    val dvs = v.dvs
    val relation = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      // RowDataSourceScan prints the relation's toString — surface the
      // version + dir/file-pruning evidence there (plan-gated in spec)
      override def toString: String = desc
      override def buildScan(): RDD[Row] =
        HubScan.inner(context.sparkSession, scanPaths, v.rows, fullSchema,
          required, filters, dvs).rdd
    }
    relation.asInstanceOf[T]
  }
}

private[graft] object HubScan {
  /** The parquet DataFrame the V1 bridge actually scans. The bridge's
    * `TableScan.buildScan()` interface cannot carry predicates, so without
    * help the INNER parquet scan would read every row group of every
    * surviving file and leave all filtering to the outer plan. Re-applying
    * the pushed filters here (translated through the same
    * [[HubDataSource.filterToColumn]] the row-level commands trust) hands
    * them to Spark's own parquet source — row-group zone maps, dictionary
    * filtering and parquet bloom filters then prune WITHIN the files the
    * manifest could not skip, at native speed. Purely an I/O reduction:
    * the scan builder returns every filter for post-scan evaluation, so
    * the outer plan re-checks them all regardless (and untranslatable
    * filters simply stay outer-only).
    */
  private[graft] def inner(session: SparkSession, scanPaths: Seq[String],
      snapshotRows: Long, fullSchema: StructType, required: StructType,
      filters: Seq[Filter],
      dvs: Map[String, Seq[Long]] = Map.empty): org.apache.spark.sql.DataFrame = {
    val base =
      // a 0-row snapshot (catalog CREATE TABLE) may hold no part files;
      // parquet cannot scan an empty dir but the manifest has the schema
      if (scanPaths.isEmpty || snapshotRows == 0L)
        VersionedHub.emptyFrame(session, fullSchema)
      // the manifest already records the full-snapshot schema — passing
      // it to the reader skips parquet schema INFERENCE (a footer-reading
      // Spark job with mergeSchema) at planning time; files missing
      // evolved columns read them as null
      else VersionedHub.alignTo(
        VersionedHub.scanDirs(session, fullSchema, scanPaths, dvs), fullSchema)
    filters.flatMap(HubDataSource.filterToColumn(_, fullSchema))
      .foldLeft(base)(_ filter _)
      .select(required.fieldNames.toIndexedSeq.map(col): _*)
  }
}
