package graft.queries

import java.nio.file.Files

import graft.catalog.{Source, SourceSystem}
import graft.engine.Ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-visible correctness for the §2 ingestion spine (the reference's
  * entire behavior, metadata_ingestion/src/ingestion_framework/
  * framework.py:25-39): CSV read with schema inference → audit stamp → RAW
  * append → HUB merge-upsert — run for real inside the query against a temp
  * lake, then verified by a DuckDB oracle over the same source table.
  *
  * Until this query, the spine was spec-only ("sbt says it works"); this
  * makes it oracle-proven every round.
  */
object IngestQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Process-wide seed-hub cache for the row-level SQL lifecycle queries.
    * Identical base hubs were being rebuilt per bench rep per query —
    * 3 reps × N sibling queries × a full bucketed write each. The seed is
    * built ONCE per (sfDir, signature) by `build(path)` and cached for
    * the JVM's lifetime; every use CLONES it into its own temp lake — a
    * zero-copy manifest commit whose bucket map holds absolute references
    * into the seed. The mutation lifecycle under test is untouched:
    * mutations rewrite only their touched buckets into the clone's own
    * dir, untouched buckets keep the shared refs, and version gates are
    * relative. Invariant: no cloned query may VACUUM (a sweep could
    * reclaim files the seed still serves to other clones).
    */
  private def seedPath(dir: String, sig: String)(build: String => Unit)
      : String = FixtureCache.path(dir, sig)(build)

  private def cloneSeed(spark: SparkSession, dir: String, sig: String,
      target: String)(build: String => Unit): Unit =
    graft.writers.VersionedHub.cloneTable(spark,
      seedPath(dir, sig)(build), target)

  /** The 3-column orders projection every row-level SQL query mutates. */
  private def orders3(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders").select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_orderpriority"),
      col("o_totalprice").cast("double").as("o_totalprice"))

  /** End-to-end round-trip on the `region` table:
    *
    *   1. materialize `region` as a header CSV fixture (the reference's
    *      primary source shape, sources.yaml:16-18);
    *   2. ingest it TWICE through the full pipeline (read → stamp → RAW
    *      append → HUB upsert) plus a disabled source pointing at a missing
    *      path — if the enabled-filter (framework.py:21-23 parity) broke,
    *      the read would throw and the query would fail;
    *   3. return the HUB contents joined with the per-key RAW copy count.
    *
    * The oracle predicts: HUB = exactly the source rows once (keyed upsert
    * is idempotent), RAW = every row exactly twice (append-only). Audit
    * columns (_ingest_ts_utc, ingest_date) are runtime-dependent, so the
    * projection keeps the data columns and the structural counts that prove
    * the zone semantics.
    */
  val qIngestHubRoundtrip: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_ingest_rt").toFile.getAbsolutePath
    val srcCsv = s"$tmp/src/region"
    Tables(spark, dir, "region")
      .coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(srcCsv)
    val system = SourceSystem(
      version = 1,
      defaults = Map(
        "raw_base" -> s"$tmp/raw",
        "hub_base" -> s"$tmp/hub",
        "checkpoint_base" -> s"$tmp/cp"),
      sources = Seq(
        Source(
          id = "region_csv",
          `type` = "csv",
          domain = "ref",
          entity = "region",
          options = Map(
            "path" -> srcCsv,
            "header" -> "true",
            "inferSchema" -> "true"),
          hubPrimaryKeys = Seq("r_regionkey")),
        Source(
          id = "disabled_probe",
          enabled = false,
          `type` = "csv",
          domain = "ref",
          entity = "nope",
          options = Map("path" -> s"$tmp/does_not_exist"))))
    Ingest.runCatalog(spark, system)
    Ingest.runCatalog(spark, system) // idempotence: HUB upsert, RAW append
    val hub = Ingest.readHub(spark, s"$tmp/hub/ref/region")
    val raw = spark.read.parquet(s"$tmp/raw/ref/region")
    hub
      .select(col("r_regionkey").cast("long").as("r_regionkey"),
        col("r_name"), col("_source_id"))
      .join(
        raw.groupBy(col("r_regionkey").cast("long").as("r_regionkey"))
          .agg(count(lit(1)).as("raw_copies")),
        Seq("r_regionkey"))
      .orderBy(col("r_regionkey"))
  }

  private val ingestHubRoundtripOracle: String =
    """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
      |  'region_csv' AS _source_id, CAST(2 AS BIGINT) AS raw_copies
      |FROM region ORDER BY r_regionkey""".stripMargin

  /** The spine's DEFAULT keyed HUB path, driver-proven: keyed sources now
    * route through the bucketed [[graft.writers.VersionedHub]] (O(batch)
    * ACID merges; the reference delegates exactly this to Delta,
    * writer.py:18-36), so ingesting the same source twice must produce TWO
    * committed versions — each a complete snapshot with the same row count
    * (the second merge updates every key in place) — and time travel to
    * version 1 must still read a full snapshot after version 2 lands. The
    * oracle pins the hub contents, the append-only RAW copy count, and the
    * version-history structure in one result.
    */
  val qIngestVersionedRoundtrip: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_ingest_vrt").toFile.getAbsolutePath
    val srcCsv = s"$tmp/src/region"
    Tables(spark, dir, "region")
      .coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(srcCsv)
    val system = SourceSystem(
      version = 1,
      defaults = Map(
        "raw_base" -> s"$tmp/raw",
        "hub_base" -> s"$tmp/hub",
        "checkpoint_base" -> s"$tmp/cp"),
      sources = Seq(
        Source(
          id = "region_csv",
          `type` = "csv",
          domain = "ref",
          entity = "region",
          options = Map(
            "path" -> srcCsv,
            "header" -> "true",
            "inferSchema" -> "true"),
          hubPrimaryKeys = Seq("r_regionkey"))))
    Ingest.runCatalog(spark, system)
    Ingest.runCatalog(spark, system) // same batch again: upsert, new version
    val hubPath = s"$tmp/hub/ref/region"
    val hist = graft.writers.VersionedHub.history(spark, hubPath)
    val nRegions = Tables(spark, dir, "region").count()
    val structure = Seq((
      hist.size.toLong,
      hist.map(_.rows).distinct == Seq(nRegions), // every version a full snapshot
      graft.writers.VersionedHub.read(spark, hubPath, Some(1)).count() == nRegions,
      hist.forall(_.buckets.nonEmpty) // the O(batch) bucketed path, not flat
    ))
    import spark.implicits._
    val structDf = structure
      .toDF("n_versions", "versions_full", "v1_readable", "bucketed")
    Ingest.readHub(spark, hubPath)
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
      .crossJoin(structDf)
      .orderBy(col("r_regionkey"))
  }

  private val ingestVersionedRoundtripOracle: String =
    """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
      |  CAST(2 AS BIGINT) AS n_versions, TRUE AS versions_full,
      |  TRUE AS v1_readable, TRUE AS bucketed
      |FROM region ORDER BY r_regionkey""".stripMargin

  /** §2.1 json_reader + olap_reader(CSV-fallback), end-to-end and
    * driver-proven (previously spec-only): region lands once as JSON
    * Lines (the reference's orders_json shape, sources.yaml:22-31) and
    * once as a header-only CSV served through the OLAP reader's permanent
    * XMLA fallback (sources.yaml:48-57 — all columns arrive as STRINGS,
    * normalized by the query's cast like any consumer must). Both ingest
    * TWICE through the full spine; the oracle predicts idempotent HUBs
    * and double RAW copies for each source.
    */
  val qIngestMultiSource: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_ingest_ms").toFile.getAbsolutePath
    val region = Tables(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
    val srcJson = s"$tmp/src/region_json"
    region.coalesce(1).write.json(srcJson)
    val srcCube = s"$tmp/src/cube"
    region.coalesce(1).write.option("header", "true").csv(srcCube)
    val system = SourceSystem(
      version = 1,
      defaults = Map(
        "raw_base" -> s"$tmp/raw",
        "hub_base" -> s"$tmp/hub",
        "checkpoint_base" -> s"$tmp/cp"),
      sources = Seq(
        Source(
          id = "region_json",
          `type` = "json",
          domain = "ref",
          entity = "region_j",
          options = Map("path" -> srcJson, "multiline" -> "false"),
          hubPrimaryKeys = Seq("r_regionkey"),
          // 5-row fixture: the default 16 buckets would just multiply
          // per-commit fixed costs (files, footer passes) by 8
          hubBuckets = Some(2)),
        Source(
          id = "cube_olap",
          `type` = "olap",
          domain = "ref",
          entity = "cube",
          options = Map(
            "xmla_endpoint" -> "powerbi://api.powerbi.com/v1.0/myorg/X",
            "fallback_csv_path" -> srcCube),
          hubPrimaryKeys = Seq("r_regionkey"),
          hubBuckets = Some(2))))
    Ingest.runCatalog(spark, system)
    Ingest.runCatalog(spark, system) // idempotence: HUB upsert, RAW append
    def withRaw(entity: String): DataFrame =
      Ingest.readHub(spark, s"$tmp/hub/ref/$entity")
        .select(col("r_regionkey").cast("long").as("r_regionkey"),
          col("r_name"), col("_source_id"))
        .join(
          spark.read.parquet(s"$tmp/raw/ref/$entity")
            .groupBy(col("r_regionkey").cast("long").as("r_regionkey"))
            .agg(count(lit(1)).as("raw_copies")),
          Seq("r_regionkey"))
    withRaw("region_j").unionByName(withRaw("cube"))
      .orderBy(col("_source_id"), col("r_regionkey"))
  }

  private val ingestMultiSourceOracle: String =
    """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
      |  _source_id, CAST(2 AS BIGINT) AS raw_copies
      |FROM region, (VALUES ('cube_olap'), ('region_json')) AS s(_source_id)
      |ORDER BY _source_id, r_regionkey""".stripMargin

  /** §2.1 jdbc_reader, end-to-end and driver-proven. The reference ships its
    * JDBC source DISABLED behind a sqlite file it never creates
    * (sources.yaml:33-46 + contoso_sqlite_instructions.sql) — here the same
    * 3-row `products` fixture is materialized in embedded Derby (the one
    * JDBC engine whose jars ship with Spark) and ingested TWICE through the
    * full read→stamp→RAW→HUB pipeline via [[graft.readers.Readers.jdbc]]:
    * `url`+`dbtable` required, `driver` set, `user`/`password` EMPTY so the
    * truthy-only credential guard (base_reader.py:16-29) is on the executed
    * path — Derby would reject a forwarded empty user. The oracle predicts
    * HUB = the 3 products exactly once (keyed upsert idempotent) and
    * RAW = every row exactly twice (append-only), plus the audit stamp.
    */
  val qJdbcIngest: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_jdbc").toFile.getAbsolutePath
    val dbPath = s"$tmp/contoso_derby"
    // Derby writes its engine log to user.dir unless redirected.
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
    val conn =
      java.sql.DriverManager.getConnection(s"jdbc:derby:$dbPath;create=true")
    try {
      val st = conn.createStatement()
      // Quoted identifiers keep the reference fixture's lowercase columns
      // (contoso_sqlite_instructions.sql:3-4); unquoted `products` resolves
      // case-insensitively so `dbtable: products` works verbatim.
      st.executeUpdate("""CREATE TABLE products
        |("product_id" INT PRIMARY KEY, "name" VARCHAR(64), "price" DOUBLE)"""
        .stripMargin)
      st.executeUpdate("""INSERT INTO products VALUES
        |(10,'Phone',699.0),(20,'Headphones',199.0),(30,'Tablet',499.0)"""
        .stripMargin)
      st.close()
    } finally conn.close()
    val system = SourceSystem(
      version = 1,
      defaults = Map(
        "raw_base" -> s"$tmp/raw",
        "hub_base" -> s"$tmp/hub",
        "checkpoint_base" -> s"$tmp/cp"),
      sources = Seq(
        Source(
          id = "products_jdbc",
          `type` = "jdbc",
          domain = "sales",
          entity = "products",
          options = Map(
            "url" -> s"jdbc:derby:$dbPath",
            "driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
            "dbtable" -> "products",
            "user" -> "",
            "password" -> ""),
          hubPrimaryKeys = Seq("product_id"))))
    Ingest.runCatalog(spark, system)
    Ingest.runCatalog(spark, system) // idempotence: HUB upsert, RAW append
    val hub = Ingest.readHub(spark, s"$tmp/hub/sales/products")
    val raw = spark.read.parquet(s"$tmp/raw/sales/products")
    hub
      .select(col("product_id"), col("name"), col("price"), col("_source_id"))
      .join(
        raw.groupBy(col("product_id"))
          .agg(count(lit(1)).as("raw_copies")),
        Seq("product_id"))
      .orderBy(col("product_id"))
  }

  private val jdbcIngestOracle: String =
    """SELECT * FROM (VALUES
      |  (CAST(10 AS INTEGER), 'Phone',      CAST(699.0 AS DOUBLE),
      |   'products_jdbc', CAST(2 AS BIGINT)),
      |  (CAST(20 AS INTEGER), 'Headphones', CAST(199.0 AS DOUBLE),
      |   'products_jdbc', CAST(2 AS BIGINT)),
      |  (CAST(30 AS INTEGER), 'Tablet',     CAST(499.0 AS DOUBLE),
      |   'products_jdbc', CAST(2 AS BIGINT))
      |) AS t(product_id, name, price, _source_id, raw_copies)
      |ORDER BY product_id""".stripMargin

  /** ACID-log time travel, driver-proven: commit region as hub version 1,
    * upsert a mutated batch (keys < 3 renamed) as version 2, then read BOTH
    * snapshots back through the manifest log. The oracle reconstructs each
    * snapshot from the source table — hash-green iff version 1 is immutable
    * under the version-2 commit and the upsert replaced exactly the mutated
    * keys (graft.writers.VersionedHub; Delta-protocol analogue).
    */
  val qHubTimeTravel: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_vhub_tt").toFile.getAbsolutePath
    val hub = s"$tmp/hub"
    val region = Tables(spark, dir, "region")
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
    graft.writers.VersionedHub.write(spark, region, hub, Seq("r_regionkey"))
    val batch2 = region.filter(col("r_regionkey") < 3)
      .withColumn("r_name", concat(col("r_name"), lit("_v2")))
    graft.writers.VersionedHub.write(spark, batch2, hub, Seq("r_regionkey"))
    val snap1 = graft.writers.VersionedHub.read(spark, hub, Some(1))
      .withColumn("version", lit(1))
    val snap2 = graft.writers.VersionedHub.read(spark, hub, Some(2))
      .withColumn("version", lit(2))
    snap1.unionByName(snap2)
      .select(col("version"), col("r_regionkey"), col("r_name"))
      .orderBy(col("version"), col("r_regionkey"))
  }

  /** `TIMESTAMP AS OF` time travel (Delta parity): same two-commit setup
    * as [[qHubTimeTravel]], but each snapshot is resolved by COMMIT
    * INSTANT — version 1 via the SQL `TIMESTAMP AS OF` literal at v1's
    * recorded commit ts (session-zone UTC), version 2 via the reader's
    * `timestampAsOf` epoch-millis option at v2's ts. Hash-green iff
    * "latest commit at-or-before t" resolution is exact at both
    * boundaries. The in-query require gates the pre-history refusal.
    */
  val qHubTimestampTravel: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_vhub_ts").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    val region = Tables(spark, dir, "region")
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
    graft.writers.VersionedHub.write(spark, region, s"$tmp/region_t",
      Seq("r_regionkey"))
    Thread.sleep(5) // force distinct commit instants for exact boundaries
    val batch2 = region.filter(col("r_regionkey") < 3)
      .withColumn("r_name", concat(col("r_name"), lit("_v2")))
    graft.writers.VersionedHub.write(spark, batch2, s"$tmp/region_t",
      Seq("r_regionkey"))
    val ts = graft.writers.VersionedHub.history(spark, s"$tmp/region_t")
      .map(_.ts)
    require(ts(0) < ts(1), "commit instants must be distinct")
    require(scala.util.Try(spark.sql(
      s"SELECT * FROM $cat.default.region_t TIMESTAMP AS OF '1999-01-01'"
    ).collect()).isFailure, "pre-history timestamp must be refused")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    val snap1 = spark.sql(
      s"SELECT * FROM $cat.default.region_t TIMESTAMP AS OF " +
        s"'${fmt.format(java.time.Instant.ofEpochMilli(ts(0)))}'")
      .withColumn("version", lit(1))
    val snap2 = spark.read.format("graft-hub")
      .option("path", s"$tmp/region_t")
      .option("timestampAsOf", ts(1).toString).load()
      .withColumn("version", lit(2))
    snap1.unionByName(snap2)
      .select(col("version"), col("r_regionkey"), col("r_name"))
      .orderBy(col("version"), col("r_regionkey"))
  }

  /** `t$files` metadata-table correctness: the manifest's per-file stats
    * must AGGREGATE back to the data's ground truth — sum of recorded
    * per-file row counts = table count, min/max of the recorded skipping
    * literals = true key extrema. The oracle recomputes those from the
    * source table, so a drifted/missing/stale stat breaks the hash. The
    * scan itself is a driver-local relation (no data file opened).
    */
  val qHubFilesMeta: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_vhub_files").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    graft.writers.VersionedHub.writeBucketed(spark,
      Tables(spark, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name")),
      s"$tmp/nation_f", Seq("n_nationkey"), 4)
    spark.sql(
      s"""SELECT CAST(sum(rows) AS BIGINT) AS total_rows,
         |  CAST(min(CAST(col_min['n_nationkey'] AS BIGINT)) AS BIGINT) AS min_key,
         |  CAST(max(CAST(col_max['n_nationkey'] AS BIGINT)) AS BIGINT) AS max_key
         |FROM $cat.default.`nation_f$$files`""".stripMargin)
  }

  /** Zero-copy DDL schema evolution end-to-end (Delta ALTER TABLE parity):
    * commit region, ADD COLUMNS (note STRING, pop INT), upsert notes for
    * keys < 2, widen pop to BIGINT (files untouched — manifest-only
    * commits throughout), upsert pop for key 0, then read the final
    * snapshot. The oracle reconstructs the evolved table from the source
    * in plain SQL: hash-green iff added columns pad NULL on pre-evolution
    * rows, the widened read upcasts old int32 files, and the upserts
    * landed on the evolved schema.
    */
  val qHubAlterSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_vhub_alter").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    val region = Tables(spark, dir, "region")
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
    graft.writers.VersionedHub.writeBucketed(spark, region, s"$tmp/region_a",
      Seq("r_regionkey"), 4)
    spark.sql(s"ALTER TABLE $cat.default.region_a " +
      "ADD COLUMNS (note STRING, pop INT)")
    graft.writers.VersionedHub.writeBucketed(spark,
      region.filter(col("r_regionkey") < 2)
        .withColumn("note", lit("noted"))
        .withColumn("pop", lit(7).cast("int")),
      s"$tmp/region_a", Seq("r_regionkey"), 4)
    spark.sql(s"ALTER TABLE $cat.default.region_a ALTER COLUMN pop TYPE BIGINT")
    graft.writers.VersionedHub.writeBucketed(spark,
      region.filter(col("r_regionkey") === 0)
        .withColumn("note", lit("noted"))
        .withColumn("pop", lit(100L)),
      s"$tmp/region_a", Seq("r_regionkey"), 4)
    spark.table(s"$cat.default.region_a")
      .select(col("r_regionkey"), col("r_name"), col("note"),
        col("pop").cast("long").as("pop"))
      .orderBy(col("r_regionkey"))
  }

  private val hubAlterSqlOracle: String =
    """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
      |  CASE WHEN r_regionkey < 2 THEN 'noted' END AS note,
      |  CAST(CASE WHEN r_regionkey = 0 THEN 100
      |            WHEN r_regionkey < 2 THEN 7 END AS BIGINT) AS pop
      |FROM region ORDER BY r_regionkey""".stripMargin

  private val hubFilesMetaOracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS total_rows,
      |  CAST(min(n_nationkey) AS BIGINT) AS min_key,
      |  CAST(max(n_nationkey) AS BIGINT) AS max_key
      |FROM nation""".stripMargin

  private val hubTimeTravelOracle: String =
    """SELECT 1 AS version, CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
      |FROM region
      |UNION ALL
      |SELECT 2, CAST(r_regionkey AS BIGINT),
      |  CASE WHEN r_regionkey < 3 THEN r_name || '_v2' ELSE r_name END
      |FROM region
      |ORDER BY version, r_regionkey""".stripMargin

  /** CDC between committed versions (Delta `table_changes` analogue):
    * version 2 updates keys < 3 and inserts a synthetic key 99; the feed
    * must report EXACTLY those rows with the right `_change_type` — an
    * unchanged row leaking in, or a missed update, breaks the hash.
    */
  val qHubChangeFeed: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_vhub_cdc").toFile.getAbsolutePath
    val hub = s"$tmp/hub"
    val region = Tables(spark, dir, "region")
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
    graft.writers.VersionedHub.write(spark, region, hub, Seq("r_regionkey"))
    val batch2 = region.filter(col("r_regionkey") < 3)
      .withColumn("r_name", concat(col("r_name"), lit("_v2")))
      .unionByName(spark.range(1).select(
        lit(99L).as("r_regionkey"), lit("NEWREGION").as("r_name")))
    graft.writers.VersionedHub.write(spark, batch2, hub, Seq("r_regionkey"))
    graft.writers.VersionedHub.changes(spark, hub, Seq("r_regionkey"), 1, 2)
      .orderBy(col("r_regionkey"))
  }

  private val hubChangeFeedOracle: String =
    """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
      |  r_name || '_v2' AS r_name, 'update' AS _change_type
      |FROM region WHERE r_regionkey < 3
      |UNION ALL
      |SELECT 99, 'NEWREGION', 'insert'
      |ORDER BY r_regionkey""".stripMargin

  /** Bucketed versioned commits under the oracle: v2 rewrites ONLY the
    * buckets its 3 keys hash into (the O(batch) path), yet the merged
    * snapshot must read back as if the whole table were rewritten — and
    * the structural-sharing claim is asserted in-query: the result is
    * non-empty ONLY IF v2's manifest reuses at least one v1 bucket dir.
    */
  val qHubBucketedRoundtrip: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_vhub_bkt").toFile.getAbsolutePath
    val hub = s"$tmp/hub"
    val region = Tables(spark, dir, "region")
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
    graft.writers.VersionedHub.writeBucketed(spark, region, hub,
      Seq("r_regionkey"), 4)
    val batch2 = region.filter(col("r_regionkey") < 3)
      .withColumn("r_name", concat(col("r_name"), lit("_v2")))
    graft.writers.VersionedHub.writeBucketed(spark, batch2, hub,
      Seq("r_regionkey"), 4)
    val hist = graft.writers.VersionedHub.history(spark, hub)
    val shared = hist.last.buckets.exists { case (b, d) =>
      hist.head.buckets.get(b).contains(d)
    }
    require(shared, "bucketed v2 must share at least one untouched v1 bucket dir")
    // per-bucket small-file compaction commits v3; the oracle's unchanged
    // hash proves layout-only (content identity) under the driver gate
    graft.writers.VersionedHub.compactBuckets(spark, hub)
    graft.writers.VersionedHub.read(spark, hub)
      .select(col("r_regionkey"), col("r_name"))
      .orderBy(col("r_regionkey"))
  }

  private val hubBucketedRoundtripOracle: String =
    """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
      |  CASE WHEN r_regionkey < 3 THEN r_name || '_v2' ELSE r_name END AS r_name
      |FROM region ORDER BY r_regionkey""".stripMargin

  /** The DataSource V2 connector under the driver gate
    * ([[graft.sources.HubDataSource]]): a bucketed hub with a v2 update is
    * read back through `format("graft-hub")` — the latest snapshot under a
    * bucket-pruning key predicate, and version 1 via `versionAsOf` — and an
    * in-query require asserts the scan was really DIR-pruned (fewer dirs
    * than the snapshot's bucket count in the executed plan). Hash-green iff
    * time travel, filter semantics under pruning, and the merge all agree
    * with the oracle's reconstruction from the source table.
    */
  val qHubDsv2Read: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_dsv2").toFile.getAbsolutePath
    val hub = s"$tmp/hub"
    val nation = Tables(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
    graft.writers.VersionedHub.writeBucketed(spark, nation, hub,
      Seq("n_nationkey"), 8)
    val batch2 = nation.filter(col("n_nationkey") < 5)
      .withColumn("n_name", concat(col("n_name"), lit("_v2")))
    graft.writers.VersionedHub.writeBucketed(spark, batch2, hub,
      Seq("n_nationkey"), 8)
    val latestFiltered = spark.read.format("graft-hub").option("path", hub)
      .load()
      .filter(col("n_nationkey").isin(1L, 2L, 7L))
      .withColumn("version", lit(2))
    val planStr = latestFiltered.queryExecution.executedPlan.toString
    val m = "dirs=(\\d+)/(\\d+)".r.findFirstMatchIn(planStr)
    require(m.exists(g => g.group(1).toInt < g.group(2).toInt),
      s"graft-hub scan must be bucket-pruned by the IN predicate:\n$planStr")
    val v1 = spark.read.format("graft-hub").option("path", hub)
      .option("versionAsOf", "1").load()
      .filter(col("n_nationkey") < 3)
      .withColumn("version", lit(1))
    v1.unionByName(latestFiltered)
      .select(col("version"), col("n_nationkey"), col("n_name"))
      .orderBy(col("version"), col("n_nationkey"))
  }

  private val hubDsv2ReadOracle: String =
    """SELECT 1 AS version, CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
      |FROM nation WHERE n_nationkey < 3
      |UNION ALL
      |SELECT 2, CAST(n_nationkey AS BIGINT),
      |  CASE WHEN n_nationkey < 5 THEN n_name || '_v2' ELSE n_name END
      |FROM nation WHERE n_nationkey IN (1, 2, 7)
      |ORDER BY version, n_nationkey""".stripMargin

  /** Z-order layout contract under the driver gate: lay events out along
    * the Morton curve of (user_id, event bucket) and measure zone-map
    * quality — the AVERAGE fraction of each column's full span a file's
    * [min,max] covers. A single-column sort leaves the other column's
    * fraction at ≈1.0 (blind); the z-curve must keep BOTH averages small.
    * Oracle pins the contract booleans to TRUE.
    *
    * The ORACLE threshold is 0.75 — a margin no partitioning/sampling
    * variance can cross (the blind baseline sits at ≈1.0, the curve's
    * measured quality at ≈0.3; repartitionByRange's reservoir sampling is
    * the only nondeterminism and moves the average by far less than the
    * 0.45 gap). The TIGHT 0.5 bound ("a point predicate skips at least
    * half the data on average") lives in `ZOrderSpec`, asserted under both
    * 4-way and 32-way input partitionings so the contract is provably
    * parallelism-stable rather than empirically lucky.
    */
  val qZorderPrune: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_zorder").toFile.getAbsolutePath
    val nFiles = 16
    val ev = Tables(spark, dir, "events")
      .select(col("user_id").cast("int").as("a"),
        (col("event_id") % 1000).cast("int").as("b"))
    graft.functions.ZOrder.zOrderByBinned(ev, "a", "b", nFiles)
      .write.parquet(s"$tmp/z")
    // per-file zone maps in ONE scan: group by the file each row came from
    // (a per-file loop of tiny jobs costs 2×nFiles scheduler round-trips)
    val (files, fracA, fracB) =
      graft.functions.ZOrder.zoneMapSpanFractions(spark, s"$tmp/z", "a", "b")
    import spark.implicits._
    // files_ok is a bounded-range boolean, not a pinned count:
    // repartitionByRange's reservoir sampling may leave some of the 16
    // target partitions empty on small/skewed data, and Spark writes part
    // files only for non-empty partitions — pinning 16 would flake at low SF
    Seq((files >= 2 && files <= nFiles, fracA <= 0.75, fracB <= 0.75))
      .toDF("files_ok", "prune_a_ok", "prune_b_ok")
  }

  private val zorderPruneOracle: String =
    """SELECT TRUE AS files_ok,
      |  TRUE AS prune_a_ok, TRUE AS prune_b_ok""".stripMargin

  /** Incremental view maintenance end-to-end under the oracle: build hub
    * v1 (events with id%3≠0), commit v2 (inserts = the id%3=0 slice;
    * updates = the id%5=0 survivors re-typed 'boosted' with doubled
    * cents — i.e. group MIGRATION out of their original event_type), then
    * refresh the v1 count/sum aggregate using ONLY the CDF delta
    * ([[graft.writers.VersionedHub.changesCDF]] →
    * [[graft.operators.Materialize.applyCountSumDelta]]). The oracle
    * recomputes the aggregate from the final state directly — hash
    * equality proves delta-refresh ≡ full recompute, including groups that
    * only exist in the delta ('boosted') and groups that lost members.
    */
  val qIncrementalView: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_ivm").toFile.getAbsolutePath
    val hub = s"$tmp/hub"
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
    graft.writers.VersionedHub.write(spark,
      ev.filter(col("event_id") % 3 =!= 0), hub, Seq("event_id"))
    val inserts = ev.filter(col("event_id") % 3 === 0)
    val updates = ev
      .filter(col("event_id") % 3 =!= 0 && col("event_id") % 5 === 0)
      .withColumn("event_type", lit("boosted"))
      .withColumn("cents", col("cents") * 2)
    graft.writers.VersionedHub.write(spark,
      inserts.unionByName(updates), hub, Seq("event_id"))
    val base = graft.writers.VersionedHub.read(spark, hub, Some(1))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
    val cdf = graft.writers.VersionedHub.changesCDF(
      spark, hub, Seq("event_id"), 1, 2)
    graft.operators.Materialize.applyCountSumDelta(
      base, cdf, Seq("event_type"), "cents", "cnt", "sum_cents")
      .orderBy(col("event_type"))
  }

  private val incrementalViewOracle: String =
    """WITH st AS (SELECT
      |    CASE WHEN event_id % 3 <> 0 AND event_id % 5 = 0
      |      THEN 'boosted' ELSE event_type END AS event_type,
      |    CASE WHEN event_id % 3 <> 0 AND event_id % 5 = 0
      |      THEN 2 * CAST(floor(value * 100) AS BIGINT)
      |      ELSE CAST(floor(value * 100) AS BIGINT) END AS cents
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM st GROUP BY 1 ORDER BY event_type""".stripMargin

  /** The streaming composition of [[qIncrementalView]] under the oracle:
    * three micro-batches (maxFilesPerTrigger=1 over three source files)
    * flow through [[graft.streaming.StreamingIngest.streamingMaterializedView]]
    * — hub upsert + CDF-delta view refresh per trigger, no hub rescan
    * after bootstrap — and the FINAL view must equal DuckDB's direct
    * aggregate over all events. Proves the incremental refresh composes
    * across a chain of versions, not just one delta.
    */
  val qStreamMvEquiv: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_stream_mv").toFile.getAbsolutePath
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
    // one scan, three files → three micro-batches; WHICH events share a
    // file is irrelevant to the equivalence (every event is an insert of a
    // distinct key), so round-robin beats three filtered re-scans. The
    // staged dir is a READ-ONLY fixture — memoized; the stream lifecycle
    // below (checkpoint, hub, MV) stays fresh per run
    val src = FixtureCache.path(dir, "mv_stream_src") { p =>
      ev.repartition(3).write.parquet(p)
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    // flat hub layout: these batches are a uniform hash-spread of event_ids,
    // so every commit would touch all buckets anyway — bucketing would add
    // per-commit jobs (touched-set, per-bucket bookkeeping) and buy no
    // pruning. The bucketed MV path is exercised by MaterializeSpec and the
    // bucketed-hub queries; what THIS oracle proves is the CDF delta chain.
    val q = graft.streaming.StreamingIngest.streamingMaterializedView(
      stream, s"$tmp/hub", s"$tmp/mv", Seq("event_id"), Seq("event_type"),
      "cents", s"$tmp/cp", cntCol = "cnt", sumCol = "sum_cents")
    q.awaitTermination()
    val last = graft.writers.VersionedHub.history(spark, s"$tmp/hub")
      .last.version
    require(last >= 2, s"expected multiple micro-batch commits, got $last")
    spark.read.parquet(s"$tmp/mv/v$last").orderBy(col("event_type"))
  }

  private val streamMvEquivOracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Z-order layout consumed THROUGH the connector: commit a z-ordered
    * snapshot to a versioned hub, then range-query it via
    * `format("graft-hub")` — the per-file min/max stats recorded at commit
    * ([[graft.writers.FileStats]]) must let the PLANNER skip files the
    * range cannot touch, from the manifest alone (Delta data skipping,
    * Armbrust VLDB 2020 §4.1). Plan-gated on `skipped>0`: the z-curve
    * guarantees the upper half of the curve holds only rows with
    * user_id above the axis midpoint, so a low range always proves
    * skippable files regardless of partition-sampling noise.
    */
  val qHubDsv2RangePrune: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_dsv2_range").toFile.getAbsolutePath
    val hub = s"$tmp/hub"
    val ev = Tables(spark, dir, "events")
      .select(col("user_id").cast("long").as("a"),
        (col("event_id") % 1000).cast("long").as("b"))
    graft.writers.VersionedHub.write(spark,
      graft.functions.ZOrder.zOrderByBinned(ev, "a", "b", nFiles = 16),
      hub, Seq.empty)
    val rd = spark.read.format("graft-hub").option("path", hub).load()
      .filter(col("a") < 3L)
    val planStr = rd.queryExecution.executedPlan.toString
    val m = "files=(\\d+) skipped=(\\d+)".r.findFirstMatchIn(planStr)
    require(m.exists(_.group(2).toInt > 0),
      s"range predicate over a z-ordered hub must skip files from the " +
        s"manifest stats:\n$planStr")
    rd.groupBy(col("a"))
      .agg(count(lit(1)).as("n"), sum(col("b")).as("sum_b"))
      .orderBy(col("a"))
  }

  private val hubDsv2RangePruneOracle: String =
    """SELECT CAST(user_id AS BIGINT) AS a, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(event_id % 1000) AS BIGINT) AS sum_b
      |FROM events WHERE user_id < 3 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Register a throwaway HubCatalog over `base`. The name is derived from
    * the base path because CatalogManager caches catalog instances by name
    * — re-pointing a cached name at a new base would silently read the old
    * directory.
    */
  private def tempCatalog(spark: SparkSession, base: String): String = {
    val name = s"ghub${java.lang.Integer.toUnsignedString(base.hashCode, 36)}"
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.HubCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    name
  }

  /** Real `MERGE INTO` SQL against a hub catalog table — the upsert shape
    * rewritten onto one ACID [[graft.writers.VersionedHub.write]] commit by
    * [[graft.sources.HubMergeRule]]. Exercises matched updates, not-matched
    * inserts, and the null-key insert quirk (a null key never equi-matches,
    * so it lands as an insert — reference writer.py merge semantics).
    */
  val qHubMergeSql: Q = (spark, dir) => {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_merge_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    val nation = Tables(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
    graft.writers.VersionedHub.writeBucketed(spark, nation,
      s"$tmp/nation_m", Seq("n_nationkey"), 8)
    Tables(spark, dir, "nation")
      .filter(col("n_nationkey") < 5)
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        concat(col("n_name"), lit("_m")).as("n_name"))
      .unionByName(Seq((Some(900L), "NEWLAND"), (None: Option[Long], "NULLKEY"))
        .toDF("n_nationkey", "n_name"))
      .createOrReplaceTempView("nation_updates")
    spark.sql(
      s"""MERGE INTO $cat.default.nation_m t USING nation_updates s
         |ON t.n_nationkey = s.n_nationkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // PARTIAL-COLUMN merge (round-12): the matched UPDATE mentions only
    // n_name (an expression over BOTH sides), the explicit INSERT list
    // mentions only the key — unmentioned columns keep target values on
    // match and land NULL on insert (HubMergeRule's joined-source rewrite)
    Seq((3L, 77L), (901L, 88L)).toDF("n_nationkey", "bonus")
      .createOrReplaceTempView("nation_partial")
    spark.sql(
      s"""MERGE INTO $cat.default.nation_m t USING nation_partial s
         |ON t.n_nationkey = s.n_nationkey
         |WHEN MATCHED THEN UPDATE SET
         |  n_name = concat(t.n_name, '+', CAST(s.bonus AS STRING))
         |WHEN NOT MATCHED THEN INSERT (n_nationkey) VALUES (s.n_nationkey)""".stripMargin)
    spark.sql(s"SELECT n_nationkey, n_name FROM $cat.default.nation_m")
      .orderBy(col("n_nationkey").asc_nulls_first)
  }

  private val hubMergeSqlOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  CASE WHEN n_nationkey = 3 THEN n_name || '_m' || '+77'
      |       WHEN n_nationkey < 5 THEN n_name || '_m' ELSE n_name END AS n_name
      |FROM nation
      |UNION ALL SELECT 900, 'NEWLAND'
      |UNION ALL SELECT NULL, 'NULLKEY'
      |UNION ALL SELECT 901, NULL
      |ORDER BY n_nationkey NULLS FIRST""".stripMargin

  /** A TPC-H-shaped join/agg run ENTIRELY over hub catalog tables in SQL
    * (`FROM <cat>.default.lineitem JOIN <cat>.default.orders ...`),
    * plan-gated on a BroadcastHashJoin that only the connector's
    * manifest-backed statistics can justify: without them a V1 relation
    * reports `defaultSizeInBytes` (Long.MaxValue) and Spark would never
    * broadcast. The IN predicate on the orders routing key bucket-prunes
    * the orders scan, Catalyst's constraint propagation pushes the same IN
    * onto lineitem's routing key (pruning it too), and the pruned orders
    * side — whose true pruned byte size the manifest reports — becomes the
    * broadcast build side. The O(whole-hub) shuffle never happens.
    */
  val qHubCatalogJoin: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_cat_join").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    cloneSeed(spark, dir, "orders2", s"$tmp/orders")(p =>
      graft.writers.VersionedHub.writeBucketed(spark,
        Tables(spark, dir, "orders").select(
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority")),
        p, Seq("o_orderkey"), 16))
    cloneSeed(spark, dir, "lineitem4", s"$tmp/lineitem")(p =>
      graft.writers.VersionedHub.writeBucketed(spark,
        Tables(spark, dir, "lineitem").select(
          col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_extendedprice"), col("l_discount")),
        p, Seq("l_orderkey", "l_linenumber"),
        16, bucketCols = Some(Seq("l_orderkey"))))
    val out = spark.sql(
      s"""SELECT o.o_orderpriority, l.l_orderkey,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
         |    * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE)
         |    / 10000.0 AS revenue
         |FROM $cat.default.lineitem l
         |JOIN $cat.default.orders o ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderkey IN (1, 3, 7, 32, 69)
         |GROUP BY o.o_orderpriority, l.l_orderkey
         |ORDER BY l.l_orderkey""".stripMargin)
    val planStr = out.queryExecution.executedPlan.toString
    require(planStr.contains("BroadcastHashJoin"),
      s"manifest statistics must let the pruned orders side broadcast:\n$planStr")
    require("dirs=(\\d+)/(\\d+)".r.findAllMatchIn(planStr)
      .exists(g => g.group(1).toInt < g.group(2).toInt),
      s"the IN predicate must bucket-prune at least one hub scan:\n$planStr")
    out
  }

  private val hubCatalogJoinOracle: String =
    """SELECT o_orderpriority, CAST(l_orderkey AS BIGINT) AS l_orderkey,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
      |    / 10000.0 AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderkey IN (1, 3, 7, 32, 69)
      |GROUP BY o_orderpriority, l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  /** Tail a hub's commits with the STREAMING source
    * (`spark.readStream.format("graft-hub")`) and fold them into an
    * accumulator hub with a batchId-idempotent upsert: the accumulated
    * table must equal the final snapshot byte-for-byte — the
    * Delta-streaming-source parity contract. Plan/behavior-gated on
    * incrementality: the post-catch-up delta batch must deliver only the
    * touched buckets' rows, not the whole hub.
    */
  val qStreamHubTail: Q = (spark, dir) => {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_hub_tail").toFile.getAbsolutePath
    val hub = s"$tmp/hub"
    val acc = s"$tmp/acc"
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format("graft-hub").option("path", hub).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = graft.GraftSession.persistForReuse(b)
          try {
            sizes += rows.count()
            graft.writers.VersionedHub.writeBucketed(rows.sparkSession, rows,
              acc, Seq("n_nationkey"), 8, batchId = Some(id))
          } finally rows.unpersist()
          ()
        }
        .option("checkpointLocation", s"$tmp/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val nation = Tables(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
    graft.writers.VersionedHub.writeBucketed(spark, nation, hub,
      Seq("n_nationkey"), 8)
    run() // catch-up batch: the full v1 snapshot
    graft.writers.VersionedHub.writeBucketed(spark,
      nation.filter(col("n_nationkey") < 2)
        .withColumn("n_name", concat(col("n_name"), lit("_s"))),
      hub, Seq("n_nationkey"), 8)
    graft.writers.VersionedHub.writeBucketed(spark,
      Seq((900L, "TAILLAND")).toDF("n_nationkey", "n_name"), hub,
      Seq("n_nationkey"), 8)
    run() // delta batch: both new commits, touched buckets only
    val total = nation.count()
    require(sizes.length == 2 && sizes.head == total && sizes.last < total,
      s"stream must deliver one full catch-up batch then a bucket-pruned " +
        s"delta, got $sizes over $total rows")
    graft.writers.VersionedHub.read(spark, acc)
      .select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey"))
  }

  private val streamHubTailOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  CASE WHEN n_nationkey < 2 THEN n_name || '_s' ELSE n_name END AS n_name
      |FROM nation
      |UNION ALL SELECT 900, 'TAILLAND'
      |ORDER BY n_nationkey""".stripMargin

  /** Tail a hub's CHANGE FEED with the streaming source
    * (`readChangeFeed=true` — Delta CDF-streaming parity): the catch-up
    * batch delivers the snapshot as inserts, later batches row-level NET
    * changes (insert / delete / update_pre+postimage). A delta-APPLYING
    * consumer — drop touched keys, add postimages and inserts — must
    * reconstruct the final snapshot exactly, including a real DELETE
    * (which the plain tail's upsert contract cannot express).
    */
  val qStreamCdfTail: Q = (spark, dir) => {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_cdf_tail").toFile.getAbsolutePath
    val hub = s"$tmp/hub"
    val acc = s"$tmp/acc"
    def run(): Unit = {
      val q = spark.readStream.format("graft-hub").option("path", hub)
        .option("readChangeFeed", "true").option("keys", "n_nationkey")
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.withColumn("_batch", lit(id))
            .write.mode("append").parquet(acc)
          ()
        }
        .option("checkpointLocation", s"$tmp/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val nation = Tables(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
    graft.writers.VersionedHub.writeBucketed(spark, nation, hub,
      Seq("n_nationkey"), 8)
    run() // catch-up: snapshot as inserts
    graft.writers.VersionedHub.writeBucketed(spark,
      nation.filter(col("n_nationkey") < 2)
        .withColumn("n_name", concat(col("n_name"), lit("_c"))),
      hub, Seq("n_nationkey"), 8)
    graft.writers.VersionedHub.writeBucketed(spark,
      Seq((901L, "CDFLAND")).toDF("n_nationkey", "n_name"), hub,
      Seq("n_nationkey"), 8,
      deletes = Some(Seq(3L).toDF("n_nationkey")))
    run() // delta: net changes across both commits
    val all = spark.read.parquet(acc)
    val base = all.filter(col("_batch") === 0)
      .select(col("n_nationkey"), col("n_name"))
    val ch = all.filter(col("_batch") > 0)
    // the feed must carry REAL row-level change types, not a re-snapshot
    val types = ch.groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(types.getOrElse("delete", 0L) == 1L &&
      types.getOrElse("insert", 0L) == 1L &&
      types.getOrElse("update_postimage", 0L) == 2L,
      s"expected a net CDF batch (1 delete, 1 insert, 2 postimages), got $types")
    val touched = ch.select(col("n_nationkey")).distinct()
    base.join(touched, Seq("n_nationkey"), "left_anti")
      .unionByName(ch
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select(col("n_nationkey"), col("n_name")))
      .orderBy(col("n_nationkey"))
  }

  private val streamCdfTailOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  CASE WHEN n_nationkey < 2 THEN n_name || '_c' ELSE n_name END AS n_name
      |FROM nation WHERE n_nationkey <> 3
      |UNION ALL SELECT 901, 'CDFLAND'
      |ORDER BY n_nationkey""".stripMargin

  /** The streaming SINK (`writeStream.format("graft-hub")`): micro-batches
    * land as batchId-idempotent ACID merge versions — the write-side twin
    * of [[qStreamHubTail]], here chained source→sink: tail one hub's
    * commits and mirror them into a second hub entirely through the
    * connector surface. The mirror must equal the origin snapshot.
    */
  val qStreamHubMirror: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_hub_mirror").toFile.getAbsolutePath
    val hub = s"$tmp/hub"
    val mirror = s"$tmp/mirror"
    def run(): Unit = {
      val q = spark.readStream.format("graft-hub").option("path", hub).load()
        .writeStream.format("graft-hub")
        .option("path", mirror).option("keys", "n_nationkey")
        .option("checkpointLocation", s"$tmp/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val nation = Tables(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
    graft.writers.VersionedHub.writeBucketed(spark, nation, hub,
      Seq("n_nationkey"), 8)
    run()
    graft.writers.VersionedHub.writeBucketed(spark,
      nation.filter(col("n_nationkey") < 3)
        .withColumn("n_name", concat(col("n_name"), lit("_m2"))),
      hub, Seq("n_nationkey"), 8)
    run()
    // exactly-once across the restart: one mirror version per micro-batch
    val hist = graft.writers.VersionedHub.history(spark, mirror)
    require(hist.flatMap(_.batchId).distinct.size == hist.size,
      s"mirror versions must each carry a distinct engine batchId: $hist")
    graft.writers.VersionedHub.read(spark, mirror)
      .select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey"))
  }

  private val streamHubMirrorOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  CASE WHEN n_nationkey < 3 THEN n_name || '_m2' ELSE n_name END AS n_name
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** SQL `DELETE FROM <hub table> WHERE ...` through [[SupportsDelete]]:
    * one committed version, candidate buckets bounded by the manifest file
    * stats, untouched buckets shared structurally. The oracle is the
    * surviving-row reconstruction; the in-query gates pin the version
    * structure (one new version; structural sharing happened).
    */
  val qHubDeleteSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_delete_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    cloneSeed(spark, dir, "orders2", s"$tmp/orders_d")(p =>
      graft.writers.VersionedHub.writeBucketed(spark,
        Tables(spark, dir, "orders").select(
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority")),
        p, Seq("o_orderkey"), 16))
    val v1 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_d").last
    // a broad predicate delete (touches many buckets) ...
    spark.sql(s"DELETE FROM $cat.default.orders_d " +
      "WHERE o_orderpriority = '5-LOW' AND o_orderkey < 1000")
    val v2 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_d").last
    require(v2.version > v1.version, "DELETE must commit a new version")
    // ... then a NARROW key delete: the IN on the routing column prunes
    // the candidate set to its hash buckets, so every other bucket's dir
    // must carry over structurally into the new manifest
    spark.sql(s"DELETE FROM $cat.default.orders_d " +
      "WHERE o_orderkey IN (1, 2, 3)")
    val v3 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_d").last
    require(v3.version > v2.version, "DELETE must commit a new version")
    require((v2.buckets.toSet intersect v3.buckets.toSet).nonEmpty,
      "buckets without matches must share dirs structurally")
    spark.sql(s"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
      s"CAST(sum(o_orderkey) AS BIGINT) AS sum_k " +
      s"FROM $cat.default.orders_d GROUP BY o_orderpriority " +
      "ORDER BY o_orderpriority")
  }

  /** Real `UPDATE` SQL against a hub catalog table — rewritten onto one
    * ACID [[graft.writers.VersionedHub.updateWhere]] commit by
    * [[graft.sources.HubUpdateRule]]: candidate buckets bounded by the
    * manifest file stats, only matching buckets rewritten, untouched dirs
    * shared structurally (in-query gates). Exercises a multi-assignment
    * SET evaluated against the pre-update row, a predicate on a
    * NON-routing column (stats pruning, not bucket hashing), and SQL
    * NULL-predicate semantics (NULL keeps the row's values). The oracle is
    * the same UPDATE applied as a CASE projection.
    */
  val qHubUpdateSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_update_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    cloneSeed(spark, dir, "orders3", s"$tmp/orders_u")(p =>
      graft.writers.VersionedHub.writeBucketed(spark,
        orders3(spark, dir), p, Seq("o_orderkey"), 16))
    val v1 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_u").last
    // broad update on a non-routing column
    spark.sql(s"UPDATE $cat.default.orders_u " +
      "SET o_orderpriority = concat('X-', o_orderpriority), " +
      "o_totalprice = o_totalprice * 2 " +
      "WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 2000")
    val v2 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_u").last
    require(v2.version == v1.version + 1 && v2.rows == v1.rows,
      "UPDATE must commit one version and keep the row count")
    // narrow keyed update: the routing-column IN prunes candidates, so
    // most bucket dirs must carry over structurally
    spark.sql(s"UPDATE $cat.default.orders_u " +
      "SET o_totalprice = 0.0 WHERE o_orderkey IN (1, 2, 3)")
    val v3 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_u").last
    require((v2.buckets.toSet intersect v3.buckets.toSet).nonEmpty,
      "buckets without matches must share dirs structurally")
    spark.sql(s"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
      s"CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
      s"FROM $cat.default.orders_u GROUP BY o_orderpriority " +
      "ORDER BY o_orderpriority")
  }

  /** MERGE with the full conditional cascade — `WHEN MATCHED AND p THEN
    * DELETE`, partial `UPDATE SET` fallback, star-free `INSERT` list — in
    * ONE ACID commit (delete + upsert atomic, in-query version gate). The
    * oracle reconstructs the cascade as filter + CASE projection.
    */
  val qHubMergeDeleteSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_mergedel_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    cloneSeed(spark, dir, "orders3", s"$tmp/orders_md")(p =>
      graft.writers.VersionedHub.writeBucketed(spark,
        orders3(spark, dir), p, Seq("o_orderkey"), 16))
    val v1 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_md").last
    Tables(spark, dir, "orders")
      .filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .unionByName(
        spark.range(1, 3).select((-col("id")).as("o_orderkey"),
          (col("id") * 111.0).as("o_totalprice")))
      .createOrReplaceTempView("md_src")
    spark.sql(
      s"""MERGE INTO $cat.default.orders_md t USING md_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.o_totalprice >= 150000 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET
         |  o_orderpriority = concat('M-', t.o_orderpriority)
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice)
         |  VALUES (s.o_orderkey, s.o_totalprice)""".stripMargin)
    val v2 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_md").last
    require(v2.version == v1.version + 1,
      "delete + update + insert must land as ONE committed version")
    spark.sql(s"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
      s"CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
      s"FROM $cat.default.orders_md GROUP BY o_orderpriority " +
      "ORDER BY o_orderpriority NULLS FIRST")
  }

  /** Column DEFAULT values (Delta/ANSI parity): `ADD COLUMN ... DEFAULT`
    * back-fills pre-existing rows through the reader's EXISTENCE default
    * (no file rewritten), later INSERTs omitting the column take the
    * CURRENT default, and `SET DEFAULT` re-points future inserts without
    * touching history. The oracle reconstructs the tiering as a CASE over
    * the insert order.
    */
  val qHubDefaultSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_def_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    spark.sql(s"CREATE TABLE $cat.default.nation_def " +
      "(n_nationkey BIGINT, n_name STRING)")
    Tables(spark, dir, "nation").createOrReplaceTempView("nd_src")
    spark.sql(s"INSERT INTO $cat.default.nation_def " +
      "SELECT CAST(n_nationkey AS BIGINT), n_name FROM nd_src " +
      "WHERE n_nationkey < 15")
    spark.sql(s"ALTER TABLE $cat.default.nation_def " +
      "ADD COLUMNS (tier STRING DEFAULT 'bronze')")
    spark.sql(s"ALTER TABLE $cat.default.nation_def " +
      "ALTER COLUMN tier SET DEFAULT 'silver'")
    spark.sql(s"INSERT INTO $cat.default.nation_def (n_nationkey, n_name) " +
      "SELECT CAST(n_nationkey AS BIGINT), n_name FROM nd_src " +
      "WHERE n_nationkey >= 15")
    spark.sql(s"SELECT n_nationkey, n_name, tier " +
      s"FROM $cat.default.nation_def ORDER BY n_nationkey")
  }

  private val hubDefaultSqlOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
      |  CASE WHEN n_nationkey < 15 THEN 'bronze' ELSE 'silver' END AS tier
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** GENERATED ALWAYS AS columns (Delta parity): omitted on INSERT the
    * column fills from its expression; a mismatched explicit value is
    * refused loudly (in-query gate); a direct SET is refused (in-query
    * gate); and an UPDATE of a source column RECOMPUTES it. The oracle
    * replays the expression arithmetic over the surviving rows.
    */
  val qHubGeneratedSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_gen_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    spark.sql(s"CREATE TABLE $cat.default.orders_gen " +
      "(o_orderkey BIGINT, o_totalprice DOUBLE, cents BIGINT " +
      "GENERATED ALWAYS AS (CAST(round(o_totalprice * 100) AS BIGINT)))")
    Tables(spark, dir, "orders").createOrReplaceTempView("gen_src")
    spark.sql(s"INSERT INTO $cat.default.orders_gen (o_orderkey, o_totalprice) " +
      "SELECT CAST(o_orderkey AS BIGINT), CAST(o_totalprice AS DOUBLE) " +
      "FROM gen_src WHERE o_orderkey < 4000")
    // gate 1: an explicit value that CONTRADICTS the expression is refused
    // and nothing commits
    val before = spark.sql(s"SELECT count(*) FROM $cat.default.orders_gen")
      .collect()(0).getLong(0)
    val bad = try { spark.sql(s"INSERT INTO $cat.default.orders_gen " +
      "VALUES (-1, 1.0, 999)"); false } catch { case _: Exception => true }
    require(bad, "a mismatched explicit generated value must be refused")
    require(spark.sql(s"SELECT count(*) FROM $cat.default.orders_gen")
      .collect()(0).getLong(0) == before, "the refused insert must not commit")
    // gate 2: direct SET on the generated column is refused
    val badSet = try { spark.sql(s"UPDATE $cat.default.orders_gen " +
      "SET cents = 0 WHERE o_orderkey = 1"); false }
      catch { case _: Exception => true }
    require(badSet, "direct SET on a generated column must be refused")
    // UPDATE of the SOURCE column recomputes the generated one
    spark.sql(s"UPDATE $cat.default.orders_gen " +
      "SET o_totalprice = o_totalprice + 1 WHERE o_orderkey < 100")
    spark.sql(s"SELECT o_orderkey, cents FROM $cat.default.orders_gen " +
      "ORDER BY o_orderkey")
  }

  private val hubGeneratedSqlOracle: String =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |  CAST(round((CAST(o_totalprice AS DOUBLE) +
      |    CASE WHEN o_orderkey < 100 THEN 1 ELSE 0 END) * 100) AS BIGINT)
      |    AS cents
      |FROM orders WHERE o_orderkey < 4000 ORDER BY o_orderkey""".stripMargin

  /** GENERATED AS IDENTITY (Delta parity): values allocate beyond the
    * manifest-carried high-water mark with no shuffle and no driver
    * coordination beyond the mark itself. Identity values are inherently
    * run-dependent (partition-strided gaps), so the in-query gates carry
    * the identity contract — uniqueness, strictly-increasing across
    * commits, stability under UPDATE/MERGE/upsert, ALWAYS-refusal — and
    * the oracle checks the relational content.
    */
  val qHubIdentitySql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_id_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    spark.sql(s"CREATE TABLE $cat.default.nation_id " +
      "(id BIGINT GENERATED ALWAYS AS IDENTITY, n_nationkey BIGINT, " +
      "n_name STRING)")
    Tables(spark, dir, "nation").createOrReplaceTempView("nid_src")
    spark.sql(s"INSERT INTO $cat.default.nation_id (n_nationkey, n_name) " +
      "SELECT CAST(n_nationkey AS BIGINT), n_name FROM nid_src " +
      "WHERE n_nationkey < 12")
    def idsByKey(): Map[Long, Long] =
      spark.sql(s"SELECT n_nationkey, id FROM $cat.default.nation_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = idsByKey()
    require(first.values.toSet.size == first.size, "ids must be unique")
    // second commit allocates strictly beyond the recorded mark
    spark.sql(s"INSERT INTO $cat.default.nation_id (n_nationkey, n_name) " +
      "SELECT CAST(n_nationkey AS BIGINT), n_name FROM nid_src " +
      "WHERE n_nationkey >= 12")
    val second = idsByKey()
    require(second.filterKeys(_ >= 12).values.min > first.values.max,
      "later commits must allocate beyond earlier ids")
    // explicit insert refused, nothing committed
    val before = second.size
    val refused = try { spark.sql(s"INSERT INTO $cat.default.nation_id " +
      "VALUES (1, -1, 'x')"); false } catch { case _: Exception => true }
    require(refused && idsByKey().size == before,
      "GENERATED ALWAYS must refuse explicit inserts atomically")
    // MERGE rename keeps every matched id; upsert keeps ids too
    spark.sql(s"MERGE INTO $cat.default.nation_id t USING nid_src s " +
      "ON t.n_nationkey = CAST(s.n_nationkey AS BIGINT) " +
      "WHEN MATCHED THEN UPDATE SET n_name = upper(s.n_name)")
    val after = idsByKey()
    require(after == second, "MERGE UPDATE must not reassign identity ids")
    spark.sql(s"SELECT n_nationkey, n_name FROM $cat.default.nation_id " +
      "ORDER BY n_nationkey")
  }

  private val hubIdentitySqlOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  upper(n_name) AS n_name
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** Surgical DELETE through DELETION VECTORS (Delta DV shape): removing
    * a handful of rows from a bucketed hub must be a MANIFEST-ONLY commit
    * — the in-query gate counts parquet files before/after and requires
    * zero new ones — while every read path (catalog SQL here) sees the
    * rows gone. A second, larger delete exercises DV-over-DV
    * accumulation. The oracle is the equivalent anti-filter.
    */
  val qHubDvDelete: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_dv_del").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    cloneSeed(spark, dir, "orders3", s"$tmp/orders_dv")(p =>
      graft.writers.VersionedHub.writeBucketed(spark,
        orders3(spark, dir), p, Seq("o_orderkey"), 16))
    def dataFiles(): Long = {
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(tmp, "orders_dv"))
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val before = dataFiles()
    spark.sql(s"DELETE FROM $cat.default.orders_dv " +
      "WHERE o_orderkey IN (1, 7, 4000, 12345)")
    require(dataFiles() == before,
      "a surgical DELETE must be a deletion-vector (manifest-only) " +
        "commit — data files were written")
    val v2 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_dv").last
    require(v2.dvs.nonEmpty, "the commit must carry deletion vectors")
    // DV-over-DV: a second surgical delete deepens the vectors
    spark.sql(s"DELETE FROM $cat.default.orders_dv WHERE o_orderkey = 2")
    require(dataFiles() == before, "the second delete must be DV too")
    // `t$files.dv_rows` accounts for every hidden position: physical rows
    // minus live rows must equal the summed vector sizes
    val Array(physical, dead) = spark.sql(
      s"SELECT CAST(sum(rows) AS BIGINT), CAST(sum(dv_rows) AS BIGINT) " +
        s"FROM $cat.default.`orders_dv$$files`")
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val live = spark.sql(s"SELECT count(*) FROM $cat.default.orders_dv")
      .collect()(0).getLong(0)
    require(dead > 0 && physical - dead == live,
      s"t\\$$files DV accounting broken: physical=$physical dead=$dead live=$live")
    // CALL purge materializes the vectors: only DV'd buckets rewrite,
    // the vectors clear, and the table content is unchanged (the final
    // SELECT below is the oracle-checked proof)
    spark.sql(s"CALL $cat.system.purge(`table` => 'orders_dv')")
    val v3 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_dv").last
    require(v3.dvs.isEmpty, "purge must clear all deletion vectors")
    require(v3.buckets.exists { case (b, d) => v2.buckets.get(b).contains(d) },
      "purge must keep untouched buckets' existing dirs (O(dv'd buckets))")
    spark.sql(s"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
      s"CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
      s"FROM $cat.default.orders_dv GROUP BY o_orderpriority " +
      "ORDER BY o_orderpriority")
  }

  private val hubDvDeleteOracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders WHERE o_orderkey NOT IN (1, 2, 7, 4000, 12345)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** `WHEN NOT MATCHED BY SOURCE` (Delta's sync-to-source branch matrix):
    * matched rows update, target-only rows conditionally DELETE or
    * UPDATE — one full-outer-joined routing, one ACID commit (in-query
    * version gate). Inherently O(target), like every engine's NMBS. The
    * oracle reconstructs the routing as a CASE over the key-range split.
    */
  val qHubMergeNmbsSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_nmbs_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    cloneSeed(spark, dir, "orders3k6", s"$tmp/orders_ns")(p =>
      graft.writers.VersionedHub.writeBucketed(spark,
        orders3(spark, dir).filter(col("o_orderkey") < 6000),
        p, Seq("o_orderkey"), 16))
    val v1 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_ns").last
    Tables(spark, dir, "orders")
      .filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey").cast("long").as("o_orderkey"))
      .createOrReplaceTempView("ns_src")
    spark.sql(
      s"""MERGE INTO $cat.default.orders_ns t USING ns_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET
         |  o_orderpriority = concat('M-', t.o_orderpriority)
         |WHEN NOT MATCHED BY SOURCE AND t.o_totalprice < 50000 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET
         |  o_orderpriority = 'STALE'""".stripMargin)
    val v2 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_ns").last
    require(v2.version == v1.version + 1,
      "NMBS delete + both updates must land as ONE committed version")
    spark.sql(s"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
      s"CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
      s"FROM $cat.default.orders_ns GROUP BY o_orderpriority " +
      "ORDER BY o_orderpriority")
  }

  private val hubMergeNmbsSqlOracle: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |  FROM orders WHERE o_orderkey < 6000),
      |merged AS (
      |  SELECT CASE WHEN o_orderkey < 3000 THEN 'M-' || o_orderpriority
      |              ELSE 'STALE' END AS o_orderpriority, o_totalprice
      |  FROM base
      |  WHERE NOT (o_orderkey >= 3000 AND o_totalprice < 50000))
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM merged GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** MERGE with EXTRA non-key ON conjuncts (Delta's partition-restricting
    * idiom `ON t.k = s.k AND <pred>`): the extra predicate restricts the
    * MATCHED set — rows it excludes route to the NOT MATCHED / NOT
    * MATCHED BY SOURCE branches, exactly Delta's semantics. In-query
    * gates: everything lands as ONE commit, and the one shape the keyed
    * hub cannot represent (an unconditioned INSERT landing on a key whose
    * match the extra conjunct excluded — Delta would store a duplicate
    * key) is refused loudly without committing. The oracle reconstructs
    * the routing as a CASE over (key-range, price) in DuckDB.
    */
  val qHubMergeOnSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_on_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    cloneSeed(spark, dir, "orders3k6", s"$tmp/orders_on")(p =>
      graft.writers.VersionedHub.writeBucketed(spark,
        orders3(spark, dir).filter(col("o_orderkey") < 6000),
        p, Seq("o_orderkey"), 16))
    val v1 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_on").last
    Tables(spark, dir, "orders")
      .filter(col("o_orderkey") < 3000 ||
        (col("o_orderkey") >= 6000 && col("o_orderkey") < 6500))
      .select(col("o_orderkey").cast("long").as("o_orderkey"))
      .createOrReplaceTempView("on_src")
    // the unconditioned INSERT would land on keys whose match the extra
    // conjunct excluded — the keyed hub refuses rather than silently
    // replacing the surviving row (Delta stores two rows there)
    val refused = scala.util.Try(spark.sql(
      s"""MERGE INTO $cat.default.orders_on t USING on_src s
         |ON t.o_orderkey = s.o_orderkey AND t.o_totalprice < 100000
         |WHEN MATCHED THEN UPDATE SET o_orderpriority = 'HIT'
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority,
         |  o_totalprice) VALUES (s.o_orderkey, 'NEW',
         |  CAST(1.0 AS DOUBLE))""".stripMargin))
    require(refused.isFailure && refused.failed.get.getMessage != null &&
        refused.failed.get.getMessage.contains("already exists"),
      "INSERT onto an extra-conjunct-excluded key must be refused: " +
        refused.toString)
    require(graft.writers.VersionedHub.history(spark, s"$tmp/orders_on")
      .last.version == v1.version, "a refused MERGE must not commit")
    // conditioning the INSERT to the genuinely-absent key range is legal;
    // excluded matches fall through untouched, target-only rows route NMBS
    spark.sql(
      s"""MERGE INTO $cat.default.orders_on t USING on_src s
         |ON t.o_orderkey = s.o_orderkey AND t.o_totalprice < 100000
         |WHEN MATCHED THEN UPDATE SET o_orderpriority = 'HIT'
         |WHEN NOT MATCHED AND s.o_orderkey >= 6000 THEN INSERT
         |  (o_orderkey, o_orderpriority, o_totalprice)
         |  VALUES (s.o_orderkey, 'NEW', CAST(1.0 AS DOUBLE))
         |WHEN NOT MATCHED BY SOURCE AND t.o_totalprice >= 150000 THEN
         |  UPDATE SET o_orderpriority = 'BIG'""".stripMargin)
    val v2 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_on").last
    require(v2.version == v1.version + 1,
      "extra-ON routing + inserts + NMBS must land as ONE committed version")
    spark.sql(s"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
      s"CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
      s"FROM $cat.default.orders_on GROUP BY o_orderpriority " +
      "ORDER BY o_orderpriority")
  }

  private val hubMergeOnSqlOracle: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |  FROM orders WHERE o_orderkey < 6000),
      |merged AS (
      |  SELECT CASE WHEN o_orderkey < 3000 AND o_totalprice < 100000
      |              THEN 'HIT'
      |              WHEN o_totalprice >= 150000 THEN 'BIG'
      |              ELSE o_orderpriority END AS o_orderpriority,
      |    o_totalprice
      |  FROM base
      |  UNION ALL
      |  SELECT 'NEW', 1.0 FROM orders
      |  WHERE o_orderkey >= 6000 AND o_orderkey < 6500)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM merged GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** CHECK constraints (Delta `ALTER TABLE … ADD CONSTRAINT` parity):
    * ADD validates standing data and refuses on violation; every write
    * path enforces via the codegen'd CheckInvariant (violating UPDATE
    * refused, nothing committed — in-query version gates); conforming
    * writes proceed. The oracle replays the conforming lifecycle.
    */
  val qHubCheckSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_check_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    cloneSeed(spark, dir, "orders3k6", s"$tmp/orders_ck")(p =>
      graft.writers.VersionedHub.writeBucketed(spark,
        orders3(spark, dir).filter(col("o_orderkey") < 6000),
        p, Seq("o_orderkey"), 16))
    spark.sql(s"ALTER TABLE $cat.default.orders_ck " +
      "ADD CONSTRAINT price_pos CHECK (o_totalprice > 0)")
    val v1 = graft.writers.VersionedHub.history(spark, s"$tmp/orders_ck").last
    require(v1.checks == Map("price_pos" -> "o_totalprice > 0"),
      s"constraint must be recorded in the manifest, got ${v1.checks}")
    // ADD that standing data violates must refuse without committing
    val badAdd = scala.util.Try(spark.sql(s"ALTER TABLE $cat.default.orders_ck " +
      "ADD CONSTRAINT low_keys CHECK (o_orderkey < 100)"))
    require(badAdd.isFailure, "ADD CONSTRAINT over violating data must fail")
    // violating UPDATE refused by the write-path enforcement, no commit
    val badUpd = scala.util.Try(spark.sql(
      s"UPDATE $cat.default.orders_ck SET o_totalprice = -1.0 " +
        "WHERE o_orderkey = 1"))
    require(badUpd.isFailure, "an UPDATE violating a CHECK must fail")
    val after = graft.writers.VersionedHub.history(spark, s"$tmp/orders_ck").last
    require(after.version == v1.version && after.checks == v1.checks,
      "refused writes must not commit")
    // conforming UPDATE proceeds under the constraint
    spark.sql(s"UPDATE $cat.default.orders_ck " +
      "SET o_totalprice = o_totalprice + 10.0 WHERE o_orderkey < 1000")
    spark.sql(s"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
      s"CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
      s"FROM $cat.default.orders_ck GROUP BY o_orderpriority " +
      "ORDER BY o_orderpriority")
  }

  private val hubCheckSqlOracle: String =
    """WITH merged AS (
      |  SELECT o_orderpriority,
      |    CAST(o_totalprice AS DOUBLE) +
      |      CASE WHEN o_orderkey < 1000 THEN 10.0 ELSE 0.0 END
      |      AS o_totalprice
      |  FROM orders WHERE o_orderkey < 6000)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM merged GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private val hubMergeDeleteSqlOracle: String =
    """WITH merged AS (
      |  SELECT CASE WHEN o_orderkey < 3000 THEN 'M-' || o_orderpriority
      |              ELSE o_orderpriority END AS o_orderpriority,
      |    CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |  FROM orders
      |  WHERE NOT (o_orderkey < 3000 AND o_totalprice >= 150000)
      |  UNION ALL SELECT NULL, 111.0
      |  UNION ALL SELECT NULL, 222.0)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM merged GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  /** Native NOT NULL (Delta schema-constraint parity, lowered onto the
    * CHECK machinery): CREATE-time `NOT NULL` records a synthetic
    * `notnull_<col>` check in the table-creating commit (stored schema
    * stays physically all-nullable); `ALTER COLUMN … SET NOT NULL`
    * validates standing data first and refuses over existing NULLs;
    * write-path enforcement refuses a NULL insert without committing;
    * `DROP NOT NULL` lifts it. The oracle replays the surviving
    * lifecycle over `nation`.
    */
  val qHubNotNullSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_notnull").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    spark.sql(s"CREATE TABLE $cat.default.nation_nn (" +
      "n_nationkey BIGINT NOT NULL, n_name STRING, tag STRING) " +
      "CLUSTERED BY (n_nationkey) INTO 4 BUCKETS")
    val v1 = graft.writers.VersionedHub.history(spark, s"$tmp/nation_nn").last
    require(v1.checks == Map(
      "notnull_n_nationkey" -> "`n_nationkey` IS NOT NULL"),
      s"CREATE-time NOT NULL must lower onto a named check: ${v1.checks}")
    require(v1.schema.exists(_.fields.forall(_.nullable)),
      "the stored schema must stay physically all-nullable")
    Tables(spark, dir, "nation").createOrReplaceTempView("nn_src")
    // tag is NULL for keys < 10, populated otherwise
    spark.sql(s"INSERT INTO $cat.default.nation_nn " +
      "SELECT CAST(n_nationkey AS BIGINT), n_name, " +
      "CASE WHEN n_nationkey < 10 THEN NULL ELSE 'ok' END FROM nn_src")
    def refused(f: => Any): Boolean =
      try { f; false } catch { case _: Exception => true }
    // write-path enforcement: a NULL key is refused, nothing committed
    val vBefore = graft.writers.VersionedHub
      .history(spark, s"$tmp/nation_nn").last.version
    require(refused(spark.sql(s"INSERT INTO $cat.default.nation_nn " +
      "VALUES (NULL, 'bad', 'x')")),
      "INSERT of a NULL into a NOT NULL column must fail")
    require(graft.writers.VersionedHub.history(spark, s"$tmp/nation_nn")
      .last.version == vBefore, "the refused insert must not commit")
    // SET NOT NULL over existing NULLs is refused (validation scan)
    require(refused(spark.sql(s"ALTER TABLE $cat.default.nation_nn " +
      "ALTER COLUMN tag SET NOT NULL")),
      "SET NOT NULL over standing NULLs must fail")
    // backfill, then SET NOT NULL succeeds and enforces
    spark.sql(s"UPDATE $cat.default.nation_nn SET tag = 'filled' " +
      "WHERE tag IS NULL")
    spark.sql(s"ALTER TABLE $cat.default.nation_nn " +
      "ALTER COLUMN tag SET NOT NULL")
    require(refused(spark.sql(s"INSERT INTO $cat.default.nation_nn " +
      "VALUES (99, 'x', NULL)")), "the new NOT NULL must enforce")
    // DROP NOT NULL lifts enforcement
    spark.sql(s"ALTER TABLE $cat.default.nation_nn " +
      "ALTER COLUMN tag DROP NOT NULL")
    spark.sql(s"INSERT INTO $cat.default.nation_nn " +
      "VALUES (99, 'zzz', NULL)")
    spark.sql(s"SELECT n_nationkey, n_name, tag " +
      s"FROM $cat.default.nation_nn ORDER BY n_nationkey")
  }

  private val hubNotNullSqlOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
      |  CASE WHEN n_nationkey < 10 THEN 'filled' ELSE 'ok' END AS tag
      |FROM nation
      |UNION ALL SELECT CAST(99 AS BIGINT), 'zzz', NULL
      |ORDER BY n_nationkey""".stripMargin

  /** CONVERT TO HUB (Delta `CONVERT TO DELTA` parity): a plain-parquet
    * `nation` dir — the pre-log lake some other pipeline wrote — is
    * adopted ZERO-COPY as hub version 1 (files renamed into the log's
    * data root, one footer pass for the manifest; in-query gates pin the
    * adopted row count and that the v1 snapshot stays time-travelable),
    * then the full lifecycle runs on it immediately: a keyed upsert
    * mutates a slice and inserts a sentinel. The oracle reconstructs the
    * post-upsert content from the source table.
    */
  val qHubConvert: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_convert").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    Tables(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"))
      .repartition(3).write.parquet(s"$tmp/nation_cv")
    spark.sql(s"CONVERT TO HUB $cat.default.nation_cv")
    val v1 = graft.writers.VersionedHub.history(spark, s"$tmp/nation_cv").last
    val n = Tables(spark, dir, "nation").count()
    require(v1.version == 1 && v1.rows == n,
      s"adoption must commit the dir as a full v1 snapshot: $v1")
    Tables(spark, dir, "nation").createOrReplaceTempView("cv_src")
    spark.sql(s"MERGE INTO $cat.default.nation_cv t USING " +
      "(SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, " +
      "upper(n_name) AS n_name FROM cv_src WHERE n_nationkey < 5 " +
      "UNION ALL SELECT CAST(99 AS BIGINT), 'sentinel') s " +
      "ON t.n_nationkey = s.n_nationkey " +
      "WHEN MATCHED THEN UPDATE SET n_name = s.n_name " +
      "WHEN NOT MATCHED THEN INSERT *")
    require(spark.sql(s"SELECT count(*) FROM $cat.default.nation_cv " +
      "VERSION AS OF 1").head().getLong(0) == n,
      "the adopted snapshot must stay time-travelable under later commits")
    spark.sql(s"SELECT n_nationkey, n_name FROM $cat.default.nation_cv " +
      "ORDER BY n_nationkey")
  }

  private val hubConvertOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  CASE WHEN n_nationkey < 5 THEN upper(n_name) ELSE n_name END
      |    AS n_name
      |FROM nation
      |UNION ALL SELECT CAST(99 AS BIGINT), 'sentinel'
      |ORDER BY n_nationkey""".stripMargin

  /** CONVERT TO HUB ... PARTITIONED BY (Delta `CONVERT TO DELTA ...
    * PARTITIONED BY` parity) on the engine's OWN RAW zone: [[RawWriter]]
    * lands an `ingest_date=`-partitioned parquet dir (writer.py:9-16's
    * layout — the single most likely adoption source), which the flat
    * CONVERT refuses. The partitioned adoption renames every leaf file
    * zero-copy with its partition value folded into the file name,
    * records min=max manifest stats for `ingest_date` (in-query gate: a
    * one-date predicate must SKIP files at planning time, from the
    * manifest alone), and re-materializes per-row values on every read.
    * Then the normal lifecycle: a keyed MERGE mutates a slice onto a new
    * ingest_date and inserts a sentinel; v1 stays time-travelable. The
    * oracle reconstructs the final content from the source table.
    */
  val qHubConvertPartitioned: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_convp").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    val src = Tables(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"),
        when(col("n_nationkey") < 12, lit(java.sql.Date.valueOf("2024-03-01")))
          .otherwise(lit(java.sql.Date.valueOf("2024-03-02")))
          .as("ingest_date"))
    graft.writers.RawWriter.write(src.repartition(2), s"$tmp/raw_np",
      Seq("ingest_date"))
    spark.sql(s"CONVERT TO HUB $cat.default.raw_np " +
      "PARTITIONED BY (ingest_date)")
    val v1 = graft.writers.VersionedHub.history(spark, s"$tmp/raw_np").last
    val n = Tables(spark, dir, "nation").count()
    require(v1.version == 1 && v1.rows == n,
      s"partitioned adoption must commit the dir as a full v1 snapshot: $v1")
    // partition-predicate SKIP gate: the manifest's injected min=max
    // stats must prune whole files at planning time
    val pruned = spark.read.format("graft-hub").option("path", s"$tmp/raw_np")
      .load().filter(col("ingest_date") === lit(java.sql.Date.valueOf("2024-03-01")))
    val planStr = pruned.queryExecution.executedPlan.toString
    val gate = "files=(\\d+) skipped=(\\d+)".r.findFirstMatchIn(planStr)
    require(gate.exists(_.group(2).toInt > 0),
      s"a one-partition predicate must skip files from the manifest:\n$planStr")
    require(pruned.count() ==
      src.filter(col("ingest_date") === lit(java.sql.Date.valueOf("2024-03-01"))).count(),
      "the pruned read must still return every matching row")
    Tables(spark, dir, "nation").createOrReplaceTempView("convp_src")
    spark.sql(s"MERGE INTO $cat.default.raw_np t USING " +
      "(SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, " +
      "upper(n_name) AS n_name, DATE '2024-03-09' AS ingest_date " +
      "FROM convp_src WHERE n_nationkey < 5 " +
      "UNION ALL SELECT CAST(99 AS BIGINT), 'sentinel', DATE '2024-03-09') s " +
      "ON t.n_nationkey = s.n_nationkey " +
      "WHEN MATCHED THEN UPDATE SET n_name = s.n_name, " +
      "ingest_date = s.ingest_date " +
      "WHEN NOT MATCHED THEN INSERT *")
    require(spark.sql(s"SELECT count(*) FROM $cat.default.raw_np " +
      "VERSION AS OF 1").head().getLong(0) == n,
      "the adopted snapshot must stay time-travelable under later commits")
    spark.sql(s"SELECT n_nationkey, n_name, ingest_date " +
      s"FROM $cat.default.raw_np ORDER BY n_nationkey")
  }

  /** Dedup-IN-PLACE: the pipeline's dedup operators composed with the
    * hub's row-level machinery. Fingerprint duplicates over a documents
    * hub (key = the 200-char text prefix — the corpus plants near-dups
    * as shared-prefix variants, full texts are all distinct; survivor =
    * min doc_id per fingerprint) are removed with ONE surgical DV
    * DELETE — zero data files rewritten at any table size (in-query
    * gate), the pre-dedup corpus stays time-travelable for audit, and
    * `t$files` accounts for every hidden row. This is THE 100 TB dedup
    * shape: mark rows via deletion vectors, let OPTIMIZE/purge
    * materialize on its own schedule, never rewrite the corpus to dedup
    * it. Oracle = the survivor set in plain SQL.
    */
  val qHubDedupInplace: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_ddip").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    cloneSeed(spark, dir, "docs_dd", s"$tmp/docs_dd")(p =>
      graft.writers.VersionedHub.writeBucketed(spark,
        Tables(spark, dir, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("text"),
          col("lang"), col("n_chars").cast("long").as("n_chars")),
        p, Seq("doc_id"), 8))
    val table = s"$cat.default.docs_dd"
    val total = spark.table(table).count()
    // duplicate ids, found ON the hub through the connector: everyone but
    // the min-doc_id exemplar of each text group (DV cap is 50k — a
    // 10×-scale run's dup count still takes the manifest-only path)
    val dupIds = spark.sql(s"SELECT doc_id FROM $table WHERE doc_id NOT IN " +
        s"(SELECT min(doc_id) FROM $table GROUP BY substring(text, 1, 200))")
      .collect().map(_.getLong(0)).sorted
    require(dupIds.nonEmpty, "the documents corpus plants prefix duplicates")
    def dataFiles(): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp, "docs_dd"))
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val before = dataFiles()
    spark.sql(s"DELETE FROM $table WHERE doc_id IN (${dupIds.mkString(", ")})")
    require(dataFiles() == before,
      "in-place dedup must be a deletion-vector (manifest-only) commit")
    val tip = graft.writers.VersionedHub.history(spark, s"$tmp/docs_dd").last
    require(tip.dvs.nonEmpty, "the dedup commit must carry deletion vectors")
    require(spark.sql(s"SELECT count(*) FROM $table VERSION AS OF 1")
      .head().getLong(0) == total,
      "the pre-dedup corpus must stay time-travelable")
    require(spark.table(table).count() == total - dupIds.length,
      "live count must drop by exactly the duplicate count")
    spark.sql(s"SELECT doc_id, lang, n_chars FROM $table ORDER BY doc_id")
  }

  private val hubDedupInplaceOracle: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
      |  CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE doc_id IN (SELECT min(doc_id) FROM documents
      |                 GROUP BY substr(text, 1, 200))
      |ORDER BY doc_id""".stripMargin

  private val hubConvertPartitionedOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  CASE WHEN n_nationkey < 5 THEN upper(n_name) ELSE n_name END
      |    AS n_name,
      |  CASE WHEN n_nationkey < 5 THEN DATE '2024-03-09'
      |       WHEN n_nationkey < 12 THEN DATE '2024-03-01'
      |       ELSE DATE '2024-03-02' END AS ingest_date
      |FROM nation
      |UNION ALL SELECT CAST(99 AS BIGINT), 'sentinel', DATE '2024-03-09'
      |ORDER BY n_nationkey""".stripMargin

  /** RESTORE (Delta RESTORE parity): mutate a hub (UPDATE + DELETE), then
    * restore to version 1 — the tip must equal the ORIGINAL content, with
    * zero data rewritten (pure manifest commit, in-query gate) and all
    * intermediate versions still time-travelable. The oracle is simply
    * the original projection.
    */
  val qHubRestore: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_restore").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    graft.writers.VersionedHub.writeBucketed(spark,
      Tables(spark, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name")),
      s"$tmp/nation_r", Seq("n_nationkey"), 4)
    spark.sql(s"UPDATE $cat.default.nation_r SET n_name = 'GONE' " +
      "WHERE n_nationkey < 10")
    spark.sql(s"DELETE FROM $cat.default.nation_r WHERE n_nationkey >= 20")
    def dataFiles(): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp, "nation_r"))
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val filesBefore = dataFiles()
    val restored = graft.writers.VersionedHub.restore(spark, s"$tmp/nation_r", 1)
    require(restored == 4, s"expected restore to commit v4, got $restored")
    require(dataFiles() == filesBefore,
      "restore must be a pure manifest commit — zero data files written")
    // intermediate state still time-travelable
    require(spark.sql(
      s"SELECT count(*) FROM $cat.default.nation_r VERSION AS OF 3")
      .head().getLong(0) < 25, "pre-restore DELETE state must survive")
    spark.sql(s"SELECT n_nationkey, n_name FROM $cat.default.nation_r " +
      "ORDER BY n_nationkey")
  }

  /** SQL maintenance procedures (`CALL cat.system.*` — Iceberg-style
    * ProcedureCatalog, Spark 4.1): optimize → zorder → restore → vacuum
    * run from SQL; result = the surviving commit log joined with the
    * post-maintenance row count. The maintenance CALLs themselves are not
    * ANSI, but their observable outcome IS deterministic: vacuum keeps the
    * last two of five commits (v4 zorder, v5 restore) and both snapshots
    * hold exactly the nation table's rows — so the oracle derives the row
    * count from the real table and pins the surviving version numbers;
    * in-query requires gate content preservation across the cycle.
    */
  val qHubCallMaintenance: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_call").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    graft.writers.VersionedHub.writeBucketed(spark,
      Tables(spark, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name")),
      s"$tmp/nation_c", Seq("n_nationkey"), 4)
    spark.sql(s"UPDATE $cat.default.nation_c SET n_name = lower(n_name) " +
      "WHERE n_nationkey < 5")
    spark.sql(s"CALL $cat.system.optimize(`table` => 'nation_c')")
    spark.sql(s"CALL $cat.system.zorder(`table` => 'nation_c', " +
      "col_a => 'n_nationkey', col_b => 'n_nationkey')")
    spark.sql(s"CALL $cat.system.restore(`table` => 'nation_c', version => 1)")
    // DRY RUN predicts, deletes nothing; the real vacuum then matches it
    def nVersions(): Long = spark.sql(
      s"SELECT count(*) FROM $cat.default.`nation_c$$history`")
      .head().getLong(0)
    val beforeDry = nVersions()
    val dry = spark.sql(s"CALL $cat.system.vacuum(`table` => 'nation_c', " +
      "keep_versions => 2, retain_ms => 0, dry_run => true)").head()
    require(nVersions() == beforeDry, "dry run must not drop versions")
    require(dry.getInt(1) == (beforeDry - 2).toInt,
      s"dry run must report keep_versions-excess versions: $dry")
    val real = spark.sql(s"CALL $cat.system.vacuum(`table` => 'nation_c', " +
      "keep_versions => 2, retain_ms => 0)").head()
    require(real.getInt(1) == dry.getInt(1),
      s"real vacuum must drop what the dry run reported: $dry vs $real")
    val rows = spark.sql(s"SELECT * FROM $cat.default.nation_c").count()
    require(rows == 25, s"restored content must survive vacuum, got $rows")
    require(!spark.sql(s"SELECT n_name FROM $cat.default.nation_c " +
      "WHERE n_nationkey = 1").head().getString(0).exists(_.isLower),
      "restore must roll the lowercasing UPDATE back")
    spark.sql(s"SELECT version, rows FROM $cat.default.`nation_c$$history` " +
      "ORDER BY version")
  }

  /** BATCH change feed (Delta `readChangeFeed` parity): v1 loads nation,
    * v2 uppercases a slice and inserts sentinels, v3 DV-deletes two keys —
    * then ONE batch read of versions 2..3 serves the per-commit feed with
    * pre/post images and `_commit_version`. The oracle reconstructs the
    * same change rows from the base table in plain SQL.
    */
  val qHubBatchCdf: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_bcdf").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    graft.writers.VersionedHub.writeBucketed(spark,
      Tables(spark, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name")),
      s"$tmp/nation_cf", Seq("n_nationkey"), 4)
    Tables(spark, dir, "nation").createOrReplaceTempView("nation_cf_src")
    spark.sql(s"MERGE INTO $cat.default.nation_cf t USING " +
      "(SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name " +
      "FROM nation_cf_src) s ON t.n_nationkey = s.n_nationkey " +
      "WHEN MATCHED AND s.n_nationkey < 5 THEN UPDATE SET " +
      "n_name = upper(concat(s.n_name, '!'))")
    spark.sql(s"DELETE FROM $cat.default.nation_cf " +
      "WHERE n_nationkey IN (20, 21)")
    val feed = spark.read.format("graft-hub")
      .option("path", s"$tmp/nation_cf")
      .option("readChangeFeed", "true").option("keys", "n_nationkey")
      .option("startingVersion", "2").load()
    // TIMESTAMP bounds (Delta's startingTimestamp/endingTimestamp) resolve
    // through the same manifest log: the window [v2.ts, v3.ts] must serve
    // the IDENTICAL feed, and out-of-history bounds are refused loudly
    val hist = graft.writers.VersionedHub.history(spark, s"$tmp/nation_cf")
    val Seq(ts1, ts2, ts3) = hist.sortBy(_.version).map(_.ts)
    require(ts1 < ts2 && ts2 <= ts3,
      s"commit instants must be ordered for the ts-window gate: $ts1 $ts2 $ts3")
    val feedTs = spark.read.format("graft-hub")
      .option("path", s"$tmp/nation_cf")
      .option("readChangeFeed", "true").option("keys", "n_nationkey")
      .option("startingTimestamp", ts2.toString)
      .option("endingTimestamp", ts3.toString).load()
    // identical-feed gate, ONE evaluation per feed: both projections
    // collect once (the feed is a handful of change rows by construction)
    // and compare as multisets driver-side — the earlier two-exceptAll
    // form re-evaluated the version feed 3x and the ts feed 2x, which is
    // pure CDF-lifecycle cost, not extra coverage. The collected version
    // feed IS the query result (returned as a local frame, so the
    // verify/bench sink does not re-run the lifecycle a 4th time).
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col("n_nationkey"), col("n_name"), col("_change_type"),
          col("_commit_version").cast("long").as("commit_version"))
        .orderBy(col("commit_version"), col("n_nationkey"),
          col("_change_type"))
    val out = proj(feed)
    val feedRows = out.collect()
    val tsRows = proj(feedTs).collect()
    require(feedRows.toSeq == tsRows.toSeq,
      "the [v2.ts, v3.ts] timestamp window must serve the same change feed " +
        "as startingVersion=2")
    def refused(f: => Unit): Boolean =
      try { f; false } catch { case _: Exception => true }
    require(refused(spark.read.format("graft-hub")
        .option("path", s"$tmp/nation_cf")
        .option("readChangeFeed", "true").option("keys", "n_nationkey")
        .option("startingVersion", "1")
        .option("endingTimestamp", (ts1 - 1).toString).load()),
      "a pre-history endingTimestamp must be refused, not served empty")
    require(refused(spark.read.format("graft-hub")
        .option("path", s"$tmp/nation_cf")
        .option("readChangeFeed", "true").option("keys", "n_nationkey")
        .option("startingTimestamp", (ts3 + 1).toString).load()),
      "a post-history startingTimestamp must be refused, not served empty")
    spark.createDataFrame(
      spark.sparkContext.parallelize(feedRows.toIndexedSeq, 1), out.schema)
  }

  private val hubBatchCdfOracle: String =
    """WITH pre AS (SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |    n_name FROM nation WHERE n_nationkey < 5),
      |  v2 AS (
      |    SELECT n_nationkey, n_name, 'update_preimage' AS _change_type,
      |      CAST(2 AS BIGINT) AS commit_version FROM pre
      |    UNION ALL
      |    SELECT n_nationkey, upper(n_name || '!'), 'update_postimage',
      |      CAST(2 AS BIGINT) FROM pre),
      |  v3 AS (
      |    SELECT CAST(n_nationkey AS BIGINT), n_name, 'delete',
      |      CAST(3 AS BIGINT) FROM nation WHERE n_nationkey IN (20, 21))
      |SELECT * FROM (SELECT * FROM v2 UNION ALL SELECT * FROM v3)
      |ORDER BY commit_version, n_nationkey, _change_type""".stripMargin

  /** `CREATE TABLE ... CLUSTERED BY (keys) INTO n BUCKETS`: the CREATE-time
    * feature set (identity, CHECK) riding the bucketed scale layout from
    * version 1. INSERT keeps the hub's keyed-upsert semantics; the oracle
    * reconstructs the surviving content, and in-query gates pin the layout
    * (nBuckets recorded at CREATE, buckets materialized by the insert) and
    * the identity/constraint contracts.
    */
  val qHubClusteredSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_clb").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    spark.sql(s"CREATE TABLE $cat.default.nation_clb (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, n_nationkey BIGINT, " +
      "n_name STRING, CONSTRAINT key_pos CHECK (n_nationkey >= 0)) " +
      "CLUSTERED BY (n_nationkey) INTO 4 BUCKETS")
    val v1 = graft.writers.VersionedHub.history(spark, s"$tmp/nation_clb").last
    require(v1.nBuckets.contains(4) && v1.rows == 0L,
      "CREATE ... CLUSTERED BY must record the bucketed layout at v1")
    Tables(spark, dir, "nation").createOrReplaceTempView("clb_src")
    spark.sql(s"INSERT INTO $cat.default.nation_clb (n_nationkey, n_name) " +
      "SELECT CAST(n_nationkey AS BIGINT), n_name FROM clb_src")
    val v2 = graft.writers.VersionedHub.history(spark, s"$tmp/nation_clb").last
    require(v2.buckets.nonEmpty, "the insert must materialize bucket dirs")
    val ids1 = spark.sql(s"SELECT n_nationkey, id FROM $cat.default.nation_clb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(ids1.values.toSet.size == ids1.size, "identity ids must be unique")
    // keyed-upsert INSERT: the re-sent slice updates in place, ids stable
    spark.sql(s"INSERT INTO $cat.default.nation_clb (n_nationkey, n_name) " +
      "SELECT CAST(n_nationkey AS BIGINT), lower(n_name) FROM clb_src " +
      "WHERE n_nationkey < 10")
    val ids2 = spark.sql(s"SELECT n_nationkey, id FROM $cat.default.nation_clb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(ids2 == ids1, "upserted keys must keep their birth ids")
    val refused = try { spark.sql(s"INSERT INTO $cat.default.nation_clb " +
      "(n_nationkey, n_name) VALUES (-1, 'bad')"); false }
      catch { case _: Exception => true }
    require(refused, "the CREATE-time CHECK must fire on the clustered table")
    spark.sql(s"DELETE FROM $cat.default.nation_clb WHERE n_nationkey >= 20")
    spark.sql(s"SELECT n_nationkey, n_name FROM $cat.default.nation_clb " +
      "ORDER BY n_nationkey")
  }

  private val hubClusteredSqlOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  CASE WHEN n_nationkey < 10 THEN lower(n_name) ELSE n_name END
      |    AS n_name
      |FROM nation WHERE n_nationkey < 20 ORDER BY n_nationkey""".stripMargin

  /** `ALTER TABLE RENAME COLUMN` via column mapping (Delta name-mode
    * parity): each rename is a manifest-only commit — files keep spelling
    * the column by its frozen physical name; reads alias back; writes,
    * UPDATE/DELETE stats pruning and bucket routing all follow the logical
    * name. The lifecycle here renames a data column AND the bucket-routing
    * column, then runs row-level SQL against the new names; the DuckDB
    * oracle reconstructs the same content from the base table directly.
    */
  val qHubRenameSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_rename_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    graft.writers.VersionedHub.writeBucketed(spark,
      Tables(spark, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name")),
      s"$tmp/nation_rn", Seq("n_nationkey"), 4)
    spark.sql(s"ALTER TABLE $cat.default.nation_rn " +
      "RENAME COLUMN n_name TO nation_name")
    spark.sql(s"UPDATE $cat.default.nation_rn " +
      "SET nation_name = lower(nation_name) WHERE n_nationkey < 5")
    spark.sql(s"ALTER TABLE $cat.default.nation_rn " +
      "RENAME COLUMN n_nationkey TO nation_key")
    spark.sql(s"DELETE FROM $cat.default.nation_rn WHERE nation_key >= 20")
    require(spark.sql(
      s"SELECT * FROM $cat.default.nation_rn VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("n_nationkey", "n_name"),
      "time travel must show the pre-rename names")
    spark.sql(s"SELECT nation_key, nation_name FROM $cat.default.nation_rn " +
      "ORDER BY nation_key")
  }

  private val hubRenameSqlOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
      |  CASE WHEN n_nationkey < 5 THEN lower(n_name) ELSE n_name END
      |    AS nation_name
      |FROM nation WHERE n_nationkey < 20
      |ORDER BY nation_key""".stripMargin

  /** `CREATE TABLE … AS SELECT` + `REPLACE TABLE … AS SELECT` through the
    * catalog (Spark's non-atomic v2 CTAS/RTAS path: create-empty → merge
    * write; replace = drop + recreate at the SAME path). The REPLACE leg
    * regression-gates the manifest-cache invalidation on DROP — before the
    * fix, the recreated table read the OLD incarnation's cached v1 (stale
    * schema and dirs). Result = the replaced table's content; the oracle
    * recomputes both SELECTs directly.
    */
  val qHubCtasSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_ctas_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    Tables(spark, dir, "region").createOrReplaceTempView("region_ctas_src")
    spark.sql(s"CREATE TABLE $cat.default.region_c AS " +
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name " +
      "FROM region_ctas_src")
    require(spark.table(s"$cat.default.region_c").count() == 5,
      "CTAS must land the full source")
    spark.sql(s"REPLACE TABLE $cat.default.region_c AS " +
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, " +
      "lower(r_name) AS r_name FROM region_ctas_src WHERE r_regionkey < 3")
    require(spark.table(s"$cat.default.region_c").schema.fieldNames.toSeq ==
      Seq("r_regionkey", "r_name"), "REPLACE must carry the NEW schema")
    spark.sql(s"SELECT r_regionkey, r_name FROM $cat.default.region_c " +
      "ORDER BY r_regionkey")
  }

  private val hubCtasSqlOracle: String =
    """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
      |  lower(r_name) AS r_name
      |FROM region WHERE r_regionkey < 3
      |ORDER BY r_regionkey""".stripMargin

  private val hubCallMaintenanceOracle: String =
    """SELECT CAST(v.version AS INT) AS version,
      |  CAST((SELECT count(*) FROM nation) AS BIGINT) AS "rows"
      |FROM (VALUES (4), (5)) AS v(version)
      |ORDER BY version""".stripMargin

  /** Zero-copy SHALLOW CLONE (`CALL cat.system.clone` — Delta
    * `CREATE TABLE ... SHALLOW CLONE` parity): the clone's first version
    * references the source's data dirs by fully-qualified path, so NO data
    * file is copied at any table size (in-query gate: the clone's own
    * `data/` does not exist). The clone then evolves independently — an
    * UPDATE detaches only its touched buckets while the source snapshot
    * stays byte-identical (in-query gate). Result = the mutated clone's
    * content; the DuckDB oracle applies the same mutation to the base
    * table directly.
    */
  val qHubCloneSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_clone_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    graft.writers.VersionedHub.writeBucketed(spark,
      Tables(spark, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name")),
      s"$tmp/nation_cl", Seq("n_nationkey"), 4)
    spark.sql(s"CALL $cat.system.clone(`table` => 'nation_cl', " +
      "target => 'nation_cl2')")
    require(!Files.exists(java.nio.file.Paths.get(tmp, "nation_cl2", "data")),
      "shallow clone must copy ZERO data files")
    spark.sql(s"UPDATE $cat.default.nation_cl2 SET n_name = lower(n_name) " +
      "WHERE n_nationkey < 10")
    require(spark.sql(s"SELECT count(*) FROM $cat.default.nation_cl " +
      "WHERE n_name <> upper(n_name)").head().getLong(0) == 0,
      "the clone's UPDATE must not leak into the source")
    spark.sql(s"SELECT n_nationkey, n_name FROM $cat.default.nation_cl2 " +
      "ORDER BY n_nationkey")
  }

  private val hubCloneSqlOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  CASE WHEN n_nationkey < 10 THEN lower(n_name) ELSE n_name END
      |    AS n_name
      |FROM nation ORDER BY n_nationkey""".stripMargin

  private val hubRestoreOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
      |FROM nation ORDER BY n_nationkey""".stripMargin

  private val hubUpdateSqlOracle: String =
    """WITH upd AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey < 2000
      |         THEN 'X-' || o_orderpriority ELSE o_orderpriority END
      |      AS o_orderpriority,
      |    CASE WHEN o_orderkey IN (1, 2, 3) THEN 0.0
      |         WHEN o_orderpriority = '1-URGENT' AND o_orderkey < 2000
      |         THEN CAST(o_totalprice AS DOUBLE) * 2
      |         ELSE CAST(o_totalprice AS DOUBLE) END AS o_totalprice
      |  FROM orders)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM upd GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  private val hubDeleteSqlOracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_k
      |FROM orders
      |WHERE NOT (o_orderpriority = '5-LOW' AND o_orderkey < 1000)
      |  AND o_orderkey NOT IN (1, 2, 3)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** SQL `INSERT OVERWRITE <hub table>`: one full-replacement committed
    * version through the connector's truncate-capable write builder; the
    * pre-overwrite snapshot stays time-travelable and the bucketed layout
    * survives (in-query gates).
    */
  val qHubOverwriteSql: Q = (spark, dir) => {
    val tmp = Files.createTempDirectory("graft_overwrite_sql").toFile.getAbsolutePath
    val cat = tempCatalog(spark, tmp)
    val nation = Tables(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
    graft.writers.VersionedHub.writeBucketed(spark, nation,
      s"$tmp/nation_o", Seq("n_nationkey"), 8)
    nation.createOrReplaceTempView("nation_ow_src")
    spark.sql(s"INSERT OVERWRITE $cat.default.nation_o " +
      "SELECT n_nationkey, upper(n_name) AS n_name FROM nation_ow_src " +
      "WHERE n_nationkey < 10")
    val hist = graft.writers.VersionedHub.history(spark, s"$tmp/nation_o")
    require(hist.size == 2 && hist.last.nBuckets.contains(8),
      s"overwrite must commit ONE layout-preserving version: $hist")
    require(spark.sql(
      s"SELECT count(*) FROM $cat.default.nation_o VERSION AS OF 1")
      .head().getLong(0) == nation.count(),
      "the pre-overwrite snapshot must stay time-travelable")
    spark.sql(s"SELECT n_nationkey, n_name FROM $cat.default.nation_o")
      .orderBy(col("n_nationkey"))
  }

  private val hubOverwriteSqlOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
      |  upper(n_name) AS n_name
      |FROM nation WHERE n_nationkey < 10
      |ORDER BY n_nationkey""".stripMargin

  /** Z-order compaction of a BUCKETED hub consumed through the connector:
    * after [[graft.writers.VersionedHub.optimizeZOrderBuckets]] every
    * bucket dir holds a few contiguous z-curve files, so a range predicate
    * on a NON-routing column — which bucket pruning cannot touch (`dirs`
    * stays full) — still skips whole files inside every bucket from the
    * manifest's per-file stats. Plan-gated on exactly that shape.
    */
  val qHubZorderBuckets: Q = (spark, dir) => {
    // the fixture (bucketed write + z-order compaction) is READ-ONLY
    // after setup, so it is memoized whole via the seed cache — the
    // plan/skipping gates below re-run on every invocation
    val hub = seedPath(dir, "events_zorder") { p =>
      val ev = Tables(spark, dir, "events").select(
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("a"),
        (col("event_id") % 1000).cast("long").as("b"))
      graft.writers.VersionedHub.writeBucketed(spark, ev, p,
        Seq("event_id"), 16)
      graft.writers.VersionedHub.optimizeZOrderBuckets(spark, p, "a", "b",
        filesPerBucket = 4)
    }
    val rd = spark.read.format("graft-hub").option("path", hub).load()
      .filter(col("a") < 8L)
    val planStr = rd.queryExecution.executedPlan.toString
    val m = "dirs=(\\d+)/(\\d+) files=(\\d+) skipped=(\\d+)".r
      .findFirstMatchIn(planStr)
    require(m.exists(g => g.group(1) == g.group(2) && g.group(4).toInt > 0),
      s"a non-routing range must keep all bucket dirs yet skip z-ordered " +
        s"files inside them:\n$planStr")
    rd.groupBy(col("a"))
      .agg(count(lit(1)).as("n"), sum(col("b")).as("sum_b"))
      .orderBy(col("a"))
  }

  private val hubZorderBucketsOracle: String =
    """SELECT CAST(user_id AS BIGINT) AS a, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(event_id % 1000) AS BIGINT) AS sum_b
      |FROM events WHERE user_id < 8 GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Map[String, Q] = Map(
    "q_hub_zorder_buckets" -> qHubZorderBuckets,
    "q_hub_overwrite_sql" -> qHubOverwriteSql,
    "q_hub_delete_sql" -> qHubDeleteSql,
    "q_hub_update_sql" -> qHubUpdateSql,
    "q_hub_merge_delete_sql" -> qHubMergeDeleteSql,
    "q_hub_merge_nmbs_sql" -> qHubMergeNmbsSql,
    "q_hub_merge_on_sql" -> qHubMergeOnSql,
    "q_hub_check_sql" -> qHubCheckSql,
    "q_hub_notnull_sql" -> qHubNotNullSql,
    "q_hub_generated_sql" -> qHubGeneratedSql,
    "q_hub_identity_sql" -> qHubIdentitySql,
    "q_hub_batch_cdf" -> qHubBatchCdf,
    "q_hub_clustered_sql" -> qHubClusteredSql,
    "q_hub_dv_delete" -> qHubDvDelete,
    "q_hub_default_sql" -> qHubDefaultSql,
    "q_hub_restore" -> qHubRestore,
    "q_hub_clone_sql" -> qHubCloneSql,
    "q_hub_convert" -> qHubConvert,
    "q_hub_convert_partitioned" -> qHubConvertPartitioned,
    "q_hub_dedup_inplace" -> qHubDedupInplace,
    "q_hub_ctas_sql" -> qHubCtasSql,
    "q_hub_rename_sql" -> qHubRenameSql,
    "q_hub_call_maintenance" -> qHubCallMaintenance,
    "q_hub_timestamp_travel" -> qHubTimestampTravel,
    "q_hub_files_meta" -> qHubFilesMeta,
    "q_hub_alter_sql" -> qHubAlterSql,
    "q_stream_cdf_tail" -> qStreamCdfTail,
    "q_stream_hub_mirror" -> qStreamHubMirror,
    "q_stream_hub_tail" -> qStreamHubTail,
    "q_hub_merge_sql" -> qHubMergeSql,
    "q_hub_catalog_join" -> qHubCatalogJoin,
    "q_hub_dsv2_range_prune" -> qHubDsv2RangePrune,
    "q_stream_mv_equiv" -> qStreamMvEquiv,
    "q_incremental_view" -> qIncrementalView,
    "q_zorder_prune" -> qZorderPrune,
    "q_ingest_hub_roundtrip" -> qIngestHubRoundtrip,
    "q_ingest_versioned_roundtrip" -> qIngestVersionedRoundtrip,
    "q_jdbc_ingest" -> qJdbcIngest,
    "q_ingest_multi_source" -> qIngestMultiSource,
    "q_hub_time_travel" -> qHubTimeTravel,
    "q_hub_change_feed" -> qHubChangeFeed,
    "q_hub_bucketed_roundtrip" -> qHubBucketedRoundtrip,
    "q_hub_dsv2_read" -> qHubDsv2Read
  )

  val oracles: Map[String, String] = Map(
    "q_hub_zorder_buckets" -> hubZorderBucketsOracle,
    "q_hub_overwrite_sql" -> hubOverwriteSqlOracle,
    "q_hub_delete_sql" -> hubDeleteSqlOracle,
    "q_hub_update_sql" -> hubUpdateSqlOracle,
    "q_hub_merge_delete_sql" -> hubMergeDeleteSqlOracle,
    "q_hub_merge_nmbs_sql" -> hubMergeNmbsSqlOracle,
    "q_hub_merge_on_sql" -> hubMergeOnSqlOracle,
    "q_hub_check_sql" -> hubCheckSqlOracle,
    "q_hub_notnull_sql" -> hubNotNullSqlOracle,
    "q_hub_generated_sql" -> hubGeneratedSqlOracle,
    "q_hub_identity_sql" -> hubIdentitySqlOracle,
    "q_hub_batch_cdf" -> hubBatchCdfOracle,
    "q_hub_clustered_sql" -> hubClusteredSqlOracle,
    "q_hub_dv_delete" -> hubDvDeleteOracle,
    "q_hub_default_sql" -> hubDefaultSqlOracle,
    "q_hub_restore" -> hubRestoreOracle,
    "q_hub_clone_sql" -> hubCloneSqlOracle,
    "q_hub_convert" -> hubConvertOracle,
    "q_hub_convert_partitioned" -> hubConvertPartitionedOracle,
    "q_hub_dedup_inplace" -> hubDedupInplaceOracle,
    "q_hub_call_maintenance" -> hubCallMaintenanceOracle,
    "q_hub_ctas_sql" -> hubCtasSqlOracle,
    "q_hub_rename_sql" -> hubRenameSqlOracle,
    "q_stream_cdf_tail" -> streamCdfTailOracle,
    "q_stream_hub_mirror" -> streamHubMirrorOracle,
    "q_stream_hub_tail" -> streamHubTailOracle,
    "q_hub_merge_sql" -> hubMergeSqlOracle,
    "q_hub_catalog_join" -> hubCatalogJoinOracle,
    "q_hub_dsv2_range_prune" -> hubDsv2RangePruneOracle,
    "q_stream_mv_equiv" -> streamMvEquivOracle,
    "q_incremental_view" -> incrementalViewOracle,
    "q_zorder_prune" -> zorderPruneOracle,
    "q_ingest_hub_roundtrip" -> ingestHubRoundtripOracle,
    "q_ingest_versioned_roundtrip" -> ingestVersionedRoundtripOracle,
    "q_jdbc_ingest" -> jdbcIngestOracle,
    "q_ingest_multi_source" -> ingestMultiSourceOracle,
    "q_hub_time_travel" -> hubTimeTravelOracle,
    "q_hub_timestamp_travel" -> hubTimeTravelOracle,
    "q_hub_files_meta" -> hubFilesMetaOracle,
    "q_hub_alter_sql" -> hubAlterSqlOracle,
    "q_hub_dsv2_read" -> hubDsv2ReadOracle,
    "q_hub_change_feed" -> hubChangeFeedOracle,
    "q_hub_bucketed_roundtrip" -> hubBucketedRoundtripOracle
  )
}
