package graft

import graft.catalog.YamlCatalog
import graft.engine.Ingest
import graft.writers.VersionedHub

class IngestSpec extends SparkTestBase {

  def catalogYaml(lake: String): String =
    s"""version: 1
       |defaults:
       |  raw_base: $lake/raw
       |  hub_base: $lake/hub
       |  checkpoint_base: $lake/_checkpoints
       |  domain: sales
       |sources:
       |  - id: customers_csv
       |    type: csv
       |    domain: sales
       |    entity: customers
       |    options:
       |      path: ${resource("/samples/customers.csv")}
       |      header: true
       |      inferSchema: true
       |      mode: PERMISSIVE
       |    hub_primary_keys: ["customer_id"]
       |  - id: orders_json
       |    type: json
       |    domain: sales
       |    entity: orders
       |    options:
       |      path: ${resource("/samples/orders.json")}
       |      multiline: false
       |    hub_primary_keys: ["order_id"]
       |  - id: products_jdbc
       |    enabled: false
       |    type: jdbc
       |    domain: sales
       |    entity: products
       |    options: {url: "jdbc:sqlite:none", dbtable: products}
       |  - id: cube_sales_olap
       |    type: olap
       |    domain: sales
       |    entity: cube_sales
       |    options:
       |      xmla_endpoint: "powerbi://api.powerbi.com/v1.0/myorg/X"
       |      mdx: "SELECT ..."
       |      fallback_csv_path: ${resource("/samples/cube_sales_fallback.csv")}
       |    hub_primary_keys: ["category", "calendar_year"]
       |""".stripMargin

  test("full pipeline: run twice — RAW doubles, HUB stays fixed (idempotent upsert)") {
    val lake = tmpDir("lake")
    val sys = YamlCatalog.loadString(catalogYaml(lake))
    val r1 = Ingest.runCatalog(spark, sys)
    assert(r1.map(_.id) == Seq("customers_csv", "orders_json", "cube_sales_olap"))

    // hub reads go through the layout-aware reader: keyed sources default to
    // the versioned bucketed layout, whose files a plain recursive read
    // would double-count across versions
    def counts(zone: String): Map[String, Long] =
      Seq("customers", "orders", "cube_sales").map { e =>
        val p = s"$lake/$zone/sales/$e"
        e -> (if (zone == "hub") Ingest.readHub(spark, p).count()
              else spark.read.parquet(p).count())
      }.toMap
    val raw1 = counts("raw"); val hub1 = counts("hub")
    assert(raw1 == Map("customers" -> 3L, "orders" -> 3L, "cube_sales" -> 4L))
    assert(hub1 == raw1)

    Ingest.runCatalog(spark, sys)
    assert(counts("raw") == raw1.view.mapValues(_ * 2).toMap, "RAW is append-only")
    assert(counts("hub") == hub1, "HUB is idempotent for keyed sources")
  }

  test("audit columns stamped with one ingest_date per run; RAW partitioned by it") {
    val lake = tmpDir("lake")
    Ingest.runCatalog(spark, YamlCatalog.loadString(catalogYaml(lake)))
    val df = spark.read.parquet(s"$lake/raw/sales/customers")
    assert(Set("_source_id", "_ingest_ts_utc", "ingest_date")
      .subsetOf(df.columns.toSet))
    // note: read-back type is DateType — Spark's partition-column type
    // inference parses the ISO string partition value (same as the reference)
    val dates = df.select(org.apache.spark.sql.functions.col("ingest_date")
      .cast("string")).distinct().collect().map(_.getString(0))
    assert(dates.length == 1 && dates.head.matches("\\d{4}-\\d{2}-\\d{2}"))
    assert(df.select("_source_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("customers_csv"))
    // physical layout: hive-style partition dir exists
    val part = new java.io.File(s"$lake/raw/sales/customers")
      .listFiles().map(_.getName).filter(_.startsWith("ingest_date="))
    assert(part.nonEmpty)
  }

  test("moderate-volume parquet source through bucketed hub (60k rows)") {
    val lake = tmpDir("lake")
    val yaml =
      s"""version: 1
         |defaults: {raw_base: $lake/raw, hub_base: $lake/hub, domain: tpch}
         |sources:
         |  - id: lineitem_parquet
         |    type: parquet
         |    domain: tpch
         |    entity: lineitem
         |    options: {path: /root/testdata/sf0.01/lineitem.parquet}
         |    hub_primary_keys: ["l_orderkey", "l_linenumber"]
         |    hub_buckets: 16
         |""".stripMargin
    val sys = YamlCatalog.loadString(yaml)
    Ingest.runCatalog(spark, sys)
    Ingest.runCatalog(spark, sys) // re-run: hub idempotent on composite key
    val src = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val distinctKeys = src.select("l_orderkey", "l_linenumber").distinct().count()
    val hub = Ingest.readHub(spark, s"$lake/hub/tpch/lineitem")
    // the synthetic lineitem has duplicate (orderkey, linenumber) pairs —
    // the keyed upsert must land exactly one row per key
    assert(hub.count() == distinctKeys)
    assert(spark.read.parquet(s"$lake/raw/tpch/lineitem").count() == src.count() * 2)
    // audit columns made it through the bucketed path
    assert(hub.columns.contains("_ingest_ts_utc"))
  }

  /** A one-source catalog over the customers sample; `extra` is appended
    * to the source entry.
    */
  def customersYaml(lake: String, extra: String): String =
    s"""version: 1
       |defaults: {raw_base: $lake/raw, hub_base: $lake/hub, domain: sales}
       |sources:
       |  - id: customers
       |    type: csv
       |    domain: sales
       |    entity: customers
       |    options:
       |      path: ${resource("/samples/customers.csv")}
       |      header: true
       |      inferSchema: true
       |$extra""".stripMargin

  test("keyed sources default to the versioned bucketed hub") {
    val lake = tmpDir("lake")
    val sys = YamlCatalog.loadString(
      customersYaml(lake, """    hub_primary_keys: ["customer_id"]"""))
    Ingest.runCatalog(spark, sys)
    Ingest.runCatalog(spark, sys)
    // ACID log with one version per run, O(batch) buckets
    val hist = VersionedHub.history(spark, s"$lake/hub/sales/customers")
    assert(hist.map(_.version) == Seq(1, 2))
    assert(hist.forall(_.buckets.nonEmpty))
    assert(Ingest.readHub(spark, s"$lake/hub/sales/customers").count() == 3)
  }

  test("keyless sources append one versioned-hub commit per run") {
    val lake = tmpDir("lake")
    val sys = YamlCatalog.loadString(customersYaml(lake, ""))
    Ingest.runCatalog(spark, sys)
    Ingest.runCatalog(spark, sys)
    val hub = s"$lake/hub/sales/customers"
    val hist = VersionedHub.history(spark, hub)
    assert(hist.map(_.version) == Seq(1, 2))
    assert(hist.map(_.rows) == Seq(3L, 6L) && hist.forall(_.buckets.isEmpty))
    assert(Ingest.readHub(spark, hub).count() == 6, "keyless HUB appends")
    assert(spark.read.parquet(s"$lake/raw/sales/customers").count() == 6)
  }

  test("an unversioned hub dir is refused until VersionedHub.convert adopts it") {
    val lake = tmpDir("lake")
    val hub = s"$lake/hub/sales/customers"
    import spark.implicits._
    Seq((100, "Old"), (101, "Older")).toDF("customer_id", "first_name")
      .write.parquet(hub)
    val sys = YamlCatalog.loadString(
      customersYaml(lake, """    hub_primary_keys: ["customer_id"]"""))
    val e = intercept[IllegalArgumentException](Ingest.runCatalog(spark, sys))
    assert(e.getMessage.contains("VersionedHub.convert"), e.getMessage)
    val r = intercept[IllegalArgumentException](Ingest.readHub(spark, hub))
    assert(r.getMessage.contains("VersionedHub.convert"), r.getMessage)
    assert(!new java.io.File(hub, "_log").exists(), "no version was committed")
    VersionedHub.convert(spark, hub)
    Ingest.runCatalog(spark, sys)
    val ids = Ingest.readHub(spark, hub).select("customer_id").as[Int]
      .collect().sorted.toSeq
    assert(ids == Seq(1, 2, 3, 100, 101), "old and new rows both present")
    // an unversioned BUCKETED hub points at re-landing through writeBucketed
    val bucketed = s"$lake/hub/sales/bucketed"
    val old = Seq((7, "Old")).toDF("customer_id", "first_name")
    old.write.parquet(s"$bucketed/_bucket=3")
    val b = intercept[IllegalArgumentException](VersionedHub.writeBucketed(
      spark, old, bucketed, Seq("customer_id"), 4))
    assert(b.getMessage.contains("VersionedHub.writeBucketed"), b.getMessage)
  }

  test("parallel source execution produces the same lake") {
    val lake = tmpDir("lake")
    Ingest.runCatalog(spark, YamlCatalog.loadString(catalogYaml(lake)), parallelism = 3)
    assert(Ingest.readHub(spark, s"$lake/hub/sales/customers").count() == 3)
    assert(Ingest.readHub(spark, s"$lake/hub/sales/orders").count() == 3)
    assert(Ingest.readHub(spark, s"$lake/hub/sales/cube_sales").count() == 4)
  }

  test("continueOnError isolates a broken source; default aborts on it") {
    val lake = tmpDir("lake")
    val broken =
      s"""  - id: broken_csv
         |    type: csv
         |    domain: sales
         |    entity: broken
         |    options: {path: $lake/does_not_exist.csv, header: true}
         |""".stripMargin
    val yaml = catalogYaml(lake) + broken
    // default: reference parity — the failure propagates
    intercept[Exception] {
      Ingest.runCatalog(spark, YamlCatalog.loadString(yaml))
    }
    // isolated: healthy sources land, the failure is collected and thrown
    val lake2 = tmpDir("lake")
    val yaml2 = catalogYaml(lake2) +
      broken.replace(s"$lake/does_not_exist", s"$lake2/does_not_exist")
    val ex = intercept[Ingest.PartialIngestFailure] {
      Ingest.runCatalog(spark, YamlCatalog.loadString(yaml2),
        continueOnError = true)
    }
    assert(ex.failures.map(_.id) == Seq("broken_csv"))
    assert(ex.succeeded.map(_.id).toSet.contains("customers_csv"))
    assert(Ingest.readHub(spark, s"$lake2/hub/sales/customers").count() == 3)
  }

  test("hub_zorder compacts a keyless versioned hub as a committed version") {
    val lake = tmpDir("lake")
    val csv = new java.io.File(lake, "points.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("a,b")
    (1 to 50).foreach(i => w.println(s"${i % 10},${i / 10}"))
    w.close()
    val yaml =
      s"""version: 1
         |defaults:
         |  raw_base: $lake/raw
         |  hub_base: $lake/hub
         |  domain: d
         |sources:
         |  - id: points
         |    type: csv
         |    domain: d
         |    entity: points
         |    options: {path: $csv, header: true, inferSchema: true}
         |    hub_zorder: [a, b]
         |""".stripMargin
    Ingest.runCatalog(spark, YamlCatalog.loadString(yaml))
    val hub = s"$lake/hub/d/points"
    // version 1 = the append, version 2 = the committed z-order rewrite
    val hist = VersionedHub.history(spark, hub)
    assert(hist.map(_.version) == Seq(1, 2))
    assert(hist.forall(_.rows == 50))
    assert(Ingest.readHub(spark, hub).count() == 50)
  }

  test("hub_zorder on a keyed source fails loudly") {
    val lake = tmpDir("lake")
    val yaml = catalogYaml(lake).replace(
      """hub_primary_keys: ["customer_id"]""",
      "hub_primary_keys: [\"customer_id\"]\n    hub_zorder: [customer_id, customer_id]")
    val ex = intercept[Exception] {
      Ingest.runCatalog(spark, YamlCatalog.loadString(yaml))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("hub_zorder")), ex)
    // refused at catalog load: no source ran, so nothing landed
    assert(!new java.io.File(s"$lake/raw").exists(),
      "a misconfigured catalog must fail before any RAW write")
  }
}
