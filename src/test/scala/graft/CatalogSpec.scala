package graft

import graft.catalog.YamlCatalog
import org.scalatest.funsuite.AnyFunSuite

class CatalogSpec extends AnyFunSuite {

  val yaml: String =
    """version: 1
      |defaults:
      |  raw_base: /tmp/lake/raw
      |  hub_base: /tmp/lake/hub
      |  checkpoint_base: /tmp/lake/_checkpoints
      |  domain: sales
      |sources:
      |  - id: customers_csv
      |    enabled: true
      |    type: csv
      |    domain: sales
      |    entity: customers
      |    options:
      |      path: /x/customers.csv
      |      header: true
      |      inferSchema: true
      |      mode: PERMISSIVE
      |    raw_partitions: ["ingest_date"]
      |    hub_primary_keys: ["customer_id"]
      |  - id: products_jdbc
      |    enabled: false
      |    type: jdbc
      |    domain: sales
      |    entity: products
      |    options: {url: "jdbc:sqlite:x", dbtable: products}
      |  - id: minimal
      |    type: parquet
      |""".stripMargin

  test("parses version, defaults, and all sources") {
    val sys = YamlCatalog.loadString(yaml)
    assert(sys.version == 1)
    assert(sys.defaults("raw_base") == "/tmp/lake/raw")
    assert(sys.sources.map(_.id) == Seq("customers_csv", "products_jdbc", "minimal"))
  }

  test("source fields and option stringification") {
    val s = YamlCatalog.loadString(yaml).sources.head
    assert(s.`type` == "csv" && s.entity == "customers")
    assert(s.options("header") == "true" && s.options("inferSchema") == "true")
    assert(s.hubPrimaryKeys == Seq("customer_id"))
  }

  test("defaulting matches reference metadata.py:7,12-13") {
    val m = YamlCatalog.loadString(yaml).sources.find(_.id == "minimal").get
    assert(m.enabled, "enabled defaults true")
    assert(m.rawPartitions == Seq("ingest_date"), "raw_partitions default")
    assert(m.hubPrimaryKeys.isEmpty, "hub_primary_keys default empty")
  }

  test("disabled flag parses") {
    assert(!YamlCatalog.loadString(yaml).sources(1).enabled)
  }

  test("duplicate source ids are rejected") {
    val e = intercept[IllegalArgumentException] {
      graft.catalog.YamlCatalog.loadString(
        """version: 1
          |defaults: {}
          |sources:
          |  - id: a
          |    type: csv
          |  - id: a
          |    type: json
          |""".stripMargin)
    }
    assert(e.getMessage.contains("duplicate source ids"))
  }

  /** A one-source catalog; `defaults` and `extra` (the source's remaining
    * lines) are spliced in verbatim.
    */
  private def oneSource(extra: String, defaults: String = "{}"): String =
    s"""version: 1
       |defaults: $defaults
       |sources:
       |  - id: s
       |    type: csv
       |$extra""".stripMargin

  private def refusal(yaml: String): String =
    intercept[IllegalArgumentException](YamlCatalog.loadString(yaml)).getMessage

  test("hub_layout: versioned is a no-op; flat and unknown layouts are refused") {
    assert(YamlCatalog.loadString(oneSource("    hub_layout: versioned\n"))
      .sources.map(_.id) == Seq("s"))
    assert(YamlCatalog.loadString(
      oneSource("", defaults = "{hub_layout: versioned}")).sources.size == 1)
    for (bad <- Seq("flat", "delta")) {
      assert(refusal(oneSource(s"    hub_layout: $bad\n"))
        .contains("hubs are versioned only"))
      assert(refusal(oneSource("", defaults = s"{hub_layout: $bad}"))
        .contains("hubs are versioned only"))
    }
  }

  test("hub_buckets must be a positive integer on a keyed source") {
    val keyed = "    hub_primary_keys: [k]\n"
    assert(YamlCatalog.loadString(oneSource(keyed + "    hub_buckets: 8\n"))
      .sources.head.hubBuckets.contains(8))
    for (bad <- Seq("0", "-4", "eight", "2.5"))
      assert(refusal(oneSource(keyed + s"    hub_buckets: $bad\n"))
        .contains("positive integer"), bad)
    assert(refusal(oneSource("    hub_buckets: 8\n"))
      .contains("needs hub_primary_keys"))
  }

  test("hub_zorder takes two columns on a keyless source") {
    assert(YamlCatalog.loadString(oneSource("    hub_zorder: [a, b]\n"))
      .sources.head.hubZorder == Seq("a", "b"))
    assert(refusal(oneSource("    hub_zorder: [a]\n"))
      .contains("exactly 2 columns"))
    assert(refusal(oneSource(
      "    hub_primary_keys: [k]\n    hub_zorder: [a, b]\n"))
      .contains("hub_zorder applies only to keyless hubs"))
  }

  test("reference catalog itself parses") {
    // a reconstruction of the reference's metadata/sources.yaml from the
    // lines SURVEY.md cites (defaults, reader options, the disabled JDBC
    // source, the OLAP source's fallback CSV), at the cited line numbers
    val ref = YamlCatalog.load(
      getClass.getResource("/reference/sources.yaml").getPath)
    assert(ref.sources.size == 4)
    assert(ref.sources.count(_.enabled) == 3)
    assert(ref.sources.find(_.id == "cube_sales_olap").get.hubPrimaryKeys ==
      Seq("category", "calendar_year"))
  }
}
