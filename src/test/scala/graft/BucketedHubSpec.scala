package graft

import graft.writers.{HubWriter, VersionedHub}

/** Bucket routing of keyed hubs (`VersionedHub.writeBucketed`), including
  * the [[HubWriter.canonicalKey]] hash that keeps drifting key types in
  * their bucket.
  */
class BucketedHubSpec extends SparkTestBase {
  import spark.implicits._

  /** bucket → data dir of the latest version's manifest */
  def bucketDirs(path: String): Map[Int, Seq[String]] =
    VersionedHub.history(spark, path).last.buckets

  test("bucketed merge rewrites only the touched buckets") {
    val path = tmpDir("bhub") + "/t"
    val v1 = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
    VersionedHub.writeBucketed(spark, v1, path, Seq("id"), 8)
    val before = bucketDirs(path)
    assert(before.size > 1, "rows spread across buckets")

    // update exactly one key → exactly one bucket may change
    val v2 = Seq((42L, "UPDATED")).toDF("id", "v")
    VersionedHub.writeBucketed(spark, v2, path, Seq("id"), 8)
    val after = bucketDirs(path)

    val changed = before.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed.size == 1, s"exactly one bucket rewritten, got $changed")

    val out = VersionedHub.read(spark, path).as[(Long, String)].collect().toMap
    assert(out.size == 200)
    assert(out(42L) == "UPDATED" && out(43L) == "v43")
  }

  test("bucketed merge inserts new keys and stays idempotent") {
    val path = tmpDir("bhub") + "/t"
    val v1 = (1L to 50L).map(i => (i, i * 10)).toDF("id", "x")
    VersionedHub.writeBucketed(spark, v1, path, Seq("id"), 4)
    val v2 = (45L to 60L).map(i => (i, i * 100)).toDF("id", "x")
    VersionedHub.writeBucketed(spark, v2, path, Seq("id"), 4)
    VersionedHub.writeBucketed(spark, v2, path, Seq("id"), 4) // idempotent
    val out = VersionedHub.read(spark, path).as[(Long, Long)].collect().toMap
    assert(out.size == 60)
    assert(out(44L) == 440L, "untouched key keeps v1 value")
    assert(out(45L) == 4500L && out(60L) == 6000L, "overlap + inserts take v2")
  }

  test("bucket routing survives key type drift (canonical string hash)") {
    val path = tmpDir("bhub") + "/t"
    val v1 = (1L to 100L).map(i => (i.toInt, s"v$i")).toDF("id", "v")
    VersionedHub.writeBucketed(spark, v1, path, Seq("id"), 8)
    // same logical keys arrive as LONG (CSV inferSchema drift int→long):
    // the canonical hash must route them to the SAME buckets, so the merge
    // replaces rather than duplicates
    val v2 = (1L to 100L).map(i => (i, "DRIFTED")).toDF("id", "v")
    VersionedHub.writeBucketed(spark, v2, path, Seq("id"), 8)
    val out = VersionedHub.read(spark, path)
    assert(out.count() == 100, "no duplicate keys after type drift")
    assert(out.filter(out("v") === "DRIFTED").count() == 100)
  }

  test("bucket routing survives FRACTIONAL key type drift (int→double)") {
    val path = tmpDir("bhub") + "/t"
    val v1 = (1L to 100L).map(i => (i.toInt, s"v$i")).toDF("id", "v")
    VersionedHub.writeBucketed(spark, v1, path, Seq("id"), 8)
    // same logical keys arrive as DOUBLE (CSV inferSchema drift int→double,
    // the case the widen ladder supports): CAST(5 AS STRING)='5' but
    // CAST(5.0D AS STRING)='5.0', so a naive string hash would re-bucket
    // every key and the merge would duplicate all 100 rows
    val v2 = (1L to 100L).map(i => (i.toDouble, "DRIFTED")).toDF("id", "v")
    VersionedHub.writeBucketed(spark, v2, path, Seq("id"), 8)
    val out = VersionedHub.read(spark, path)
    assert(out.count() == 100, "no duplicate keys after fractional type drift")
    assert(out.filter(out("v") === "DRIFTED").count() == 100)
  }

  test("canonicalKey renders one string per logical value across the widen ladder") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    def render(value: Any, dt: DataType): String =
      Seq(1).toDF("x")
        .select(HubWriter.canonicalKey(lit(value).cast(dt), dt).as("c"))
        .collect().head.getString(0)
    // integral value 5 under every numeric type it can drift through
    val five = Seq(IntegerType, LongType, FloatType, DoubleType,
      DecimalType(10, 2)).map(dt => render(5, dt))
    assert(five.distinct.size == 1, s"integral 5 canonicalizes uniformly: $five")
    // non-integral 5.5 under fractional types (decimal scale padding differs)
    val fiveHalf = Seq(FloatType, DoubleType, DecimalType(10, 2))
      .map(dt => render(5.5, dt))
    assert(fiveHalf.distinct.size == 1, s"5.5 canonicalizes uniformly: $fiveHalf")
    // date widening to timestamp keeps the rendering
    val d = java.sql.Date.valueOf("2024-03-01")
    val asDate = Seq(d).toDF("x").select(
      HubWriter.canonicalKey(col("x"), DateType).as("c")).collect().head.getString(0)
    val asTs = Seq(d).toDF("x").select(
      HubWriter.canonicalKey(col("x").cast(TimestampType), TimestampType).as("c"))
      .collect().head.getString(0)
    assert(asDate == asTs, s"date/timestamp canonicalize uniformly: $asDate vs $asTs")
  }

  test("changing nBuckets on an existing hub is rejected") {
    val path = tmpDir("bhub") + "/t"
    val v1 = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    VersionedHub.writeBucketed(spark, v1, path, Seq("id"), 8)
    assert(VersionedHub.history(spark, path).last.nBuckets.contains(8))
    val e = intercept[IllegalArgumentException] {
      VersionedHub.writeBucketed(spark, v1, path, Seq("id"), 16)
    }
    assert(e.getMessage.contains("immutable"))
  }

  test("bucketed merge handles schema evolution like the flat writer") {
    val path = tmpDir("bhub") + "/t"
    // 20 keys spread over all buckets, then evolve schema via ONE key —
    // most buckets keep the old footer schema and must still read correctly
    val v1 = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    VersionedHub.writeBucketed(spark, v1, path, Seq("id"), 4)
    VersionedHub.writeBucketed(spark,
      Seq((21L, "b", 1.5)).toDF("id", "v", "score"), path, Seq("id"), 4)
    val out = VersionedHub.read(spark, path)
    assert(out.columns.toSet == Set("id", "v", "score"))
    assert(out.count() == 21)
    val r21 = out.filter(out("id") === 21L).collect().head
    assert(r21.getAs[Double]("score") == 1.5)
    assert(out.filter(out("id") === 1L).collect().head
      .isNullAt(out.columns.indexOf("score")))
  }
}
