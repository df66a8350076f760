package org.apache.spark.sql.graftbridge

import graft.SparkTestBase
import graft.writers.VersionedHub

import org.apache.spark.sql.functions._

/** Contract of the COMMAND-SCOPED join cache in [[GraftMergeCommand]]:
  * a general-shape MERGE persists its source⋈target join for the span of
  * its own cascade (cardinality check, deletes, upsert) and releases it
  * before returning — on success AND on a refusal thrown mid-cascade.
  * Lives in the spark.sql package tree because the CacheManager probe is
  * `private[sql]` (same precedent as [[GraftMergeCommand]] itself).
  */
class MergeCacheScopeSpec extends SparkTestBase {
  import spark.implicits._

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  private def withCatalog[A](name: String)(f: String => A): A = {
    val base = tmpDir(s"cat_$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.HubCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    try f(base)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.base")
    }
  }

  test("general-shape MERGE releases its command-scoped join cache (success and refusal)") {
    withCatalog("hubjc") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 10L).map(k => (k, k * 10.0)).toDF("k", "w"),
        s"$base/t", Seq("k"), 4)
      // the shared test session may carry persistForReuse caches from
      // earlier suites — start from a clean CacheManager so emptiness
      // after the MERGE is attributable to the command's own release
      graft.GraftSession.releaseReuseCaches()
      spark.catalog.clearCache()
      assert(cacheEmpty, "precondition: nothing cached before the MERGE")
      Seq((2L, 500.0), (3L, 1.0), (99L, 9.0)).toDF("k", "w")
        .createOrReplaceTempView("jc_src")
      // general shape (conditional DELETE + partial UPDATE + INSERT):
      // exercises the cardinality check, the deletes frame and the upsert
      // — all carved from one persisted join
      spark.sql("""MERGE INTO hubjc.default.t t USING jc_src s
                  |ON t.k = s.k
                  |WHEN MATCHED AND s.w >= 100 THEN DELETE
                  |WHEN MATCHED THEN UPDATE SET w = s.w
                  |WHEN NOT MATCHED THEN INSERT (k, w) VALUES (s.k, s.w)""".stripMargin)
      val after = VersionedHub.read(spark, s"$base/t")
        .as[(Long, Double)].collect().toMap
      assert(!after.contains(2L) && after(3L) == 1.0 && after(99L) == 9.0 &&
        after(4L) == 40.0, s"merge semantics drifted: $after")
      assert(cacheEmpty, "the command-scoped join cache must be released " +
        "after a successful MERGE (nothing cached across statements)")
      // refusal path: duplicate source keys on an UPDATE branch raise the
      // standard cardinality error — the finally must still release
      Seq((4L, 1.0), (4L, 2.0)).toDF("k", "w")
        .createOrReplaceTempView("jc_dup")
      val e = intercept[Exception](
        spark.sql("""MERGE INTO hubjc.default.t t USING jc_dup s
                    |ON t.k = s.k
                    |WHEN MATCHED THEN UPDATE SET w = s.w""".stripMargin))
      assert(e.getMessage.contains("multiple source rows"),
        s"expected the cardinality refusal, got: ${e.getMessage}")
      assert(cacheEmpty, "the command-scoped join cache must be released " +
        "even when the MERGE is refused mid-cascade")
    }
  }
}
