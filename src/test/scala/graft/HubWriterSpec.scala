package graft

import graft.writers.VersionedHub
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The merge kernel (`HubWriter.merge` / `reconcileSchemas`) through its
  * one flat commit path, `VersionedHub.write`.
  */
class HubWriterSpec extends SparkTestBase {
  import spark.implicits._

  private def read(path: String): DataFrame = VersionedHub.read(spark, path)

  test("initial load then keyed upsert: update wins, new row inserts") {
    val path = tmpDir("hub") + "/t"
    val v1 = Seq((1, "a", "2024-01-01T00:00:00"), (2, "b", "2024-01-01T00:00:00"))
      .toDF("id", "v", "_ingest_ts_utc")
    VersionedHub.write(spark, v1, path, Seq("id"))
    val v2 = Seq((2, "B", "2024-01-02T00:00:00"), (3, "c", "2024-01-02T00:00:00"))
      .toDF("id", "v", "_ingest_ts_utc")
    VersionedHub.write(spark, v2, path, Seq("id"))
    val out = read(path).select("id", "v").as[(Int, String)]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("idempotency: re-merging the same batch leaves hub unchanged") {
    val path = tmpDir("hub") + "/t"
    val batch = Seq((1, "x"), (2, "y")).toDF("id", "v")
    VersionedHub.write(spark, batch, path, Seq("id"))
    VersionedHub.write(spark, batch, path, Seq("id"))
    VersionedHub.write(spark, batch, path, Seq("id"))
    assert(read(path).count() == 2)
  }

  test("keyless merge appends everything (condition degrades to false)") {
    val path = tmpDir("hub") + "/t"
    val batch = Seq((1, "x")).toDF("id", "v")
    VersionedHub.write(spark, batch, path, Nil)
    VersionedHub.write(spark, batch, path, Nil)
    assert(read(path).count() == 2)
  }

  test("null keys never match: both old and new null-key rows survive") {
    val path = tmpDir("hub") + "/t"
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))
    def df(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    VersionedHub.write(spark, df(Seq(Row(null, "old_null"), Row(1, "one"))), path, Seq("id"))
    VersionedHub.write(spark, df(Seq(Row(null, "new_null"), Row(1, "ONE"))), path, Seq("id"))
    val out = read(path).as[(Option[Int], String)].collect()
    assert(out.count(_._1.isEmpty) == 2, "null-key rows always insert")
    assert(out.collect { case (Some(1), v) => v }.toSeq == Seq("ONE"))
  }

  test("schema evolution: new column widens hub schema, old rows null") {
    val path = tmpDir("hub") + "/t"
    VersionedHub.write(spark, Seq((1, "a")).toDF("id", "v"), path, Seq("id"))
    VersionedHub.write(spark, Seq((2, "b", 9.5)).toDF("id", "v", "score"), path, Seq("id"))
    val out = read(path)
    assert(out.columns.toSet == Set("id", "v", "score"))
    val byId = out.collect().map(r => r.getAs[Int]("id") -> r).toMap
    assert(byId(1).isNullAt(byId(1).fieldIndex("score")))
    assert(byId(2).getAs[Double]("score") == 9.5)
  }

  test("type drift: int column arriving as double widens (CSV inferSchema drift)") {
    val path = tmpDir("hub") + "/t"
    VersionedHub.write(spark, Seq((1, 10)).toDF("id", "x"), path, Seq("id"))
    VersionedHub.write(spark, Seq((2, 10.5)).toDF("id", "x"), path, Seq("id"))
    val out = read(path)
    assert(out.schema("x").dataType == DoubleType)
    assert(out.count() == 2)
  }

  test("property: merge == last-writer-wins groupBy on random keyed data") {
    val rnd = new scala.util.Random(42)
    def batch(): List[(Int, Int)] =
      List.fill(12)((rnd.nextInt(9), rnd.nextInt(1000)))
    for (_ <- 1 to 10) {
      val (b1, b2) = (batch(), batch())
      val path = tmpDir("hubprop") + "/t"
      // stamp a strictly increasing ts per row so last-writer-wins is well-defined
      def mk(b: List[(Int, Int)], epoch: Int) =
        b.zipWithIndex.map { case ((k, v), i) =>
          (k, v, new java.sql.Timestamp(epoch * 100000L + i * 1000L))
        }.toDF("k", "v", "_ingest_ts_utc")
      VersionedHub.write(spark, mk(b1, 1), path, Seq("k"))
      VersionedHub.write(spark, mk(b2, 2), path, Seq("k"))
      val got = read(path).select("k", "v").as[(Int, Int)]
        .collect().toMap
      // oracle: for each key, the value of the LAST occurrence across b1++b2
      val expect = (b1 ++ b2).foldLeft(Map.empty[Int, Int]) { case (m, (k, v)) =>
        m + (k -> v)
      }
      assert(got == expect)
    }
  }
}
