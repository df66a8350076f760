package graft

import org.apache.spark.sql.functions._

/** Test-scope generator for the 10× scale-stress corpus (round-8 verdict
  * task 7): replicates sf0.1's documents/embeddings tables `copies` times
  * with per-copy transforms that PRESERVE the duplication structure
  * instead of inflating it —
  *
  *   - documents: every token gets a per-copy suffix, so copy i's shingle
  *     vocabulary is disjoint from copy j's (cross-copy pairs impossible,
  *     within-copy near-dup density identical to the base corpus). A
  *     linear-scaling operator should therefore cost ≈ copies × base;
  *     anything super-linear is a real scaling defect, not an artifact of
  *     synthetic duplicate blowup;
  *   - embeddings: per-copy coordinate rotation (norm-preserving, breaks
  *     cross-copy cosine alignment).
  *
  * Usage: sbt "Test/runMain graft.StressGen /tmp/graft_stress [copies]"
  */
object StressGen {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_stress")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val spark = GraftSession.build()
    val base = "/root/testdata/sf0.1"

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L
    val stressDocs = (0 until copies).map { i =>
      docs.select(
        (col("doc_id") + lit(i * maxId)).as("doc_id"),
        (if (i == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", s"$$1x$i")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    // n_chars must stay consistent with the transformed text (token-budget
    // and length gates read it)
    stressDocs.withColumn("n_chars", length(col("text")))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // orders/nation (round-14 verdict task 3: extend the 10x stress to the
    // row-level SQL family): keys offset per copy so every copy's key space
    // is disjoint — UPDATE/MERGE/DELETE lifecycle queries then mutate the
    // same FIXED number of rows against a 10x bigger target, isolating the
    // commit machinery's O(touched buckets) claim from batch-size effects
    val orders = spark.read.parquet(s"$base/orders.parquet")
    val maxOk = orders.agg(max(col("o_orderkey").cast("long")))
      .collect()(0).getLong(0) + 1L
    (0 until copies).map { i =>
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOk))
    }.reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    val nation = spark.read.parquet(s"$base/nation.parquet")
    val maxNk = nation.agg(max(col("n_nationkey").cast("long")))
      .collect()(0).getLong(0) + 1L
    (0 until copies).map { i =>
      nation.withColumn("n_nationkey", col("n_nationkey") + lit(i * maxNk))
    }.reduce(_ unionByName _)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/nation.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVid = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1L
    val d = emb.select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
    val stressEmb = (0 until copies).map { i =>
      val rot = i % d
      emb.select(
        (col("vec_id") + lit(i * maxVid)).as("vec_id"),
        (if (rot == 0) col("embedding")
         else concat(slice(col("embedding"), rot + 1, d - rot),
           slice(col("embedding"), 1, rot))).as("embedding"))
    }.reduce(_ unionByName _)
    stressEmb.repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"[stress] wrote $out: " +
      s"${spark.read.parquet(s"$out/documents.parquet").count()} docs, " +
      s"${spark.read.parquet(s"$out/embeddings.parquet").count()} vectors " +
      s"($copies copies of sf0.1)")
    spark.stop()
  }
}
