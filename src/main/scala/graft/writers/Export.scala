package graft.writers

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Training-shard export: the last stage of the curation pipeline
  * (dedup → quality gate → pack → SHARDS).
  *
  * Layout contract for a 1000-node training job:
  *   - one directory per `partitionCols` value (readers select their slice
  *     by directory pruning, e.g. per-language);
  *   - files bounded to `maxRecordsPerFile` rows (uniform work units — no
  *     single giant file serializing a reader);
  *   - rows sorted by `sortCols` WITHIN each file (packs stay contiguous, so
  *     a sequential reader materializes one context window at a time).
  *
  * All of it is expressed through the writer (repartition → sortWithin →
  * maxRecordsPerFile): no driver-side loops, and the shuffle on the
  * partition columns is the only data movement.
  */
object Export {

  /** Write `df` as a Spark BUCKETED table (hash-bucketed + sorted by
    * `keys` into `nBuckets` files per partition, registered in the session
    * catalog). Two tables bucketed the same way join WITHOUT a shuffle —
    * each task reads matching bucket files from both sides (verified by
    * the plan gate in PlanSpec: no Exchange under the join).
    *
    * This is the read-side complement of the versioned hub's bucketed
    * layout: hub buckets prune MERGE rewrites; catalog buckets eliminate JOIN
    * shuffles. At 100 TB, pre-bucketing the fact tables on their join key
    * turns every subsequent key-join into a map-side zip — the single
    * biggest recurring-query saving a lakehouse layout can buy.
    */
  def bucketedTable(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      nBuckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(keys.nonEmpty, "bucketed table requires bucket keys")
    require(nBuckets > 0, "nBuckets must be positive")
    df.write
      .mode(mode)
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  def shards(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String],
      maxRecordsPerFile: Long,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    require(maxRecordsPerFile > 0, "maxRecordsPerFile must be positive")
    // RANGE-partition on (partitionCols ++ sortCols): hash-partitioning on
    // the partition value alone would collapse each value (e.g. all of
    // lang=en — possibly tens of TB) onto ONE task; range partitioning keeps
    // directory unity AND spreads each value across many tasks, with the
    // within-file sort preserved because range boundaries respect sort order
    df.repartitionByRange((partitionCols ++ sortCols).map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write
      .mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }
}
