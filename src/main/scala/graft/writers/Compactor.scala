package graft.writers

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction for the lake zones.
  *
  * The RAW zone is append-only (one-or-more part files per source run,
  * reference writer.py:9-16), so a partition accumulates files forever —
  * the classic lakehouse small-file problem: at 100 TB, scan cost becomes
  * dominated by file-open overhead and driver file-listing, not bytes.
  *
  * `compact` rewrites a RAW table directory with a bounded number of records
  * per output file, preserving the hive partition layout, then atomically
  * swaps the directory (single-writer; hubs compact as committed versions
  * instead). Idempotent and content-preserving by construction.
  */
object Compactor {

  def compact(
      spark: SparkSession,
      path: String,
      partitionCols: Seq[String],
      maxRecordsPerFile: Long = 1000000L): CompactionStats = {
    val before = countFiles(spark, path)
    val df = spark.read.parquet(path)
    val hconf = spark.sparkContext.hadoopConfiguration
    val dest = new Path(path)
    val fs = dest.getFileSystem(hconf)
    val tmp = new Path(dest.getParent, s".${dest.getName}__compact_${UUID.randomUUID()}")
    val writer = df
      .repartition(partitionCols.map(col): _*) // co-locate partition values
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
    val partitioned =
      if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer
    partitioned.parquet(tmp.toString)
    val old = new Path(dest.getParent, s".${dest.getName}__old_${UUID.randomUUID()}")
    if (!fs.rename(dest, old))
      throw new IllegalStateException(s"compaction swap failed for $dest")
    if (!fs.rename(tmp, dest)) {
      fs.rename(old, dest)
      throw new IllegalStateException(s"compaction swap failed moving $tmp")
    }
    fs.delete(old, true)
    CompactionStats(before, countFiles(spark, path))
  }

  final case class CompactionStats(filesBefore: Long, filesAfter: Long)

  private def countFiles(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }
}
