package graft

import graft.writers.VersionedHub

/** Evidence probe for the incremental commit log: manifest bytes per SMALL
  * commit must stay flat as the table's total file count grows 10× (the
  * 100 TB log-growth contract — pre-round-12 manifests carried the full
  * per-file stats map, O(total files) JSON per commit).
  *
  * Run: `sbt "Test/runMain graft.ProfileManifestScale"`; results recorded
  * in SCALE.md.
  */
object ProfileManifestScale {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestBase.session
    import spark.implicits._

    def scenario(nRows: Int, filesPerBucket: Int): (Int, Long, Seq[Long], Long) = {
      val path = java.nio.file.Files
        .createTempDirectory(s"manifest_scale_$nRows").toString
      VersionedHub.writeBucketed(spark,
        (1 to nRows).map(i => (i, s"v$i")).toDF("k", "v")
          .repartition(filesPerBucket),
        path, Seq("k"), 8, optimizeWrite = false)
      val nFiles = VersionedHub.history(spark, path).last.fileStats.size
      def mlen(n: Int) =
        new java.io.File(s"$path/_log/" + f"$n%08d.json").length()
      val v1Len = mlen(1)
      for (i <- 1 to 3)
        VersionedHub.writeBucketed(spark,
          Seq((i * 997, s"U$i")).toDF("k", "v"), path, Seq("k"), 8)
      (nFiles, v1Len, (2 to 4).map(mlen), mlen(1))
    }

    val (fSmall, v1Small, upsSmall, _) = scenario(4000, 6)
    val (fBig, v1Big, upsBig, _) = scenario(40000, 60)
    println(f"""{"probe":"manifest_bytes_per_commit","small":{"total_files":$fSmall,"bulk_manifest_bytes":$v1Small,"small_commit_bytes":[${upsSmall.mkString(",")}]},"x10":{"total_files":$fBig,"bulk_manifest_bytes":$v1Big,"small_commit_bytes":[${upsBig.mkString(",")}]},"flat_ratio":${upsBig.max.toDouble / upsSmall.max}}""")

    // ---- checkpoint parse ceiling (VERDICT r15 #4): how long does the
    // DRIVER take to load the carried-stats anchor as the live file count
    // grows 10x/100x? Synthetic checkpoints isolate the parse (no parquet
    // data written); loadCarried is the exact reader-side path.
    def synthStats(n: Int): Map[String, graft.writers.FileStats.FileStat] =
      (1 to n).map { i =>
        f"data/$i%d-abcd1234/bucket=${i % 32}%d/part-$i%05d-feedbeef.c000.snappy.parquet" ->
          graft.writers.FileStats.FileStat(1000L + i, 123456L + i, Map(
            "k" -> graft.writers.FileStats.ColStat(
              Some(i.toLong), Some(i + 1000L), Some(0L)),
            "v" -> graft.writers.FileStats.ColStat(
              Some("aaaa" + i), Some("zzzz" + i), Some(3L))))
      }.toMap
    def parseProbe(n: Int): (String, Long, Seq[Long]) = {
      val path = java.nio.file.Files
        .createTempDirectory(s"ck_scale_$n").toString
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val v = VersionedHub.Version(10, 0L, n.toLong,
        groups = Map(0 -> Seq("data")),
        statsNew = synthStats(n), checks = Map.empty)
      VersionedHub.writeCheckpoint(fs, path, v)
      val log = new org.apache.hadoop.fs.Path(s"$path/_log")
      val ck = fs.listStatus(log).filter(
        _.getPath.getName.contains(".checkpoint.")).head
      val fmt =
        if (ck.getPath.getName.endsWith(".parquet")) "parquet" else "json"
      val ckBytes =
        if (ck.isDirectory) fs.getContentSummary(ck.getPath).getLength
        else ck.getLen
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val c = VersionedHub.loadCarried(spark, path, 10)
        require(c.stats.size == n, s"parsed ${c.stats.size}, expected $n")
        (System.nanoTime() - t0) / 1000000L
      }
      (fmt, ckBytes, times)
    }
    val curve = Seq(10000, 100000, 1000000).map { n =>
      val (fmt, bytes, ms) = parseProbe(n)
      s"""{"files":$n,"format":"$fmt","checkpoint_bytes":$bytes,"load_ms":[${ms.mkString(",")}]}"""
    }
    println(s"""{"probe":"checkpoint_parse_ceiling","curve":[${curve.mkString(",")}]}""")
  }
}
