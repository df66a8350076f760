package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.writers.VersionedHub

import org.apache.spark.sql.functions._

class VersionedHubSpec extends SparkTestBase {
  import spark.implicits._

  private def kv(pairs: (Int, String)*) =
    pairs.toSeq.toDF("k", "v")

  test("a table-creating commit with data validates checks0 (base-less is not constraint-less)") {
    val bad = tmpDir("vhub_chk0_bad")
    val e = intercept[Exception](VersionedHub.write(spark,
      kv(1 -> "a", -2 -> "b"), bad, Seq("k"),
      checks0 = Map("kpos" -> "k > 0")))
    assert(e.getMessage.contains("kpos"), e.getMessage)
    val good = tmpDir("vhub_chk0_good")
    VersionedHub.write(spark, kv(1 -> "a"), good, Seq("k"),
      checks0 = Map("kpos" -> "k > 0"))
    assert(VersionedHub.history(spark, good).last.checks ==
      Map("kpos" -> "k > 0"))
    // the recorded constraint stays live for the next commit
    val e2 = intercept[Exception](
      VersionedHub.write(spark, kv(-1 -> "z"), good, Seq("k")))
    assert(e2.getMessage.contains("kpos"), e2.getMessage)
    // the bucketed table-creating commit enforces checks0 identically
    val badB = tmpDir("vhub_chk0_badb")
    val eB = intercept[Exception](VersionedHub.writeBucketed(spark,
      kv(1 -> "a", -2 -> "b"), badB, Seq("k"), 4,
      checks0 = Map("kpos" -> "k > 0")))
    assert(eB.getMessage.contains("kpos"), eB.getMessage)
  }

  test("sequential upserts commit as versions; time travel reads any snapshot") {
    val path = tmpDir("vhub_seq")
    val v1 = VersionedHub.write(spark, kv(1 -> "a", 2 -> "b"), path, Seq("k"))
    val v2 = VersionedHub.write(spark, kv(2 -> "B", 3 -> "c"), path, Seq("k"))
    assert(v1 == 1 && v2 == 2)
    val snap1 = VersionedHub.read(spark, path, Some(1))
      .select("k", "v").as[(Int, String)].collect().toMap
    val snap2 = VersionedHub.read(spark, path)
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(snap1 == Map(1 -> "a", 2 -> "b"))
    assert(snap2 == Map(1 -> "a", 2 -> "B", 3 -> "c")) // upsert + insert
    val hist = VersionedHub.history(spark, path)
    assert(hist.map(_.version) == Seq(1, 2))
    assert(hist.map(_.rows) == Seq(2L, 3L))
  }

  test("concurrent writers on disjoint keys: both batches survive (no lost update)") {
    val path = tmpDir("vhub_conc")
    VersionedHub.write(spark, kv(0 -> "base"), path, Seq("k"))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val batches = Seq(kv(1 -> "left"), kv(2 -> "right"))
    try Await.result(
      Future.sequence(batches.map(b =>
        Future(VersionedHub.write(spark, b, path, Seq("k"))))),
      2.minutes)
    finally pool.shutdown()
    val end = VersionedHub.read(spark, path)
      .select("k", "v").as[(Int, String)].collect().toMap
    // one writer won v2, the loser retried and committed v3 on TOP of v2 —
    // a lost update would drop one of the keys
    assert(end == Map(0 -> "base", 1 -> "left", 2 -> "right"))
    assert(VersionedHub.history(spark, path).map(_.version) == Seq(1, 2, 3))
  }

  test("schema evolution across versions widens like the plain hub") {
    val path = tmpDir("vhub_schema")
    VersionedHub.write(spark, kv(1 -> "a"), path, Seq("k"))
    VersionedHub.write(spark,
      Seq((2, "b", 9.5)).toDF("k", "v", "score"), path, Seq("k"))
    val end = VersionedHub.read(spark, path)
    assert(end.columns.toSet == Set("k", "v", "score"))
    val byK = end.select($"k", $"score").as[(Int, Option[Double])].collect().toMap
    assert(byK(1).isEmpty && byK(2).contains(9.5))
  }

  test("change feed classifies inserts, updates, and (reversed) deletes") {
    val path = tmpDir("vhub_cdc")
    VersionedHub.write(spark, kv(1 -> "a", 2 -> "b"), path, Seq("k"))
    VersionedHub.write(spark, kv(2 -> "B", 3 -> "c"), path, Seq("k"))
    val fwd = VersionedHub.changes(spark, path, Seq("k"), 1, 2)
      .select($"k", $"v", $"_change_type").as[(Int, String, String)]
      .collect().sortBy(_._1)
    assert(fwd.toSeq == Seq((2, "B", "update"), (3, "c", "insert")))
    // reversed direction exposes the delete classification
    val rev = VersionedHub.changes(spark, path, Seq("k"), 2, 1)
      .select($"k", $"_change_type").as[(Int, String)].collect().sortBy(_._1)
    assert(rev.toSeq == Seq((2, "update"), (3, "delete")))
  }

  test("batchId makes commits idempotent: a replayed batch returns its version") {
    val path = tmpDir("vhub_batch")
    val v1 = VersionedHub.write(spark, kv(1 -> "a"), path, Seq("k"), batchId = Some(0L))
    val v2 = VersionedHub.write(spark, kv(2 -> "b"), path, Seq("k"), batchId = Some(1L))
    // crash-replay of batch 1: no new version, no double merge
    val replay = VersionedHub.write(spark, kv(2 -> "b"), path, Seq("k"), batchId = Some(1L))
    assert((v1, v2, replay) == (1, 2, 2))
    assert(VersionedHub.history(spark, path).map(_.version) == Seq(1, 2))
    assert(VersionedHub.history(spark, path).flatMap(_.batchId) == Seq(0L, 1L))
  }

  test("bucketed versions rewrite only touched buckets and share the rest") {
    val path = tmpDir("vhub_bucketed")
    val v1 = VersionedHub.writeBucketed(spark,
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "v"), path, Seq("k"), 8)
    // second batch touches few keys → few buckets
    val v2 = VersionedHub.writeBucketed(spark,
      kv(1 -> "ONE", 2 -> "TWO"), path, Seq("k"), 8)
    assert((v1, v2) == (1, 2))
    val hist = VersionedHub.history(spark, path)
    val m1 = hist.head
    val m2 = hist.last
    assert(m1.buckets.size == 8 && m2.buckets.size == 8)
    val shared = m2.buckets.count { case (b, d) => m1.buckets.get(b).contains(d) }
    val rewritten = 8 - shared
    assert(rewritten >= 1 && rewritten <= 2,
      s"2 keys must touch at most 2 buckets, rewrote $rewritten")
    // correctness: upserted keys changed, everything else survives
    val end = VersionedHub.read(spark, path)
      .select($"k", $"v").as[(Int, String)].collect().toMap
    assert(end.size == 100 && end(1) == "ONE" && end(2) == "TWO" && end(50) == "v50")
    // time travel still sees v1
    val old = VersionedHub.read(spark, path, Some(1))
      .select($"k", $"v").as[(Int, String)].collect().toMap
    assert(old(1) == "v1" && old.size == 100)
    assert(hist.map(_.rows) == Seq(100L, 100L))
  }

  test("bucketed vacuum preserves shared roots the kept manifest references") {
    val path = tmpDir("vhub_bucketed_vac")
    VersionedHub.writeBucketed(spark,
      (1 to 50).map(i => (i, s"v$i")).toDF("k", "v"), path, Seq("k"), 4)
    VersionedHub.writeBucketed(spark, kv(1 -> "ONE"), path, Seq("k"), 4)
    VersionedHub.vacuum(spark, path, keepVersions = Some(1))
    assert(VersionedHub.history(spark, path).map(_.version) == Seq(2))
    // v2's manifest points most buckets at v1's root — vacuum must keep it
    val end = VersionedHub.read(spark, path)
      .select($"k", $"v").as[(Int, String)].collect().toMap
    assert(end.size == 50 && end(1) == "ONE" && end(30) == "v30")
  }

  test("optimize refuses a bucketed hub instead of committing a partial flat snapshot") {
    val path = tmpDir("vhub_opt_bkt")
    VersionedHub.writeBucketed(spark, kv(1 -> "a", 2 -> "b"), path, Seq("k"), 4)
    intercept[IllegalArgumentException] {
      VersionedHub.optimize(spark, path)
    }
    intercept[IllegalArgumentException] {
      VersionedHub.optimizeZOrder(spark, path, "k", "v")
    }
  }

  test("bucketed writes are batchId-idempotent and reject nBuckets drift") {
    val path = tmpDir("vhub_bucketed_id")
    VersionedHub.writeBucketed(spark, kv(1 -> "a"), path, Seq("k"), 4,
      batchId = Some(0L))
    val replay = VersionedHub.writeBucketed(spark, kv(1 -> "a"), path,
      Seq("k"), 4, batchId = Some(0L))
    assert(replay == 1)
    intercept[IllegalArgumentException] {
      VersionedHub.writeBucketed(spark, kv(2 -> "b"), path, Seq("k"), 8)
    }
  }

  test("bucketCols subset routing: pruned reads, immutability, and atomic deletes") {
    val path = tmpDir("vhub_bcols")
    // interval-table shape: keyed (u, from), bucketed by u alone
    val rows = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "x"),
      (3L, 10L, "q")).toDF("u", "from", "v")
    VersionedHub.writeBucketed(spark, rows, path, Seq("u", "from"), 8,
      bucketCols = Some(Seq("u")))
    assert(VersionedHub.history(spark, path).head.bucketCols
      .contains(Seq("u")), "bucket routing must be recorded in the manifest")
    // pruned read: user 1's bucket only (may contain hash-neighbours, but
    // must contain all of user 1 and not require scanning every bucket)
    val probe = Seq(1L).toDF("u")
    val pruned = VersionedHub.readBucketsFor(spark, path, probe, Seq("u"))
      .select($"u", $"from").as[(Long, Long)].collect().toSet
    assert(pruned.filter(_._1 == 1L) == Set((1L, 10L), (1L, 20L)), s"$pruned")
    // routing drift is refused like nBuckets drift
    intercept[IllegalArgumentException] {
      VersionedHub.writeBucketed(spark, rows, path, Seq("u", "from"), 8)
    }
    intercept[IllegalArgumentException] {
      VersionedHub.readBucketsFor(spark, path, probe, Seq("from"))
    }
    // a delete + upsert in one commit: retire (1,10), update (1,20)
    VersionedHub.writeBucketed(spark,
      Seq((1L, 20L, "B")).toDF("u", "from", "v"), path, Seq("u", "from"), 8,
      bucketCols = Some(Seq("u")),
      deletes = Some(Seq((1L, 10L)).toDF("u", "from")))
    val end = VersionedHub.read(spark, path)
      .select($"u", $"from", $"v").as[(Long, Long, String)].collect().toSet
    assert(end == Set((1L, 20L, "B"), (2L, 10L, "x"), (3L, 10L, "q")), s"$end")
    // time travel still sees the pre-delete snapshot
    val old = VersionedHub.read(spark, path, Some(1))
      .select($"u", $"from").as[(Long, Long)].collect().toSet
    assert(old.size == 4)
    // deleting EVERY row of an entity empties its bucket: the bucket must
    // drop out of the manifest and reads must survive
    VersionedHub.writeBucketed(spark,
      Seq.empty[(Long, Long, String)].toDF("u", "from", "v"), path,
      Seq("u", "from"), 8, bucketCols = Some(Seq("u")),
      deletes = Some(Seq((3L, 10L)).toDF("u", "from")))
    val end2 = VersionedHub.read(spark, path)
      .select($"u", $"from", $"v").as[(Long, Long, String)].collect().toSet
    assert(end2 == Set((1L, 20L, "B"), (2L, 10L, "x")), s"$end2")
  }

  test("bucketed change feed scans only the bucket dirs that differ") {
    val path = tmpDir("vhub_cdf_prune")
    VersionedHub.writeBucketed(spark,
      (1 to 200).map(i => (i, s"v$i")).toDF("k", "v"), path, Seq("k"), 8)
    VersionedHub.writeBucketed(spark,
      kv(7 -> "SEVEN", 201 -> "NEW"), path, Seq("k"), 8)
    val hist = VersionedHub.history(spark, path)
    val (m1, m2) = (hist.head, hist.last)
    val changedDirs = (m1.buckets.keySet ++ m2.buckets.keySet)
      .filter(b => m1.buckets.get(b) != m2.buckets.get(b))
      .flatMap(b => Seq(m1.buckets.get(b), m2.buckets.get(b)).flatten.flatten)
    assert(changedDirs.size <= 4, s"2 keys touch ≤2 buckets: $changedDirs")
    val cdf = VersionedHub.changesCDF(spark, path, Seq("k"), 1, 2)
    // pruning evidence: every scanned file lives under a CHANGED bucket dir
    val scanned = cdf.inputFiles.toSet
    assert(scanned.nonEmpty)
    assert(scanned.forall(f => changedDirs.exists(d => f.contains(d))),
      s"scan must not touch shared bucket dirs: $scanned vs $changedDirs")
    // and the feed itself is still exact
    val out = cdf.select($"k", $"v", $"_change_type")
      .as[(Int, String, String)].collect().toSet
    assert(out == Set((7, "v7", "update_preimage"),
      (7, "SEVEN", "update_postimage"), (201, "NEW", "insert")), s"$out")
    // delete-only step: the retired key's bucket is the only one read
    VersionedHub.writeBucketed(spark,
      Seq.empty[(Int, String)].toDF("k", "v"), path, Seq("k"), 8,
      deletes = Some(Seq(7).toDF("k")))
    val del = VersionedHub.changes(spark, path, Seq("k"), 2, 3)
      .select($"k", $"_change_type").as[(Int, String)].collect().toSet
    assert(del == Set((7, "delete")), s"$del")
  }

  test("manifest cache: repeated history() parses each manifest once; vacuumed versions stop resolving") {
    val path = tmpDir("vhub_mcache")
    for (i <- 1 to 6)
      VersionedHub.write(spark, kv(i -> s"v$i"), path, Seq("k"))
    val h1 = VersionedHub.history(spark, path)
    assert(h1.map(_.version) == (1 to 6))
    val before = VersionedHub.manifestParses.get()
    // a second listing re-parses NOTHING (manifests are immutable once
    // parseable — the cache serves them)
    val h2 = VersionedHub.history(spark, path)
    assert(h2.map(_.version) == (1 to 6))
    assert(VersionedHub.manifestParses.get() == before,
      s"history() must not re-parse cached manifests " +
        s"(${VersionedHub.manifestParses.get() - before} re-parses)")
    // reads and version resolution ride the cache too
    assert(VersionedHub.read(spark, path, Some(3)).count() == 3)
    assert(VersionedHub.manifestParses.get() == before)
    // but a vacuumed version must STOP resolving even though its parse is
    // cached (existence gates the cache)
    VersionedHub.vacuum(spark, path, keepVersions = Some(2), retainMs = 0)
    intercept[IllegalArgumentException] {
      VersionedHub.read(spark, path, Some(1)).count()
    }
    assert(VersionedHub.read(spark, path).count() == 6)
  }

  test("restore commits old content as a NEW version without rewriting any data") {
    import scala.jdk.CollectionConverters._
    val path = tmpDir("vhub_restore")
    def dataFiles(): Set[String] = {
      val root = java.nio.file.Paths.get(path, "data")
      if (!root.toFile.exists) Set.empty
      else {
        val s = java.nio.file.Files.walk(root)
        try s.iterator().asScala
          .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
        finally s.close()
      }
    }
    VersionedHub.writeBucketed(spark,
      (1 to 50).map(i => (i, s"v$i")).toDF("k", "v"), path, Seq("k"), 4)
    VersionedHub.writeBucketed(spark, kv(1 -> "X", 51 -> "NEW"), path, Seq("k"), 4)
    VersionedHub.deleteWhere(spark, path, col("k") <= 5)
    val before = dataFiles()
    val r = VersionedHub.restore(spark, path, 1)
    assert(r == 4)
    // content identical to version 1
    assert(VersionedHub.read(spark, path).select($"k", $"v")
      .as[(Int, String)].collect().toMap ==
      (1 to 50).map(i => i -> s"v$i").toMap)
    // ZERO data rewritten: the restore is a pure manifest commit
    assert(dataFiles() == before, "restore must not write data files")
    // intermediate history preserved and time-travelable
    assert(VersionedHub.read(spark, path, Some(2))
      .filter($"k" === 51).count() == 1)
    // stats reconstruct exactly on the restored tip (self-anchoring)
    val tip = VersionedHub.history(spark, path).last
    assert(tip.fileStats.values.map(_.rows).sum == tip.rows)
    // restore-to-tip is a no-op
    assert(VersionedHub.restore(spark, path, 4) == 4)
    assert(VersionedHub.history(spark, path).last.version == 4)
    // a later upsert folds its carried stats across the restore manifest
    VersionedHub.writeBucketed(spark, kv(2 -> "after"), path, Seq("k"), 4)
    val v5 = VersionedHub.history(spark, path).last
    assert(v5.fileStats.values.map(_.rows).sum == v5.rows)
    // vacuum keeps the restored tip readable (restored dirs referenced)
    VersionedHub.vacuum(spark, path, keepVersions = Some(2), retainMs = 0)
    assert(VersionedHub.read(spark, path).count() == 50)
    // FLAT hub restore rewrites the snapshot
    val flat = tmpDir("vhub_restore_flat")
    VersionedHub.write(spark, kv(1 -> "a", 2 -> "b"), flat, Seq("k"))
    VersionedHub.write(spark, kv(2 -> "B2"), flat, Seq("k"))
    assert(VersionedHub.restore(spark, flat, 1) == 3)
    assert(VersionedHub.read(spark, flat).select($"k", $"v")
      .as[(Int, String)].collect().toMap == Map(1 -> "a", 2 -> "b"))
  }

  test("restore tombstones DVs on dirs a later rewrite dropped (no stale vector re-applies)") {
    val path = tmpDir("vhub_restore_staledv")
    // v1: 100 rows, bucketed
    VersionedHub.writeBucketed(spark,
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "v"), path, Seq("k"), 2)
    // v2: a surgical delete small enough for the DV path (3 ≤ rows/10)
    VersionedHub.deleteWhere(spark, path, col("k") <= 3)
    val afterDv = VersionedHub.history(spark, path).last
    assert(afterDv.dvs.nonEmpty, "delete must have taken the DV path")
    assert(afterDv.rows == 97)
    // v3: an upsert touching EVERY bucket rewrites the DV'd dirs — the
    // rewrite materializes the deletions and the vectors leave the
    // snapshot's dvs (their dirs are no longer referenced)...
    VersionedHub.writeBucketed(spark,
      (1 to 100).map(i => (i, s"w$i")).toDF("k", "v"), path, Seq("k"), 2)
    val tip = VersionedHub.history(spark, path).last
    assert(tip.dvs.isEmpty, "rewrite must drop the materialized vectors")
    // ...but they still ride the carried dvDelta fold. Restoring to v1
    // re-references the very dirs those stale vectors point into: the
    // restore manifest must tombstone them from the UNRESTRICTED fold,
    // not just from base.dvs (which the dir restriction already emptied).
    val r = VersionedHub.restore(spark, path, 1)
    val restored = VersionedHub.read(spark, path)
      .select($"k", $"v").as[(Int, String)].collect().toMap
    assert(restored == (1 to 100).map(i => i -> s"v$i").toMap,
      s"restored snapshot lost ${100 - restored.size} rows to stale DVs")
    // the recorded row count agrees with actual reads
    assert(VersionedHub.history(spark, path).last.rows == 100)
    // and the intermediate DV'd version still time-travels exactly
    assert(VersionedHub.read(spark, path, Some(2)).count() == 97)
    assert(r == 4)
  }

  test("incremental log: manifests are O(touched files); checkpoints + deltas reconstruct full stats; vacuum re-anchors") {
    import org.apache.hadoop.fs.{Path => HPath}
    val path = tmpDir("vhub_incr")
    def logFile(name: String) = new java.io.File(s"$path/_log/$name")
    def manifestLen(n: Int) = logFile(f"$n%08d.json").length()
    // v1: a bulk load leaving ~20 files per bucket — the big manifest
    VersionedHub.writeBucketed(spark,
      (1 to 4000).map(i => (i, s"v$i")).toDF("k", "v").repartition(20),
      path, Seq("k"), 8, optimizeWrite = false)
    val v1Len = manifestLen(1)
    // 12 single-key upserts: versions 2..13, crossing CheckpointInterval
    for (i <- 1 to 12)
      VersionedHub.writeBucketed(spark,
        Seq((i * 37, s"U$i")).toDF("k", "v"), path, Seq("k"), 8)
    // each small commit's manifest carries only its own files' stats — its
    // size must not scale with the v1 bulk (the 100 TB log-growth contract)
    val smallLens = (2 to 13).map(manifestLen)
    assert(smallLens.max < v1Len / 4,
      s"small-commit manifests must be O(touched): v1=$v1Len bytes, " +
        s"upserts=${smallLens.mkString(",")}")
    // the interval checkpoint landed
    assert(logFile(f"${10}%08d.checkpoint.json").exists(),
      "expected a checkpoint at version 10")
    // reconstructed full stats == ground truth re-collected from disk
    val tip = VersionedHub.history(spark, path).last
    assert(tip.version == 13)
    val fs = new HPath(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val truth = tip.dirs.flatMap(rel =>
      graft.writers.FileStats.collect(spark, fs, new HPath(path),
        new HPath(s"$path/$rel"))).toMap
    assert(tip.fileStats.keySet == truth.keySet,
      s"missing=${(truth.keySet -- tip.fileStats.keySet).take(3)} " +
        s"extra=${(tip.fileStats.keySet -- truth.keySet).take(3)}")
    for ((p, st) <- truth)
      assert(tip.fileStats(p) == st, s"stat drifted for $p")
    assert(tip.fileStats.values.map(_.rows).sum == tip.rows)
    // vacuum away the anchors: the oldest kept version gets checkpointed
    // first, so stats still reconstruct and reads survive
    VersionedHub.vacuum(spark, path, keepVersions = Some(2), retainMs = 0)
    assert(logFile(f"${12}%08d.checkpoint.json").exists(),
      "vacuum must anchor the oldest kept version before dropping manifests")
    val hist = VersionedHub.history(spark, path)
    assert(hist.map(_.version) == Seq(12, 13))
    assert(hist.last.fileStats == tip.fileStats,
      "post-vacuum reconstruction must equal the pre-vacuum full map")
    assert(VersionedHub.read(spark, path).count() == 4000L)
    // a fresh commit on the vacuumed log still folds correctly
    VersionedHub.writeBucketed(spark, Seq((1, "last")).toDF("k", "v"),
      path, Seq("k"), 8)
    val v14 = VersionedHub.history(spark, path).last
    assert(v14.fileStats.values.map(_.rows).sum == v14.rows)
  }

  test("parquet checkpoints: format switches on size, round-trips exactly, falls back to JSON") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.writers.FileStats
    def synth(n: Int): Map[String, FileStats.FileStat] =
      (1 to n).map { i =>
        f"data/$i%d-aa/bucket=${i % 4}%d/part-$i%05d.parquet" ->
          FileStats.FileStat(10L + i, 100L + i, Map(
            "k" -> FileStats.ColStat(Some(i.toLong), Some(i + 9L), Some(0L)),
            "v" -> FileStats.ColStat(Some(s"a$i"), Some(s"z$i"), None)))
      }.toMap
    val fs = new HPath("/tmp").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // small map -> JSON file; big map -> parquet dir; both reload exactly
    val small = tmpDir("vhub_ck_small")
    val sStats = synth(50)
    val sDvs = Map(sStats.keys.head -> Seq(1L, 5L, 9L))
    VersionedHub.writeCheckpoint(fs, small, VersionedHub.Version(
      10, 0L, 0L, groups = Map(0 -> Seq("data")), statsNew = sStats, dvNew = sDvs, checks = Map.empty))
    assert(new java.io.File(s"$small/_log/00000010.checkpoint.json").isFile)
    val sBack = VersionedHub.loadCarried(spark, small, 10)
    assert(sBack.stats == sStats && sBack.dvs == sDvs)
    val big = tmpDir("vhub_ck_big")
    val bStats = synth(VersionedHub.CheckpointParquetThreshold + 5)
    val bDvs = Map(bStats.keys.head -> Seq(2L, 3L),
      // a DV on a file with NO recorded stats must survive the round-trip
      "data/9-zz/bucket=0/ghost.parquet" -> Seq(7L))
    VersionedHub.writeCheckpoint(fs, big, VersionedHub.Version(
      10, 0L, 0L, groups = Map(0 -> Seq("data")), statsNew = bStats, dvNew = bDvs, checks = Map.empty))
    assert(new java.io.File(s"$big/_log/00000010.checkpoint.parquet")
      .isDirectory, "a big checkpoint must land as a parquet dir")
    val bBack = VersionedHub.loadCarried(spark, big, 10)
    assert(bBack.stats == bStats && bBack.dvs == bDvs)
    // a corrupt/torn parquet checkpoint falls back to a JSON sibling...
    val mixed = tmpDir("vhub_ck_mixed")
    VersionedHub.writeCheckpoint(fs, mixed, VersionedHub.Version(
      10, 0L, 0L, groups = Map(0 -> Seq("data")), statsNew = sStats, checks = Map.empty))
    val junk = new java.io.File(s"$mixed/_log/00000010.checkpoint.parquet")
    assert(junk.mkdirs())
    java.nio.file.Files.write(
      junk.toPath.resolve("part-junk.parquet"), Array[Byte](9, 9, 9))
    val mBack = VersionedHub.loadCarried(spark, mixed, 10)
    assert(mBack.stats == sStats,
      "an unreadable parquet checkpoint must fall back to the JSON one")
    // ...and with no parseable checkpoint at all, the fold yields empty
    // (readers then walk the manifest chain — proven by the incremental
    // log test above)
    val none = tmpDir("vhub_ck_none")
    fs.mkdirs(new HPath(s"$none/_log"))
    assert(VersionedHub.loadCarried(spark, none, 10).stats.isEmpty)
    // a REPAIR over a torn parquet checkpoint must REPLACE it, not nest
    // the fresh dir inside it (HDFS rename(dir, existingDir) semantics):
    // re-writing the mixed fixture's checkpoint makes the parquet form
    // parse again, superseding the JSON fallback
    VersionedHub.writeCheckpoint(fs, mixed, VersionedHub.Version(
      10, 0L, 0L, groups = Map(0 -> Seq("data")), statsNew = bStats, checks = Map.empty))
    val repaired = VersionedHub.loadCarried(spark, mixed, 10)
    assert(repaired.stats == bStats,
      "re-writing a checkpoint over a torn one must replace it cleanly")
  }

  test("FLAT hubs land interval checkpoints; the anchored fold reconstructs full stats") {
    val path = tmpDir("vhub_flat_ck")
    for (i <- 1 to (VersionedHub.CheckpointInterval + 2))
      VersionedHub.write(spark,
        (1 to 50).map(k => (k, s"v$k-$i")).toDF("k", "v"), path, Seq("k"))
    assert(new java.io.File(s"$path/_log/" +
      f"${VersionedHub.CheckpointInterval}%08d.checkpoint.json").isFile,
      "a flat hub must checkpoint at the interval")
    val tip = VersionedHub.history(spark, path).last
    assert(tip.fileStats.nonEmpty &&
      tip.fileStats.values.map(_.rows).sum == tip.rows,
      "the checkpointed fold must cover the tip snapshot exactly")
    assert(VersionedHub.read(spark, path).count() == 50)
  }

  test("commitBytes bills statsNew deltas, never a legacy full-snapshot manifest") {
    import org.apache.hadoop.fs.{Path => HPath}
    val path = tmpDir("vhub_legacy_bytes")
    val fs = new HPath(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // handcraft a LEGACY manifest (pre-statsDelta encoding: full
    // `fileStats` map, no `statsDelta` field)
    fs.mkdirs(new HPath(s"$path/_log"))
    val legacy =
      """{"version": 1, "dataDir": "data/1-aa", "ts": 1, "rows": 4,
        | "fileStats": {"data/1-aa/f.parquet":
        |   {"rows": 4, "bytes": 123456, "cols": {}}}}""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/_log/00000001.json"),
      legacy.getBytes("UTF-8"))
    val v = VersionedHub.history(spark, path).last
    assert(v.legacyStats && v.fileStats.nonEmpty,
      "the legacy manifest must parse with its full stats map")
    assert(VersionedHub.commitBytes(spark, path, 1) == 0L,
      "a legacy full-map manifest must admit freely (bytes = 0), not " +
        "bill the whole table to one version")
  }

  test("non-printable and widened-bound string stats commit, read back and never wedge the hub") {
    val path = tmpDir("vhub_wedge")
    // U+0080; a 68-char value whose 64th char is '~' (the max bound's
    // widening bumps it to DEL, U+007F); U+FFFE
    val values = Seq("a\u0080b", ("x" * 63) + "~tail", "c\uFFFEd")
    assert(values(1).length == 68 && values(1).charAt(63) == '~')
    for (((s, i), next) <- values.zipWithIndex.zip(Seq("y", "y", "z"))) {
      val n = VersionedHub.write(spark, Seq((i.toLong, s)).toDF("k", "v"),
        path, Seq("k"))
      assert(VersionedHub.history(spark, path).map(_.version).contains(n),
        s"v$n missing from history after writing value $i")
      assert(VersionedHub.read(spark, path).filter($"k" === i.toLong)
        .select($"v").as[String].collect().toSeq == Seq(s))
      // the next write commits on top
      val m = VersionedHub.write(spark, Seq((100L + i, next)).toDF("k", "v"),
        path, Seq("k"))
      assert(m == n + 1 && VersionedHub.history(spark, path).last.version == m)
    }
    assert(VersionedHub.read(spark, path).count() == 6L)
    // a manifest in the earlier writer's shape, which wrote such
    // characters raw, parses too
    val old = tmpDir("vhub_wedge_old")
    new java.io.File(s"$old/_log").mkdirs()
    val raw = values.head
    val manifest =
      s"""{"version": 1, "ts": 1, "rows": 1, "groups": {"0": ["data/1-aa"]},
        | "statsDelta": {"data/1-aa/f.parquet": {"rows": 1, "bytes": 10,
        | "cols": {"v": {"mn": "S:$raw", "mx": "S:$raw", "nc": 0}}}}}"""
        .stripMargin
    assert(manifest.contains('\u0080'))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$old/_log/00000001.json"),
      manifest.getBytes("UTF-8"))
    val v1 = VersionedHub.history(spark, old).last
    assert(v1.version == 1 && !v1.legacyStats)
    assert(v1.fileStats("data/1-aa/f.parquet").cols("v").max.contains(raw))
  }

  private def parquetFiles(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.filter(p => p.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  test("deletion vectors: a small delete is a manifest-only commit; reads, travel, upsert, compaction agree") {
    val path = tmpDir("vhub_dv")
    VersionedHub.writeBucketed(spark,
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v"), path, Seq("k"), 8)
    val files1 = parquetFiles(path)
    // surgical delete → DV commit: ZERO data files written
    val v2 = VersionedHub.deleteWhere(spark, path,
      col("k").isin(5L, 17L, 333L, 900L))
    assert(v2 == 2)
    assert(parquetFiles(path) == files1,
      "a DV delete must not write or rewrite any data file")
    val tip = VersionedHub.history(spark, path).last
    assert(tip.rows == 996L)
    assert(tip.dvs.values.map(_.size).sum == 4, tip.dvs.toString)
    assert(tip.bucketRows.values.sum == 996L)
    val live = VersionedHub.read(spark, path).select("k").as[Long]
      .collect().toSet
    assert(live.size == 996 && !live.contains(5L) && !live.contains(900L))
    // time travel BEFORE the DV still sees the rows
    assert(VersionedHub.read(spark, path, Some(1)).count() == 1000L)
    // a second DV delete DEEPENS vectors (old ∪ new per file)
    val v3 = VersionedHub.deleteWhere(spark, path, col("k") === 6L)
    assert(v3 == 3 && parquetFiles(path) == files1)
    val tip3 = VersionedHub.history(spark, path).last
    assert(tip3.rows == 995L && tip3.dvs.values.map(_.size).sum == 5)
    // re-upserting a DV-deleted key: the bucket rewrite materializes the
    // deletion and the key comes back with the NEW value only
    VersionedHub.write(spark, Seq((5L, "back")).toDF("k", "v"),
      path, Seq("k"))
    val after = VersionedHub.read(spark, path)
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(after(5L) == "back" && after.size == 996 && !after.contains(6L))
    // the rewritten bucket dropped its vectors; other buckets keep theirs
    val tip4 = VersionedHub.history(spark, path).last
    assert(tip4.dvs.values.map(_.size).sum < 5)
    // compaction materializes every remaining vector
    VersionedHub.compactBuckets(spark, path)
    val tip5 = VersionedHub.history(spark, path).last
    assert(tip5.dvs.isEmpty, "compaction must clear deletion vectors")
    assert(VersionedHub.read(spark, path).count() == 996L)
    // restore to the DV version reads through its vectors again
    VersionedHub.restore(spark, path, 3)
    val restored = VersionedHub.read(spark, path).select("k").as[Long]
      .collect().toSet
    assert(restored.size == 995 && !restored.contains(5L) &&
      !restored.contains(6L))
  }

  test("purge materializes DVs for exactly the dv'd buckets; filesDF exposes dv_rows") {
    val path = tmpDir("vhub_purge")
    VersionedHub.writeBucketed(spark,
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v"), path, Seq("k"), 8)
    // no vectors: purge is a version-preserving no-op
    assert(VersionedHub.purge(spark, path) == 1)
    VersionedHub.deleteWhere(spark, path, col("k").isin(5L, 17L, 333L))
    val tip = VersionedHub.history(spark, path).last
    assert(tip.dvs.nonEmpty)
    // filesDF accounting: physical - dv_rows == live
    val fdf = VersionedHub.filesDF(spark, path)
      .agg(sum("rows"), sum("dv_rows")).as[(Long, Long)].head()
    assert(fdf._2 == 3L && fdf._1 - fdf._2 == 997L, fdf.toString)
    val dvDirs = tip.buckets.filter { case (_, ds) =>
      ds.exists(d => tip.dvs.keySet.exists(_.startsWith(d + "/"))) }.keySet
    val untouched = tip.buckets -- dvDirs
    assert(VersionedHub.purge(spark, path) == 3)
    val after = VersionedHub.history(spark, path).last
    assert(after.dvs.isEmpty, "purge must clear every vector")
    // structural sharing: every non-dv'd bucket keeps its existing dir
    assert(untouched.forall { case (b, d) => after.buckets.get(b).contains(d) })
    // dv'd buckets were rewritten (new dirs)
    assert(dvDirs.forall(b => after.buckets(b) != tip.buckets(b)))
    assert(VersionedHub.filesDF(spark, path)
      .agg(sum("dv_rows")).as[Long].head() == 0L)
    val live = VersionedHub.read(spark, path).select("k").as[Long]
      .collect().toSet
    assert(live.size == 997 && !live.contains(5L) && !live.contains(333L))
  }

  test("deletion vectors: change feed emits DV deletes; checkpoint + vacuum carry vectors; kill-switch rewrites") {
    val path = tmpDir("vhub_dv2")
    VersionedHub.writeBucketed(spark,
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v"), path, Seq("k"), 4)
    VersionedHub.deleteWhere(spark, path, col("k") === 42L)
    // CDF between the snapshots: exactly one delete row, despite ZERO
    // dirs differing between the manifests
    val cdf = VersionedHub.changesCDF(spark, path, Seq("k"), 1, 2)
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
    assert(cdf == Seq((42L, "delete")), cdf.toString)
    // DSv2 read path applies vectors too (count + value check)
    val dsv2 = spark.read.format("graft-hub").option("path", path).load()
    assert(dsv2.count() == 199L)
    assert(dsv2.filter($"k" === 42L).count() == 0L)
    // vectors survive vacuum via the anchor checkpoint
    VersionedHub.deleteWhere(spark, path, col("k") === 43L)
    VersionedHub.vacuum(spark, path, keepVersions = Some(1), retainMs = 0)
    val tipAfter = VersionedHub.history(spark, path).last
    assert(tipAfter.dvs.values.map(_.size).sum == 2,
      s"vectors lost across vacuum: ${tipAfter.dvs}")
    assert(VersionedHub.read(spark, path).count() == 198L)
    // kill-switch: DV disabled falls back to the bucket rewrite
    val filesBefore = parquetFiles(path)
    spark.conf.set("spark.graft.hub.dv.enabled", "false")
    try {
      VersionedHub.deleteWhere(spark, path, col("k") === 44L)
      assert(parquetFiles(path) > filesBefore,
        "dv.enabled=false must rewrite the touched bucket")
      assert(VersionedHub.read(spark, path).count() == 197L)
    } finally spark.conf.set("spark.graft.hub.dv.enabled", "true")
  }

  test("vacuum anchors FLAT hubs too: a schema-only tip keeps its stats when the carried-from manifests drop") {
    // flat-hub shape of the bucketed re-anchor contract: the kept tip is a
    // chain-dependent schema-only commit (statsNew = empty, stats carried
    // from the dropped v1 manifest) — without the anchor checkpoint,
    // vacuum would leave t$files empty and skipping stats blind on a
    // non-empty table
    val path = tmpDir("vhub_flat_anchor")
    VersionedHub.write(spark, kv(1 -> "a", 2 -> "b"), path, Seq("k"))
    VersionedHub.alterSchema(spark, path, s =>
      org.apache.spark.sql.types.StructType(s.fields :+
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType)))
    val pre = VersionedHub.history(spark, path).last.fileStats
    assert(pre.nonEmpty, "schema-only tip must carry the base's stats")
    VersionedHub.vacuum(spark, path, keepVersions = Some(1), retainMs = 0)
    assert(new java.io.File(s"$path/_log/${"%08d".format(2)}.checkpoint.json")
      .exists(), "vacuum must anchor the flat kept tip")
    val tip = VersionedHub.history(spark, path).last
    assert(tip.version == 2)
    assert(tip.fileStats == pre,
      "flat schema-only tip must keep per-file stats across vacuum")
    assert(VersionedHub.read(spark, path).count() == 2L)
  }

  test("executor-side footer stats (>64 files) resolve paths with the DRIVER's hadoop conf") {
    // a filesystem scheme that exists ONLY in the driver's configuration
    // (the spark.hadoop.* / custom-FS deployment shape): if the parallel
    // footer pass built a bare `new Configuration()` on executors, the
    // scheme would be unresolvable and the commit-stats job would fail
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val dir = tmpDir("fstats_conf")
    (1 to 300).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(80)
      .write.mode("overwrite").parquet(s"$dir/data")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.grafttest.impl", classOf[ConfOnlyFs].getName)
    // newInstance: the driver's FS never lands in the shared get()-cache,
    // so an executor-side bare-conf lookup could NOT ride a cache hit —
    // the conf must genuinely travel with the job
    val fs = FileSystem.newInstance(java.net.URI.create("grafttest:///"), conf)
    try {
      val stats = graft.writers.FileStats.collect(spark, fs,
        new HPath(s"grafttest://$dir"), new HPath(s"grafttest://$dir/data"))
      assert(stats.size > 64, s"expected >64 files, got ${stats.size}")
      assert(stats.values.map(_.rows).sum == 300L)
      val ks = stats.values.flatMap(_.cols.get("k")).toSeq
      assert(ks.flatMap(_.min).map(_.asInstanceOf[Long]).min == 1L)
      assert(ks.flatMap(_.max).map(_.asInstanceOf[Long]).max == 300L)
    } finally fs.close()
  }

  test("manifest rows stay exact when a bulk commit blows the footer budget") {
    // 80 input partitions × 2 buckets → far more than 64 files per bucket
    // dir, so the driver-side footer sum must refuse and the per-bucket
    // counts must come from the parallel metadata-scan fallback instead
    val path = tmpDir("vhub_rows_bulk")
    VersionedHub.writeBucketed(spark,
      (1 to 2000).map(i => (i, s"v$i")).toDF("k", "v").repartition(80),
      path, Seq("k"), 2)
    val v = VersionedHub.history(spark, path).head
    assert(v.rows == 2000L, s"${v.rows}")
    assert(v.bucketRows.values.sum == 2000L && v.bucketRows.keySet == v.buckets.keySet)
    // and a small follow-up commit still audits exactly on top of it
    VersionedHub.writeBucketed(spark, kv(1 -> "ONE", 2001 -> "NEW"),
      path, Seq("k"), 2)
    assert(VersionedHub.history(spark, path).last.rows == 2001L)
  }

  test("manifest rows stay exact through bucketed upserts and deletes") {
    val path = tmpDir("vhub_rows")
    VersionedHub.writeBucketed(spark,
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "v"), path, Seq("k"), 4)
    VersionedHub.writeBucketed(spark,
      kv(1 -> "ONE", 101 -> "NEW"), path, Seq("k"), 4) // 1 update + 1 insert
    VersionedHub.writeBucketed(spark,
      Seq.empty[(Int, String)].toDF("k", "v"), path, Seq("k"), 4,
      deletes = Some(Seq(1, 2, 3).toDF("k")))
    // every other bucket-rewriting commit kind audits the same way
    VersionedHub.updateWhere(spark, path, $"k" <= 10, Seq("v" -> lit("U")))
    // 51 matches > rows / 10: past the DV cap, so the buckets are rewritten
    VersionedHub.deleteWhere(spark, path, $"k" > 50)
    VersionedHub.compactBuckets(spark, path)
    VersionedHub.optimizeZOrderBuckets(spark, path, "k", "k", 2)
    VersionedHub.overwrite(spark,
      (1 to 30).map(i => (i, s"o$i")).toDF("k", "v"), path)
    VersionedHub.restore(spark, path, 3)
    val hist = VersionedHub.history(spark, path)
    assert(hist.map(_.rows) ==
      Seq(100L, 101L, 98L, 98L, 47L, 47L, 47L, 30L, 98L),
      s"${hist.map(_.rows)}")
    assert(hist.drop(3).forall(_.dvs.isEmpty), "the DELETE took the DV path")
    // per-bucket counts in each manifest sum to the total and match disk
    hist.foreach { v =>
      assert(v.bucketRows.values.sum == v.rows, s"v${v.version}")
      assert(v.bucketRows.keySet == v.buckets.keySet, s"v${v.version}")
      assert(VersionedHub.read(spark, path, Some(v.version)).count() == v.rows,
        s"v${v.version}")
    }
    assert(VersionedHub.read(spark, path).count() == 98L)
  }

  test("an emptied bucketed hub keeps serving row-level commands and restore") {
    val path = tmpDir("vhub_emptied")
    VersionedHub.writeBucketed(spark,
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "v"), path, Seq("k"), 4)
    assert(VersionedHub.deleteWhere(spark, path, lit(true)) == 2)
    val emptied = VersionedHub.history(spark, path).last
    assert(emptied.rows == 0L && emptied.buckets.isEmpty &&
      emptied.nBuckets.contains(4))
    // nothing left to match: both commands are no-ops on the emptied tip
    assert(VersionedHub.deleteWhere(spark, path, $"k" === 1) == 2)
    assert(VersionedHub.updateWhere(spark, path, lit(true),
      Seq("v" -> lit("x"))) == 2)
    // still bucketed, so the flat-only compaction refuses it loudly
    val e = intercept[IllegalArgumentException](
      VersionedHub.optimize(spark, path))
    assert(e.getMessage.contains("supports flat hubs only"), e.getMessage)
    assert(VersionedHub.restore(spark, path, 1) == 3)
    assert(VersionedHub.read(spark, path).count() == 100L)
    assert(VersionedHub.restore(spark, path, 2) == 4)
    val tip = VersionedHub.history(spark, path).last
    assert(tip.rows == 0L && tip.nBuckets.contains(4))
    assert(VersionedHub.read(spark, path).count() == 0L)
    // and the emptied tip takes new merges in its bucketed layout
    assert(VersionedHub.writeBucketed(spark, kv(7 -> "seven"), path,
      Seq("k"), 4) == 5)
    assert(VersionedHub.read(spark, path).select("k", "v")
      .as[(Int, String)].collect().toSeq == Seq(7 -> "seven"))
  }

  test("every commit kind survives a lost race: the retry folds in the winner, the orphan goes") {
    import graft.writers.CommitStore
    def rows(path: String, version: Option[Int] = None): Map[Int, String] =
      VersionedHub.read(spark, path, version).select("k", "v")
        .as[(Int, String)].collect().toMap
    val seed = (1 to 40).map(i => i -> s"v$i")
    val winner = Seq(41 -> "w", 1 -> "W")
    def flat(p: String): Unit =
      VersionedHub.write(spark, kv(seed: _*), p, Seq("k"))
    def bucketed(p: String): Unit =
      VersionedHub.writeBucketed(spark, kv(seed: _*), p, Seq("k"), 4)
    val afterWinner = seed.toMap ++ winner
    // (name, setup, op, expected rows at the tip)
    val cases: Seq[(String, String => Unit, String => Int, Map[Int, String])] =
      Seq(
        ("write", flat,
          p => VersionedHub.write(spark, kv(50 -> "op"), p, Seq("k")),
          afterWinner + (50 -> "op")),
        ("writeBucketed", bucketed,
          p => VersionedHub.writeBucketed(spark, kv(50 -> "op", 41 -> "op"),
            p, Seq("k"), 4),
          afterWinner + (50 -> "op") + (41 -> "op")),
        ("overwrite flat", flat,
          p => VersionedHub.overwrite(spark, kv(60 -> "o"), p),
          Map(60 -> "o")),
        ("overwrite bucketed", bucketed,
          p => VersionedHub.overwrite(spark, kv(60 -> "o"), p),
          Map(60 -> "o")),
        ("restore bucketed", p => {
            bucketed(p)
            VersionedHub.writeBucketed(spark, kv(2 -> "two"), p, Seq("k"), 4)
          },
          p => VersionedHub.restore(spark, p, 1),
          seed.toMap),
        ("alterSchema", bucketed,
          p => VersionedHub.alterSchema(spark, p,
            _.add("extra", org.apache.spark.sql.types.IntegerType)),
          afterWinner),
        ("compactBuckets", bucketed,
          p => VersionedHub.compactBuckets(spark, p), afterWinner),
        ("optimizeZOrderBuckets", bucketed,
          p => VersionedHub.optimizeZOrderBuckets(spark, p, "k", "k", 2),
          afterWinner),
        ("optimize", flat,
          p => VersionedHub.optimize(spark, p), afterWinner))
    for ((name, setup, op, expected) <- cases) {
      val path = tmpDir("vhub_race")
      setup(path)
      val before = VersionedHub.history(spark, path).last.version
      // the op's first claim loses to a concurrent upsert that lands first
      @volatile var fired = false
      CommitStore.register("file", new CommitStore {
        override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
            p: org.apache.hadoop.fs.Path, content: Array[Byte]): Boolean = {
          if (!fired) {
            fired = true
            VersionedHub.write(spark, kv(winner: _*), path, Seq("k"))
          }
          CommitStore.CreateExclusive.putIfAbsent(fs, p, content)
        }
      })
      val committed =
        try op(path) finally CommitStore.unregister("file")
      assert(fired, name)
      val hist = VersionedHub.history(spark, path)
      assert(committed == before + 2 && hist.last.version == before + 2,
        s"$name: ${hist.map(_.version)}")
      assert(rows(path, Some(before + 1)) == afterWinner ++
        (if (name.startsWith("restore")) Map(2 -> "two") else Map.empty),
        s"$name: the winner's version")
      assert(rows(path) == expected, name)
      if (name == "alterSchema")
        assert(VersionedHub.read(spark, path).columns.contains("extra"))
      // no data dir is left that no manifest names: the loser's orphan
      // was deleted
      val named = hist.flatMap(_.dirs)
        .map(_.stripPrefix("data/").takeWhile(_ != '/')).toSet
      val onDisk = new java.io.File(path, "data").listFiles
        .filter(_.isDirectory).map(_.getName).toSet
      assert(onDisk.subsetOf(named), s"$name: orphans ${onDisk -- named}")
    }
  }

  test("optimize commits a compacted snapshot as a new version, content-identical") {
    val path = tmpDir("vhub_opt")
    VersionedHub.write(spark,
      (1 to 200).map(i => (i, s"v$i")).toDF("k", "v").repartition(16),
      path, Seq("k"))
    val v = VersionedHub.optimize(spark, path, targetFileRows = 1000)
    assert(v == 2)
    val before = VersionedHub.read(spark, path, Some(1))
      .select($"k", $"v").as[(Int, String)].collect().toSet
    val after = VersionedHub.read(spark, path, Some(2))
      .select($"k", $"v").as[(Int, String)].collect().toSet
    assert(before == after)
    val files = new java.io.File(path, "data").listFiles
      .filter(_.getName.startsWith("2-")).head
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"200 rows at 1000/file must compact to 1 file, got $files")
    val hist = VersionedHub.historyDF(spark, path)
      .select($"version", $"rows").as[(Int, Long)].collect().toSeq.sorted
    assert(hist == Seq((1, 200L), (2, 200L)))
  }

  test("property: N random upserts == reference Map fold, at every intermediate version") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val path = tmpDir(s"vhub_prop$trial")
      // keys unique WITHIN a batch: a batch with duplicate keys and no
      // _ingest_ts_utc stamp has no defined within-batch winner (the
      // HubWriterSpec property covers that case with explicit timestamps)
      val batches = List.fill(4)(
        rnd.shuffle((0 until 12).toList).take(8)
          .map(k => (k, rnd.nextInt(1000).toString)))
      batches.foreach(b => VersionedHub.write(spark, kv(b: _*), path, Seq("k")))
      // every committed version must equal the Map-fold of its prefix —
      // catches both lost updates AND snapshot mutation by later commits
      var ref = Map.empty[Int, String]
      batches.zipWithIndex.foreach { case (b, i) =>
        ref = b.foldLeft(ref) { case (m, (k, v)) => m + (k -> v) }
        val got = VersionedHub.read(spark, path, Some(i + 1))
          .select($"k", $"v").as[(Int, String)].collect().toMap
        assert(got == ref, s"trial $trial version ${i + 1}")
      }
      // bucketed layout must agree with the flat layout on the same batches
      val bpath = tmpDir(s"vhub_propb$trial")
      batches.foreach(b =>
        VersionedHub.writeBucketed(spark, kv(b: _*), bpath, Seq("k"), 4))
      val bGot = VersionedHub.read(spark, bpath)
        .select($"k", $"v").as[(Int, String)].collect().toMap
      assert(bGot == ref, s"trial $trial bucketed/flat divergence")
    }
  }

  test("write() on a bucketed hub routes through the bucketed path (no partial-snapshot loss)") {
    val path = tmpDir("vhub_write_bkt")
    VersionedHub.writeBucketed(spark,
      (1 to 100).map(i => (i, s"v$i")).toDF("k", "v"), path, Seq("k"), 8)
    // plain write() must NOT flat-merge against the touched-bucket root —
    // all 100 rows must survive an upsert of 2 keys
    val v2 = VersionedHub.write(spark, kv(1 -> "ONE", 2 -> "TWO"), path, Seq("k"))
    assert(v2 == 2)
    val end = VersionedHub.read(spark, path)
      .select($"k", $"v").as[(Int, String)].collect().toMap
    assert(end.size == 100 && end(1) == "ONE" && end(50) == "v50")
    assert(VersionedHub.history(spark, path).last.buckets.size == 8)
    // keyless write() stays refused on LIBRARY-created bucketed tables:
    // only a catalog CLUSTERED BY (which declares the bucket columns as
    // the table's keys, schema-metadata marker) licenses the fallback —
    // a subset-routed interval table must never merge on its routing
    // column alone
    intercept[IllegalArgumentException] {
      VersionedHub.write(spark, kv(3 -> "x"), path, Seq.empty)
    }
  }

  test("keyless write() on a flat hub appends instead of merging") {
    val path = tmpDir("vhub_keyless")
    VersionedHub.write(spark, kv(1 -> "a"), path, Seq.empty)
    VersionedHub.write(spark, kv(1 -> "a2"), path, Seq.empty)
    val rows = VersionedHub.read(spark, path)
      .select($"k", $"v").as[(Int, String)].collect().toSeq.sorted
    assert(rows == Seq((1, "a"), (1, "a2")))
  }

  test("vacuum retention protects young unreferenced dirs; retainMs=0 sweeps them") {
    val path = tmpDir("vhub_retain")
    VersionedHub.write(spark, kv(1 -> "a"), path, Seq("k"))
    // simulate an in-flight writer's not-yet-committed snapshot dir
    val orphan = new java.io.File(path, "data/99-orphan00")
    orphan.mkdirs()
    VersionedHub.vacuum(spark, path) // default retention: young orphan survives
    assert(orphan.exists(), "retention window must protect a fresh unreferenced dir")
    VersionedHub.vacuum(spark, path, retainMs = 0L) // no writer active: sweep
    assert(!orphan.exists(), "retainMs=0 must sweep unreferenced dirs")
    assert(VersionedHub.read(spark, path).count() == 1)
  }

  test("crashed writer mid-manifest blocks loudly; repair reclaims the version") {
    val path = tmpDir("vhub_repair")
    VersionedHub.write(spark, kv(1 -> "a"), path, Seq("k"))
    // crash injection: a claimed-but-empty manifest for version 2
    val ghost = new java.io.File(path, "_log/00000002.json")
    ghost.createNewFile()
    val e = intercept[IllegalStateException] {
      VersionedHub.write(spark, kv(2 -> "b"), path, Seq("k"))
    }
    assert(e.getMessage.contains("repair"))
    // too-young claims are NOT reclaimed (could be a live in-flight writer)
    assert(VersionedHub.repair(spark, path).isEmpty)
    assert(ghost.exists())
    // age-expired claim is reclaimed, and the number is reusable
    assert(VersionedHub.repair(spark, path, minAgeMs = 0L) == Seq(2))
    assert(!ghost.exists())
    assert(VersionedHub.write(spark, kv(2 -> "b"), path, Seq("k")) == 2)
    val end = VersionedHub.read(spark, path)
      .select($"k", $"v").as[(Int, String)].collect().toMap
    assert(end == Map(1 -> "a", 2 -> "b"))
  }

  test("compactBuckets collapses small files, shares untouched dirs, keeps rows") {
    val path = tmpDir("vhub_compact")
    def batch(ids: Range) = ids.map(i => (i.toLong, s"v$i")).toDF("k", "v")
    // optimizeWrite=false reproduces the bulk-load layout (one file per
    // writer task per bucket dir) whose small files compaction exists for —
    // the default optimized write collapses them at commit time already
    VersionedHub.writeBucketed(spark, batch(0 until 40).repartition(4),
      path, Seq("k"), 4, optimizeWrite = false)
    // single-key merges leave most buckets pointing at v1's multi-file dirs
    VersionedHub.writeBucketed(spark, batch(0 until 1), path, Seq("k"), 4)
    VersionedHub.writeBucketed(spark, batch(1 until 2), path, Seq("k"), 4)
    val before = VersionedHub.history(spark, path).last
    def filesIn(rel: String) =
      new java.io.File(path, rel).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    assert(before.dirs.exists(d => filesIn(d) > 1),
      "expected small-file accumulation before compaction")
    val rows = VersionedHub.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val v = VersionedHub.compactBuckets(spark, path)
    val after = VersionedHub.history(spark, path).last
    assert(after.version == v && v == before.version + 1)
    assert(after.dirs.forall(d => filesIn(d) == 1),
      "every compacted bucket dir must hold exactly one file")
    assert(after.rows == before.rows)
    val rowsAfter = VersionedHub.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rowsAfter == rows, "compaction must not change content")
    // time travel across the compaction still sees the old layout's rows
    assert(VersionedHub.read(spark, path, Some(before.version))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == rows)

    // partial compaction shares the untouched buckets' dirs structurally
    VersionedHub.writeBucketed(spark, batch(0 until 10), path, Seq("k"), 4)
    val base2 = VersionedHub.history(spark, path).last
    val one = base2.buckets.keys.min
    val v2 = VersionedHub.compactBuckets(spark, path, Some(Seq(one)))
    val after2 = VersionedHub.history(spark, path).last
    assert(after2.version == v2)
    assert((base2.buckets - one).forall { case (b, d) =>
      after2.buckets(b) == d
    }, "untouched buckets must keep their existing dirs")
  }

  test("vacuum keeps the latest snapshot readable and drops old versions") {
    val path = tmpDir("vhub_vac")
    VersionedHub.write(spark, kv(1 -> "a"), path, Seq("k"))
    VersionedHub.write(spark, kv(2 -> "b"), path, Seq("k"))
    VersionedHub.write(spark, kv(3 -> "c"), path, Seq("k"))
    VersionedHub.vacuum(spark, path, keepVersions = Some(1))
    assert(VersionedHub.history(spark, path).map(_.version) == Seq(3))
    assert(VersionedHub.read(spark, path).count() == 3)
    intercept[IllegalArgumentException] {
      VersionedHub.read(spark, path, Some(1))
    }
  }

  test("commit refuses object-store schemes where create-exclusive is not atomic") {
    // every known object-store scheme must fail LOUDLY, pointing at the
    // LogStore-style coordinator seam, BEFORE a manifest can be forked
    for (p <- Seq("s3a://bucket/hub", "s3://bucket/hub", "gs://bucket/hub",
        "abfss://c@acct.dfs.core.windows.net/hub", "wasb://c@acct/hub")) {
      val e = intercept[IllegalArgumentException] {
        VersionedHub.checkAtomicCommitScheme(p)
      }
      assert(e.getMessage.contains("LogStore"), s"message must name the seam: $p")
    }
    // create-exclusive-safe schemes pass silently
    VersionedHub.checkAtomicCommitScheme("/tmp/local/hub")
    VersionedHub.checkAtomicCommitScheme("file:///tmp/local/hub")
    VersionedHub.checkAtomicCommitScheme("hdfs://nn:8020/warehouse/hub")
    // an unrecognized scheme is allowed (may be a POSIX-semantics HCFS)
    // but warns once — and a real local write still commits end to end
    VersionedHub.checkAtomicCommitScheme("weirdfs://x/hub")
    val path = tmpDir("vhub_scheme")
    VersionedHub.write(spark, kv(1 -> "a"), path, Seq("k"))
    assert(VersionedHub.read(spark, path).count() == 1)
  }

  test("bucket-pruned change feed keeps evolved columns that live only in unchanged buckets") {
    val path = tmpDir("vhub_cdf_schema")
    val n = 8
    def bucketOf(k: Long): Int = {
      // same canonical-key routing as the writer (integral key → string cast)
      val df = Seq(k).toDF("k")
        .select(pmod(xxhash64(col("k").cast("string")), lit(n)).cast("int"))
      df.collect()(0).getInt(0)
    }
    val keys = (1L to 30L)
    VersionedHub.writeBucketed(spark,
      keys.map(k => (k, s"v$k")).toDF("k", "v"), path, Seq("k"), n)
    // v2: schema evolution confined to key 1's bucket — column `extra`
    // exists ONLY in that bucket's dir afterwards
    VersionedHub.writeBucketed(spark,
      Seq((1L, "V1", 9.5)).toDF("k", "v", "extra"), path, Seq("k"), n)
    // v3: touch a key in a DIFFERENT bucket, without the evolved column
    val other = keys.find(k => bucketOf(k) != bucketOf(1L)).get
    VersionedHub.writeBucketed(spark,
      Seq((other, "UPD")).toDF("k", "v"), path, Seq("k"), n)
    // the manifests record full-snapshot schemas (pruning precondition)
    val hist = VersionedHub.history(spark, path)
    assert(hist.forall(_.schema.isDefined))
    assert(hist.last.schema.get.fieldNames.contains("extra"))
    // v2→v3 diffs only `other`'s bucket, whose files never saw `extra`:
    // the pruned feed must still expose it (all-null), like the full read
    val cdf = VersionedHub.changesCDF(spark, path, Seq("k"), 2, 3)
    assert(cdf.columns.contains("extra"),
      s"pruned CDF dropped an evolved column: ${cdf.columns.toSeq}")
    val rows = cdf.select($"k", $"v", $"extra", $"_change_type")
      .as[(Long, String, Option[Double], String)].collect().toSet
    assert(rows == Set(
      (other, s"v$other", None, "update_preimage"),
      (other, "UPD", None, "update_postimage")), s"rows=$rows")
    // a consumer selecting the evolved column by name over the simple feed
    // must not throw either
    assert(VersionedHub.changes(spark, path, Seq("k"), 2, 3)
      .select($"extra").count() == 1)
  }

  test("optimizeZOrderBuckets: z-contiguous files per bucket, content unchanged, stats recorded") {
    val path = tmpDir("vhub_zob")
    // (a, b) covers the 64x64 grid exactly once — the clean z-order case
    val df = (0L until 4096L).map(k => (k, k % 64, k / 64))
      .toDF("k", "a", "b")
    VersionedHub.writeBucketed(spark, df, path, Seq("k"), 4)
    val before = VersionedHub.read(spark, path)
      .as[(Long, Long, Long)].collect().toSet
    val v = VersionedHub.optimizeZOrderBuckets(spark, path, "a", "b",
      filesPerBucket = 8)
    assert(v == 2)
    val after = VersionedHub.history(spark, path).last
    // content identical, rows/layout carried
    assert(VersionedHub.read(spark, path)
      .as[(Long, Long, Long)].collect().toSet == before)
    assert(after.rows == 4096 && after.nBuckets.contains(4))
    // multiple z-segment files per bucket, all stats-recorded
    for ((b, ds) <- after.buckets) {
      val files = after.fileStats.keys.filter(f =>
        ds.exists(d => f.startsWith(d + "/")))
      assert(files.nonEmpty, s"bucket $b has no recorded files")
      assert(files.forall(after.fileStats(_).cols.contains("a")))
    }
    assert(after.fileStats.size >= 8,
      s"expected several z-segment files, got ${after.fileStats.size}")
    // the layout is PRUNABLE: the average fraction of a's global span one
    // file covers must be well under 1 (the zone-map quality the curve buys)
    val spans = after.fileStats.values.toSeq.map { f =>
      val mn = f.cols("a").min.get.asInstanceOf[Long]
      val mx = f.cols("a").max.get.asInstanceOf[Long]
      (mx - mn).toDouble / 63.0
    }
    assert(spans.sum / spans.size < 0.75,
      s"z-order produced blind files: avg a-span ${spans.sum / spans.size}")
  }

  test("pluggable CommitStore: a conditional-write coordinator serializes commits and lifts the scheme guard") {
    import graft.writers.CommitStore
    // fake external coordinator: the CLAIM is decided in shared memory (the
    // conditional-PUT analogue); the manifest content then lands with plain
    // overwrite semantics — exactly what an object store offers
    class FakeConditional extends CommitStore {
      val claims = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val rejected = new java.util.concurrent.atomic.AtomicInteger
      override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
          p: org.apache.hadoop.fs.Path, content: Array[Byte]): Boolean =
        if (!claims.add(p.toString)) { rejected.incrementAndGet(); false }
        else {
          val o = fs.create(p, true)
          try o.write(content) finally o.close()
          true
        }
    }
    val store = new FakeConditional
    assert(CommitStore.register("file", store).isEmpty)
    try {
      val path = tmpDir("commit_store")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val writers = (1 to 4).map(i => Future {
        VersionedHub.write(spark,
          Seq((i.toLong, s"v$i")).toDF("k", "v"), path, Seq("k"))
      })
      writers.foreach(Await.result(_, Duration.Inf))
      // every batch survived (the retry loop re-merges losers), and every
      // committed manifest was claimed THROUGH the coordinator
      assert(VersionedHub.read(spark, path).as[(Long, String)]
        .collect().toMap == (1 to 4).map(i => i.toLong -> s"v$i").toMap)
      val hist = VersionedHub.history(spark, path)
      assert(hist.size == 4 && store.claims.size >= 4,
        s"versions=${hist.size} claims=${store.claims.size}")
      // a scheme with a registered coordinator passes the guard: mutual
      // exclusion no longer rests on filesystem create semantics
      CommitStore.register("s3a", store)
      VersionedHub.checkAtomicCommitScheme("s3a://bucket/hub") // must not throw
    } finally {
      CommitStore.unregister("file")
      CommitStore.unregister("s3a")
    }
    // without a coordinator the loud refusal stands
    intercept[IllegalArgumentException](
      VersionedHub.checkAtomicCommitScheme("s3a://bucket/hub"))
  }

  test("REAL claim-log coordinator: 4-writer race on an object-store-like scheme + crash recovery") {
    import graft.writers.CommitStore
    import org.apache.hadoop.fs.Path
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftos.impl", classOf[ObjectStorePutFs].getName)
    val claimRoot = java.nio.file.Files
      .createTempDirectory("graft_claims").toFile
    val store = new CommitStore.ClaimLogCommitStore(claimRoot)
    assert(CommitStore.register("graftos", store).isEmpty)
    try {
      val path = s"graftos://${tmpDir("vhub_claimlog")}"
      // the guard stands down: the coordinator owns mutual exclusion on a
      // scheme whose create is a plain last-writer-wins PUT
      VersionedHub.checkAtomicCommitScheme(path)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val writers = (1 to 4).map(i => Future {
        VersionedHub.write(spark,
          Seq((i.toLong, s"v$i")).toDF("k", "v"), path, Seq("k"))
      })
      writers.foreach(Await.result(_, Duration.Inf))
      assert(VersionedHub.read(spark, path).as[(Long, String)]
        .collect().toMap == (1 to 4).map(i => i.toLong -> s"v$i").toMap)
      assert(VersionedHub.history(spark, path).map(_.version) == Seq(1, 2, 3, 4))
      // crash recovery: a winner that claimed but died before the
      // destination write is finished by the NEXT writer on that path
      val fs = new Path(path).getFileSystem(hc)
      val dead = new ObjectStorePutFs {
        override def create(f: Path,
            permission: org.apache.hadoop.fs.permission.FsPermission,
            overwrite: Boolean, bufferSize: Int, replication: Short,
            blockSize: Long, progress: org.apache.hadoop.util.Progressable)
            : org.apache.hadoop.fs.FSDataOutputStream =
          throw new java.io.IOException("died before destination write")
        override def create(f: Path, overwrite: Boolean, bufferSize: Int,
            replication: Short, blockSize: Long,
            progress: org.apache.hadoop.util.Progressable)
            : org.apache.hadoop.fs.FSDataOutputStream =
          throw new java.io.IOException("died before destination write")
      }
      dead.initialize(new java.net.URI("graftos:///"), hc)
      val probe = new Path(s"$path/_probe_manifest")
      intercept[java.io.IOException](
        store.putIfAbsent(dead, probe, "WINNER".getBytes("UTF-8")))
      assert(!fs.exists(probe), "precondition: destination write never ran")
      // the conflicting writer completes the dead winner's write with the
      // WINNER's durable claim content, then reports the conflict
      assert(!store.putIfAbsent(fs, probe, "LOSER".getBytes("UTF-8")))
      val in = fs.open(probe)
      val got = try {
        val buf = new Array[Byte](16)
        val n = in.read(buf)
        new String(buf, 0, n, "UTF-8")
      } finally in.close()
      assert(got == "WINNER", s"recovery must land the claimant's bytes: $got")
    } finally {
      CommitStore.unregister("graftos")
    }
  }

  test("claim-log coordinator: canonical claim keys + vacuum sweeps dropped versions' records") {
    import graft.writers.CommitStore
    import org.apache.hadoop.fs.Path
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftos.impl", classOf[ObjectStorePutFs].getName)
    val claimRoot = java.nio.file.Files
      .createTempDirectory("graft_claims_vac").toFile
    val store = new CommitStore.ClaimLogCommitStore(claimRoot)
    def records(): Set[String] =
      claimRoot.listFiles.map(_.getName).filter(_.startsWith("claim-")).toSet

    // (1) canonical keys: differently-spelled but equivalent destinations
    // take the SAME claim — an uppercase scheme, a dot-segment detour, and
    // an unqualified spelling must all lose to the first claimant instead
    // of each "winning" its own record
    val base = tmpDir("claim_canon")
    val localFs = new Path(s"file://$base").getFileSystem(hc)
    assert(store.putIfAbsent(localFs,
      new Path(s"file://$base/m.json"), "A".getBytes("UTF-8")))
    assert(!store.putIfAbsent(localFs,
      new Path(s"FILE://$base/sub/../m.json"), "B".getBytes("UTF-8")),
      "equivalent spelling (case + dot segments) must hit the same claim")
    assert(!store.putIfAbsent(localFs,
      new Path(s"$base/m.json"), "C".getBytes("UTF-8")),
      "unqualified spelling must qualify to the same claim")
    assert(records().size == 1, s"one destination, one record: ${records()}")

    // (2) retention: the claim log keeps exactly the manifest retention —
    // vacuum sweeps the records of the versions it drops and nothing else
    assert(CommitStore.register("graftos", store).isEmpty)
    try {
      val path = s"graftos://${tmpDir("vhub_claim_vac")}"
      for (i <- 1 to 4)
        VersionedHub.write(spark,
          Seq((i.toLong, s"v$i")).toDF("k", "v"), path, Seq("k"))
      val before = records().size
      assert(before >= 5, s"4 manifests + the canon record: $before")
      val (droppedVs, _) = VersionedHub.vacuum(spark, path, Some(2), 0L)
      assert(droppedVs == Seq(1, 2))
      assert(records().size == before - 2,
        s"exactly the dropped versions' claim records must be swept " +
          s"(${records().size} left of $before)")
      // mutual exclusion AND crash recovery stay intact for live versions:
      // a zombie re-claim of a KEPT manifest still loses
      val fs = new Path(path).getFileSystem(hc)
      val m4 = new Path(new Path(path, "_log"), "00000004.json")
      assert(!store.putIfAbsent(fs, m4, "ZOMBIE".getBytes("UTF-8")),
        "live versions must keep their claims after the sweep")
      assert(VersionedHub.read(spark, path).count() == 4)
    } finally {
      CommitStore.unregister("graftos")
    }
  }

  test("claim-log coordinator: a pre-upgrade raw-path claim is honored, recovered, and swept") {
    import graft.writers.CommitStore
    import org.apache.hadoop.fs.Path
    val hc = spark.sparkContext.hadoopConfiguration
    val claimRoot = java.nio.file.Files
      .createTempDirectory("graft_claims_legacy").toFile
    val store = new CommitStore.ClaimLogCommitStore(claimRoot)
    val base = tmpDir("claim_legacy")
    val p = new Path(s"$base/m.json")
    val fs = p.getFileSystem(hc)
    // simulate a DEAD pre-upgrade winner: old builds keyed claims by
    // md5(path.toString); the claim is durable, the destination write
    // never happened
    val legacyKey = java.security.MessageDigest.getInstance("MD5")
      .digest(p.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.nio.file.Files.write(
      new java.io.File(claimRoot, s"claim-$legacyKey").toPath,
      "OLDWINNER".getBytes("UTF-8"))
    // a post-upgrade writer must LOSE to the legacy claim (no double-win
    // across the upgrade boundary) and finish the dead winner's write
    assert(!store.putIfAbsent(fs, p, "NEW".getBytes("UTF-8")),
      "post-upgrade writer must not re-claim a legacy-claimed destination")
    val in = fs.open(p)
    val got = try {
      val buf = new Array[Byte](16)
      val n = in.read(buf)
      new String(buf, 0, n, "UTF-8")
    } finally in.close()
    assert(got == "OLDWINNER",
      s"recovery must land the legacy claimant's bytes: $got")
    // vacuum/release sweeps the legacy record alongside the canonical key
    store.releaseClaim(fs, p)
    assert(!claimRoot.listFiles.exists(_.getName == s"claim-$legacyKey"),
      "releaseClaim must sweep the legacy record too")
    // with both records gone, the destination is claimable again
    assert(store.putIfAbsent(fs, new Path(s"$base/m2.json"),
      "FRESH".getBytes("UTF-8")))
  }

  test("manifests record per-file min/max stats; untouched buckets carry them across versions") {
    import graft.writers.FileStats
    val path = tmpDir("vh_filestats")
    VersionedHub.writeBucketed(spark,
      (1L to 40L).map(k => (k, s"v$k", k * 2.5)).toDF("k", "v", "d"),
      path, Seq("k"), 4)
    val v1 = VersionedHub.history(spark, path).last
    assert(v1.fileStats.nonEmpty)
    // every recorded file carries typed min/max for every atomic column,
    // and the per-file rows sum to the audit count
    assert(v1.fileStats.values.map(_.rows).sum == v1.rows)
    for ((p, f) <- v1.fileStats; c <- Seq("k", "v", "d")) {
      val s = f.cols.getOrElse(c, fail(s"$p lacks stats for $c"))
      assert(s.min.isDefined && s.max.isDefined && s.nullCount.contains(0L), s"$p/$c: $s")
    }
    // global min/max across files must bracket the actual data
    val kMins = v1.fileStats.values.map(_.cols("k").min.get.asInstanceOf[Long])
    val kMaxs = v1.fileStats.values.map(_.cols("k").max.get.asInstanceOf[Long])
    assert(kMins.min == 1L && kMaxs.max == 40L)
    assert(v1.fileStats.values.flatMap(_.cols("v").min).toSeq.contains("v1") ||
      v1.fileStats.values.flatMap(_.cols("v").min)
        .forall(_.isInstanceOf[String]))
    // a touched-bucket upsert re-records ONLY the rewritten dirs' files and
    // carries the untouched buckets' entries byte-identically
    VersionedHub.writeBucketed(spark,
      Seq((1L, "V1", -9.0)).toDF("k", "v", "d"), path, Seq("k"), 4)
    val v2 = VersionedHub.history(spark, path).last
    val untouched = (v2.buckets.toSet intersect v1.buckets.toSet).flatMap(_._2)
    assert(untouched.nonEmpty)
    for (d <- untouched) {
      val olds = v1.fileStats.filter(_._1.startsWith(d + "/"))
      assert(olds.nonEmpty && olds.forall { case (p, st) =>
        v2.fileStats.get(p).contains(st) }, s"carried stats drifted under $d")
    }
    // the rewritten bucket reflects the new extreme
    val dMins = v2.fileStats.values.flatMap(_.cols("d").min)
      .map(_.asInstanceOf[Double])
    assert(dMins.min == -9.0)
    // stats survive the manifest JSON round-trip type-exactly (Long stays
    // Long, Double stays Double, String stays String)
    assert(v2.fileStats.values.flatMap(_.cols("k").min)
      .forall(_.isInstanceOf[Long]))
    assert(v2.fileStats.values.flatMap(_.cols("d").max)
      .forall(_.isInstanceOf[Double]))
    // compaction re-records the compacted dirs and carries the rest
    VersionedHub.compactBuckets(spark, path)
    val v3 = VersionedHub.history(spark, path).last
    assert(v3.fileStats.nonEmpty &&
      v3.fileStats.values.map(_.rows).sum == v3.rows)
    assert(FileStats.decodeScalar(FileStats.encodeScalar(1.0E10))
      .contains(1.0E10))
    assert(FileStats.decodeScalar(FileStats.encodeScalar("S:x"))
      .contains("S:x"))
  }
}

/** A local filesystem under a scheme resolvable ONLY through the conf key
  * `fs.grafttest.impl` — the probe for hadoop-conf propagation into
  * executor-side parquet footer reads ([[graft.writers.FileStats.collect]]).
  * Paths translate `grafttest://` ↔ `file://` around a RawLocalFileSystem
  * delegate (a plain scheme-override subclass trips RawLocal's permission
  * loader, which insists on `file:` URIs).
  */
class ConfOnlyFs extends org.apache.hadoop.fs.FileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path => HPath}
  private val local = new org.apache.hadoop.fs.RawLocalFileSystem
  private def toLocal(p: HPath) = new HPath("file", null, p.toUri.getPath)
  private def remap(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime,
      new HPath("grafttest", null, st.getPath.toUri.getPath))
  override def initialize(uri: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    local.initialize(java.net.URI.create("file:///"), conf)
  }
  override def getUri: java.net.URI = java.net.URI.create("grafttest:///")
  override def open(f: HPath, b: Int): FSDataInputStream =
    local.open(toLocal(f), b)
  override def create(f: HPath,
      p: org.apache.hadoop.fs.permission.FsPermission, o: Boolean, bu: Int,
      r: Short, bs: Long,
      pr: org.apache.hadoop.util.Progressable): FSDataOutputStream =
    local.create(toLocal(f), p, o, bu, r, bs, pr)
  override def append(f: HPath, b: Int,
      pr: org.apache.hadoop.util.Progressable): FSDataOutputStream =
    local.append(toLocal(f), b, pr)
  override def rename(a: HPath, b: HPath): Boolean =
    local.rename(toLocal(a), toLocal(b))
  override def delete(f: HPath, r: Boolean): Boolean =
    local.delete(toLocal(f), r)
  override def listStatus(f: HPath): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(remap)
  override def setWorkingDirectory(d: HPath): Unit =
    local.setWorkingDirectory(toLocal(d))
  override def getWorkingDirectory: HPath = new HPath("grafttest:///")
  override def mkdirs(f: HPath,
      p: org.apache.hadoop.fs.permission.FsPermission): Boolean =
    local.mkdirs(toLocal(f), p)
  override def getFileStatus(f: HPath): FileStatus =
    remap(local.getFileStatus(toLocal(f)))
}
