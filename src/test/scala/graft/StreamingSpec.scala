package graft

import graft.queries.Tables
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming incremental dedup over several micro-batches equals the batch probe") {
    import graft.operators.Dedup
    val lake = tmpDir("inc_stream")
    val docs = graft.queries.Tables(spark, "/root/testdata/sf0.001", "documents")
    val index = Dedup.lshIndexEntries(
      docs.filter($"doc_id" % 4 =!= 0), "text", "doc_id")
    val batch = docs.filter($"doc_id" % 4 === 0).select($"doc_id", $"text")
    batch.repartition(3).write.parquet(s"$lake/src")
    Dedup.incrementalNearDups(index, batch.limit(0), "text", "doc_id", 0.5)
      .write.parquet(s"$lake/out")
    var nBatches = 0
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) nBatches += 1
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val stream = spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$lake/src")
      StreamingIngest.incrementalDedupStream(stream, index, "text", "doc_id",
        0.5, s"$lake/out", s"$lake/cp").awaitTermination()
      spark.streams.listListeners() // flush nothing; listener events are async
      Thread.sleep(500)
      assert(nBatches >= 2, s"must process several micro-batches, saw $nBatches")
      val streamed = spark.read.parquet(s"$lake/out")
        .as[(Long, Long, Double)].collect().toSet
      val oneShot = Dedup.incrementalNearDups(index, batch, "text", "doc_id", 0.5)
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == oneShot, s"streamed=${streamed.size} batch=${oneShot.size}")
      assert(oneShot.nonEmpty, "split corpus must produce cross-split matches")
    } finally spark.streams.removeListener(listener)
  }

  test("growing-index streaming dedup equals the sequential fold, exactly-once per batch") {
    import graft.operators.Dedup
    import graft.writers.VersionedHub
    val lake = tmpDir("grow_stream")
    val docs = graft.queries.Tables(spark, "/root/testdata/sf0.001", "documents")
    val old = docs.filter($"doc_id" % 4 =!= 0)
    val batchAll = docs.filter($"doc_id" % 4 === 0).select($"doc_id", $"text")
    val indexHub = s"$lake/index"
    val matchesHub = s"$lake/matches"
    VersionedHub.writeBucketed(spark,
      Dedup.lshIndexEntries(old, "text", "doc_id"), indexHub,
      Seq("doc_id", "band"), nBuckets = 4)
    // three single-file groups with stepped modification times, so the file
    // source's processing order (modTime, then path) is exactly g0, g1, g2
    val srcDir = new java.io.File(s"$lake/src"); srcDir.mkdirs()
    val groups = (0 until 3).map(i => batchAll.filter($"doc_id" % 3 === i))
    groups.zipWithIndex.foreach { case (g, i) =>
      val stage = s"$lake/stage$i"
      g.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"b$i%d.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(1000000000000L + i * 60000L))
    }
    val stream = spark.readStream.schema(batchAll.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$lake/src")
    StreamingIngest.growingIndexDedupStream(stream, indexHub, matchesHub,
      nBuckets = 4, "text", "doc_id", 0.5, s"$lake/cp").awaitTermination()
    // sequential reference fold over the same groups in the same order
    var foldIndex = Dedup.lshIndexEntries(old, "text", "doc_id")
    val foldMatches = scala.collection.mutable.Set[(Long, Long)]()
    groups.foreach { g =>
      foldMatches ++= Dedup.incrementalNearDups(foldIndex, g, "text",
        "doc_id", 0.5).select($"new_id", $"old_id")
        .as[(Long, Long)].collect()
      foldIndex = foldIndex.unionByName(Dedup.lshIndexEntries(
        Dedup.incrementalSurvivors(foldIndex, g, "text", "doc_id", 0.5),
        "text", "doc_id"))
    }
    val streamedMatches = VersionedHub.read(spark, matchesHub)
      .select($"new_id", $"old_id").as[(Long, Long)].collect().toSet
    assert(streamedMatches == foldMatches.toSet,
      s"streamed=${streamedMatches.size} fold=${foldMatches.size}")
    val streamedIds = VersionedHub.read(spark, indexHub)
      .select($"doc_id").distinct().as[Long].collect().toSet
    val foldIds = foldIndex.select($"doc_id").distinct()
      .as[Long].collect().toSet
    assert(streamedIds == foldIds, "final index holds old + surviving ids")
    // one seed + one version per micro-batch, each carrying its batch id
    val hist = VersionedHub.history(spark, indexHub)
    assert(hist.size == 4, s"versions: ${hist.map(_.version)}")
    assert(hist.drop(1).flatMap(_.batchId).distinct.size == 3,
      "every post-seed version records its micro-batch id (exactly-once)")
  }

  test("streaming span trim over id-ordered batches equals the one-shot trim") {
    import graft.operators.Dedup
    import graft.writers.VersionedHub
    val lake = tmpDir("span_stream")
    val corpus = Seq(
      (1L, "a b c d e f"),            // batch 0: keeper of a..d
      (2L, "fresh words only here"),  // batch 0
      (10L, "a b c d q r"),           // batch 1: cut against batch 0
      (11L, "fresh words only here"), // batch 1: verbatim batch-0 doc
      (12L, "w w w unique tail x")    // batch 1: untouched
    ).toDF("doc_id", "text")
    val srcDir = new java.io.File(s"$lake/src"); srcDir.mkdirs()
    Seq(corpus.filter($"doc_id" < 10), corpus.filter($"doc_id" >= 10))
      .zipWithIndex.foreach { case (half, i) =>
        val stage = s"$lake/stage$i"
        half.coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(srcDir, s"b$i.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        assert(dst.setLastModified(1000000000000L + i * 60000L))
      }
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$lake/src")
    StreamingIngest.spanTrimStream(stream, s"$lake/idx", s"$lake/trimmed",
      nBuckets = 4, "text", "doc_id", k = 3, s"$lake/cp")
      .awaitTermination()
    val streamed = VersionedHub.read(spark, s"$lake/trimmed")
      .select($"doc_id", $"n_tokens", $"n_tokens_kept", $"text_trimmed")
      .as[(Long, Long, Long, String)].collect().toSet
    val oneShot = Dedup.trimDuplicatedSpans(corpus, "text", "doc_id", k = 3)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
    // the cross-batch cut really happened
    val byId = streamed.map(r => r._1 -> r).toMap
    assert(byId(10L)._4 == "q r" && byId(11L)._4 == "")
    // one version per micro-batch on both hubs, batch ids recorded
    assert(VersionedHub.history(spark, s"$lake/idx")
      .flatMap(_.batchId).distinct.size == 2)
    assert(VersionedHub.history(spark, s"$lake/trimmed")
      .flatMap(_.batchId).distinct.size == 2)
    // the persisted index is corpus-GLOBAL after the cumulative upsert fix:
    // occ sums across batches, keep is the corpus-global first occurrence —
    // byte-identical to the one-shot index over the full corpus
    val streamedIdx = VersionedHub.read(spark, s"$lake/idx")
      .select($"h", $"occ", $"keep").as[(Long, Long, Long)].collect().toSet
    val oneShotIdx = Dedup.spanIndexEntries(corpus, "text", "doc_id", k = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamedIdx == oneShotIdx,
      s"streamed index must equal the one-shot spanIndexEntries")
  }

  test("writeStream.format(graft-hub) commits one idempotent merge version per micro-batch") {
    import graft.writers.VersionedHub
    val lake = tmpDir("hub_sink")
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    def run(): Unit = {
      val q = StreamingIngest.parquetStream(spark, src,
        Seq((0L, "x")).toDF("k", "v"))
        .writeStream.format("graft-hub")
        .option("path", s"$lake/hub").option("keys", "k")
        .option("checkpointLocation", s"$lake/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("append").parquet(src)
    run()
    assert(VersionedHub.read(spark, s"$lake/hub").as[(Long, String)]
      .collect().toMap == Map(1L -> "a", 2L -> "b"))
    // restart with an update + insert: exactly-once keyed upsert
    Seq((2L, "B"), (3L, "c")).toDF("k", "v").write.mode("append").parquet(src)
    run()
    assert(VersionedHub.read(spark, s"$lake/hub").as[(Long, String)]
      .collect().toMap == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // one version per micro-batch, each recording its engine batchId
    val hist = VersionedHub.history(spark, s"$lake/hub")
    assert(hist.flatMap(_.batchId).sorted == Seq(0L, 1L), s"$hist")
    // idle restart: no new version
    run()
    assert(VersionedHub.history(spark, s"$lake/hub").size == hist.size)
    // Complete mode is refused loudly
    val e = intercept[Exception] {
      spark.readStream.format("graft-hub").option("path", s"$lake/hub").load()
        .groupBy($"k").count()
        .writeStream.format("graft-hub")
        .option("path", s"$lake/hub2").option("keys", "k")
        .option("checkpointLocation", s"$lake/cp2")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(e.getMessage.contains("Complete mode") ||
      Option(e.getCause).exists(_.getMessage.contains("Complete mode")),
      s"got: ${e.getMessage}")
  }

  test("maxVersionsPerTrigger bounds how many commits one trigger may swallow") {
    import graft.writers.VersionedHub
    import org.apache.spark.sql.DataFrame
    val lake = tmpDir("hub_rate")
    val hub = s"$lake/hub"
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    def run(): Unit = {
      val q = spark.readStream.format("graft-hub").option("path", hub)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          ends += b.count().toInt; ()
        }
        .option("checkpointLocation", s"$lake/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // v1..v3: each touches ONE key so per-version batch sizes are small
    VersionedHub.writeBucketed(spark,
      (1L to 9L).map(k => (k, s"v$k")).toDF("k", "v"), hub, Seq("k"), 4)
    run() // fresh stream: uncapped catch-up (no committed anchor)
    assert(ends == Seq(9), s"catch-up delivers the snapshot: $ends")
    VersionedHub.writeBucketed(spark, Seq((1L, "A")).toDF("k", "v"),
      hub, Seq("k"), 4)
    VersionedHub.writeBucketed(spark, Seq((2L, "B")).toDF("k", "v"),
      hub, Seq("k"), 4)
    // one RESUMED run with two pending commits: the cap forces them into
    // separate version steps instead of one v1->v3 swallow — each batch
    // carries exactly one commit's touched-bucket content
    run()
    assert(ends.length >= 3, s"capped runs must step one version at a time: $ends")
    // every post-catch-up batch is a single commit's touched buckets —
    // strictly smaller than the snapshot
    assert(ends.drop(1).forall(_ < 9), s"capped batches re-delivered too much: $ends")
  }

  test("streaming tails a CONVERT-PARTITIONED hub with path columns materialized") {
    import graft.writers.VersionedHub
    import org.apache.spark.sql.DataFrame
    val lake = tmpDir("hub_padopt_stream")
    val hub = s"$lake/hub"
    (1L to 8L).map(k => (k, java.sql.Date.valueOf(f"2024-05-0${k % 2 + 1}%d")))
      .toDF("k", "ingest_date")
      .write.partitionBy("ingest_date").parquet(hub)
    assert(VersionedHub.convertPartitioned(spark, hub) == 1)
    VersionedHub.write(spark,
      Seq((9L, java.sql.Date.valueOf("2024-05-09"))).toDF("k", "ingest_date"),
      hub, Seq("k"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format("graft-hub").option("path", hub).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen ++= b.collect().map(r =>
          (r.getAs[Long]("k"), String.valueOf(r.getAs[java.sql.Date]("ingest_date"))))
        ()
      }
      .option("checkpointLocation", s"$lake/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // catch-up snapshot + the upsert step: every adopted row carries its
    // name-encoded partition value, the new row its physical one
    assert(seen.size == 9, s"got $seen")
    assert(seen.toMap.apply(1L) == "2024-05-02" &&
      seen.toMap.apply(2L) == "2024-05-01" &&
      seen.toMap.apply(9L) == "2024-05-09", s"got $seen")
    assert(seen.forall(_._2 != "null"), s"path column lost in stream: $seen")
  }

  test("maxBytesPerTrigger bounds admitted versions by manifest bytes; caps compose") {
    import graft.writers.VersionedHub
    import org.apache.spark.sql.DataFrame
    val lake = tmpDir("hub_byterate")
    val hub = s"$lake/hub"
    VersionedHub.writeBucketed(spark,
      (1L to 9L).map(k => (k, s"v$k")).toDF("k", "v"), hub, Seq("k"), 4)
    val steps = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(cap: Long): Unit = {
      val q = spark.readStream.format("graft-hub").option("path", hub)
        .option("maxBytesPerTrigger", cap.toString).load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) => steps += b.count(); () }
        .option("checkpointLocation", s"$lake/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run(1L) // fresh stream: the catch-up snapshot is never split
    assert(steps == Seq(9L), s"catch-up delivers the snapshot whole: $steps")
    // three pending small commits + a compaction-sized one: a 1-byte cap
    // degrades to one version per trigger (soft cap admits the first)...
    for (k <- Seq(1L, 2L, 3L))
      VersionedHub.writeBucketed(spark, Seq((k, s"B$k")).toDF("k", "v"),
        hub, Seq("k"), 4)
    steps.clear()
    run(1L)
    assert(steps.length == 3,
      s"a tiny byte cap must step one version at a time: $steps")
    // ...while a generous cap drains a multi-commit backlog in one batch
    for (k <- Seq(4L, 5L))
      VersionedHub.writeBucketed(spark, Seq((k, s"C$k")).toDF("k", "v"),
        hub, Seq("k"), 4)
    steps.clear()
    run(1L << 40)
    assert(steps.length == 1,
      s"a generous byte cap must drain the backlog in one step: $steps")
    // both admission clocks at once compose (Delta parity): the trigger
    // stops at whichever limit binds first
    def runBoth(bytes: Long, versions: Int): Unit = {
      val q = spark.readStream.format("graft-hub").option("path", hub)
        .option("maxBytesPerTrigger", bytes.toString)
        .option("maxVersionsPerTrigger", versions.toString).load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) => steps += b.count(); () }
        .option("checkpointLocation", s"$lake/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    for (k <- Seq(6L, 7L))
      VersionedHub.writeBucketed(spark, Seq((k, s"D$k")).toDF("k", "v"),
        hub, Seq("k"), 4)
    steps.clear()
    runBoth(1L << 40, 1) // huge byte budget: the VERSION cap binds
    assert(steps.length == 2,
      s"version cap must bind under a huge byte budget: $steps")
    for (k <- Seq(8L, 9L))
      VersionedHub.writeBucketed(spark, Seq((k, s"E$k")).toDF("k", "v"),
        hub, Seq("k"), 4)
    steps.clear()
    runBoth(1L, 10) // generous version cap: the BYTE budget binds
    assert(steps.length == 2,
      s"byte cap must bind under a generous version cap: $steps")
  }

  test("graft-hub streaming source tails commits incrementally, exactly-once across restarts and replays") {
    import graft.writers.VersionedHub
    import org.apache.spark.sql.DataFrame
    val lake = tmpDir("hub_tail")
    val hub = s"$lake/hub"
    val acc = s"$lake/acc"
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format("graft-hub").option("path", hub).load()
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val rows = graft.operators.Dedup.persistForReuse(b)
          try {
            batchSizes += rows.count()
            VersionedHub.writeBucketed(rows.sparkSession, rows, acc,
              Seq("k"), 4, batchId = Some(id))
          } finally rows.unpersist()
          ()
        }
        .option("checkpointLocation", s"$lake/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def content(path: String): Map[Long, String] =
      VersionedHub.read(spark, path).as[(Long, String)].collect().toMap
    // v1 + v2 exist before the stream starts: first batch = snapshot
    VersionedHub.writeBucketed(spark,
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), hub, Seq("k"), 4)
    VersionedHub.writeBucketed(spark,
      Seq((2L, "V2"), (21L, "new")).toDF("k", "v"), hub, Seq("k"), 4)
    run()
    assert(content(acc) == content(hub), "accumulated == snapshot after catch-up")
    assert(batchSizes.last == 21L, s"first batch is the full snapshot: $batchSizes")
    // restart with nothing new: no batch at all (offset unchanged)
    val versionsBefore = VersionedHub.history(spark, acc).size
    run()
    assert(VersionedHub.history(spark, acc).size == versionsBefore,
      "an up-to-date restart must not re-deliver")
    // a new commit is delivered INCREMENTALLY: only its touched buckets
    VersionedHub.writeBucketed(spark,
      Seq((5L, "V5")).toDF("k", "v"), hub, Seq("k"), 4)
    run()
    assert(content(acc) == content(hub), "incremental upsert reaches the snapshot")
    assert(batchSizes.last < 21L,
      s"delta batch must carry only touched buckets, got ${batchSizes.last}")
    // crash replay: drop the last streaming commit marker — the engine
    // re-runs the batch; the sink's batchId idempotence keeps exactly-once
    val commits = new java.io.File(s"$lake/cp/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(s"$lake/cp/commits/.${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete()) // local-FS checksum sidecar
    val accVersions = VersionedHub.history(spark, acc).size
    run()
    assert(content(acc) == content(hub), "replayed batch converges")
    assert(VersionedHub.history(spark, acc).size == accVersions,
      "replayed batch short-circuits on its batchId (no duplicate version)")
  }

  test("streaming startingVersion/startingTimestamp skip the catch-up snapshot (Delta parity)") {
    import graft.writers.VersionedHub
    import org.apache.spark.sql.DataFrame
    val lake = tmpDir("hub_startv")
    val hub = s"$lake/hub"
    VersionedHub.writeBucketed(spark,
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), hub, Seq("k"), 4) // v1
    VersionedHub.writeBucketed(spark,
      Seq((2L, "V2"), (21L, "new")).toDF("k", "v"), hub, Seq("k"), 4) // v2
    val ts2 = VersionedHub.history(spark, hub).last.ts
    def drain(opts: Map[String, String], cp: String)
        : Seq[org.apache.spark.sql.Row] = {
      val got = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      var r = spark.readStream.format("graft-hub").option("path", hub)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().writeStream
        .foreachBatch { (b: DataFrame, _: Long) => got ++= b.collect(); () }
        .option("checkpointLocation", s"$lake/$cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.toSeq
    }
    // startingVersion=2: the fresh stream's first batch is v2's change
    // step (touched buckets only), NOT the 21-row catch-up snapshot
    val byV = drain(Map("startingVersion" -> "2"), "cp_v")
    val byVSet = byV.map(r => (r.getLong(0), r.getString(1))).toSet
    assert(byV.size < 21 && Set((2L, "V2"), (21L, "new")).subsetOf(byVSet),
      s"expected v2's touched-bucket rows, got $byVSet")
    // startingTimestamp at v2's commit instant resolves to the same start
    val byTs = drain(Map("startingTimestamp" -> ts2.toString), "cp_ts")
    assert(byTs.map(r => (r.getLong(0), r.getString(1))).toSet == byVSet)
    // CDF mode from v2: row-level net changes, no snapshot
    val byCdf = drain(Map("startingVersion" -> "2",
      "readChangeFeed" -> "true", "keys" -> "k"), "cp_cdf")
    assert(byCdf.map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((2L, "v2", "update_preimage"), (2L, "V2", "update_postimage"),
        (21L, "new", "insert")))
    // refusal matrix: ending bounds are batch-only; the start options are
    // mutually exclusive; a post-history startingTimestamp is refused
    def startFails(opts: Map[String, String], cp: String): String =
      intercept[Exception](drain(opts, cp)).getMessage
    assert(startFails(Map("endingVersion" -> "2"), "cp_e1")
      .contains("BATCH"))
    assert(startFails(Map("startingVersion" -> "2",
      "startingTimestamp" -> ts2.toString), "cp_e2")
      .contains("mutually exclusive"))
    assert(startFails(Map("startingTimestamp" -> (ts2 + 100000).toString),
      "cp_e3").contains("at or after"))
    // a version bound beyond latest+1 is a typo, refused like the
    // post-history timestamp (latest+1 = "changes from now on" is fine)
    assert(startFails(Map("startingVersion" -> "30"), "cp_e4")
      .contains("beyond the latest"))
  }

  test("span-trim replay never probes its own index entries (index-committed, trim-lost crash)") {
    import graft.operators.Dedup
    import graft.writers.VersionedHub
    val lake = tmpDir("span_replay")
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "fresh words only here"),
      (10L, "a b c d q r"),
      (11L, "fresh words only here"),
      (12L, "w w w unique tail x")
    ).toDF("doc_id", "text")
    val batch0 = corpus.filter($"doc_id" < 10)
    // Simulate the crash the advice describes: batch 0's INDEX commit
    // landed (batchId=0) but its TRIM commit did not, and the driver died
    // before the checkpoint advanced — so micro-batch 0 will replay against
    // an index that already holds its own window hashes. The replayed trim
    // must probe the index AS OF before that commit (here: empty), not the
    // tip — otherwise every batch-0 window matches `_inIdx` and first
    // occurrences are permanently over-trimmed.
    VersionedHub.writeBucketed(spark,
      Dedup.spanIndexEntries(batch0, "text", "doc_id", k = 3),
      s"$lake/idx", Seq("h"), nBuckets = 4, batchId = Some(0L))
    val srcDir = new java.io.File(s"$lake/src"); srcDir.mkdirs()
    Seq(batch0, corpus.filter($"doc_id" >= 10)).zipWithIndex.foreach {
      case (half, i) =>
        val stage = s"$lake/stage$i"
        half.coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(srcDir, s"b$i.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        assert(dst.setLastModified(1000000000000L + i * 60000L))
    }
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$lake/src")
    StreamingIngest.spanTrimStream(stream, s"$lake/idx", s"$lake/trimmed",
      nBuckets = 4, "text", "doc_id", k = 3, s"$lake/cp")
      .awaitTermination()
    val streamed = VersionedHub.read(spark, s"$lake/trimmed")
      .select($"doc_id", $"n_tokens", $"n_tokens_kept", $"text_trimmed")
      .as[(Long, Long, Long, String)].collect().toSet
    val oneShot = Dedup.trimDuplicatedSpans(corpus, "text", "doc_id", k = 3)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == oneShot,
      s"replayed batch over-trimmed: streamed=$streamed oneShot=$oneShot")
    // batch 0's keepers survived intact — the over-trim signature is gone
    val byId = streamed.map(r => r._1 -> r).toMap
    assert(byId(1L)._4 == "a b c d e f" && byId(2L)._4 == "fresh words only here")
    // and the replayed index commit short-circuited: still exactly one
    // version per batch id on the index hub
    assert(VersionedHub.history(spark, s"$lake/idx")
      .flatMap(_.batchId).sorted == Seq(0L, 1L))
  }

  test("span-trim housekeeping bounds versions/files without disturbing reads mid-stream") {
    import graft.operators.Dedup
    import graft.writers.VersionedHub
    val lake = tmpDir("span_housekeep")
    val corpus = (1L to 40L)
      .map(i => (i, if (i % 10 == 0) "shared run of tokens here now"
                    else s"doc $i unique words ${i * 7} and ${i * 13} tail"))
      .toDF("doc_id", "text")
    val srcDir = new java.io.File(s"$lake/src"); srcDir.mkdirs()
    def addFile(half: org.apache.spark.sql.DataFrame, i: Int): Unit = {
      val stage = s"$lake/stage$i"
      half.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"b$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(1000000000000L + i * 60000L))
    }
    def run(): Unit = {
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$lake/src")
      // housekeep every batch, sweep immediately (single writer, test-only)
      StreamingIngest.spanTrimStream(stream, s"$lake/idx", s"$lake/trimmed",
        nBuckets = 4, "text", "doc_id", k = 3, s"$lake/cp",
        housekeepEvery = 1, housekeepRetainMs = 0L).awaitTermination()
    }
    def slice(i: Int) =
      corpus.filter($"doc_id" > i * 10L && $"doc_id" <= (i + 1) * 10L)
    (0 until 2).foreach(i => addFile(slice(i), i))
    run()
    // mid-lifecycle read between runs: content already correct and readable
    assert(VersionedHub.read(spark, s"$lake/trimmed").count() == 20)
    (2 until 4).foreach(i => addFile(slice(i), i))
    run()
    // id-ordered arrival ⇒ the streamed lifecycle equals the one-shot trim
    // byte for byte, housekeeping or not
    val trimmed = VersionedHub.read(spark, s"$lake/trimmed")
    val streamedSet = trimmed
      .select($"doc_id", $"n_tokens", $"n_tokens_kept", $"text_trimmed")
      .as[(Long, Long, Long, String)].collect().toSet
    val oneShotSet = Dedup.trimDuplicatedSpans(corpus, "text", "doc_id", k = 3)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamedSet == oneShotSet)
    assert(trimmed.select($"doc_id").distinct().count() == 40)
    // housekeeping bounded the LOG: ≤ HousekeepKeepVersions manifests per
    // hub (4 batches committed + compactions, vacuumed down each batch)
    for (hub <- Seq(s"$lake/idx", s"$lake/trimmed")) {
      val hist = VersionedHub.history(spark, hub)
      assert(hist.size <= StreamingIngest.HousekeepKeepVersions,
        s"$hub versions=${hist.size}")
      // storage bounded too: every surviving data root is referenced by a
      // kept manifest (orphans swept), and compaction left single-file dirs
      val roots = new java.io.File(hub, "data").listFiles().map(_.getName).toSet
      val referenced = hist.flatMap(_.dirs.map(
        _.stripPrefix("data/").takeWhile(_ != '/'))).toSet
      assert(roots.forall(referenced.contains),
        s"$hub unswept orphan roots: ${roots.diff(referenced)}")
    }
    // and reads remained trim-correct: re-trim of any already-seen doc text
    // agrees with the one-shot cut for the duplicated run
    val dupRows = trimmed.filter($"doc_id" % 10 === 0)
      .select($"doc_id", $"text_trimmed").as[(Long, String)].collect().toMap
    val keeper = dupRows.keys.min
    assert(dupRows(keeper) == "shared run of tokens here now")
    assert(dupRows.filter(_._1 != keeper).values.forall(_ == ""),
      s"later copies of the shared run must be fully cut: $dupRows")
  }

  test("windowed streaming agg matches the batch rollup on the same data") {
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    // run the same plan in batch mode (streaming/batch unification)
    val batchResult = StreamingIngest.windowedEventCounts(events)
      .orderBy(col("window_start"), col("event_type"))
    val expected = events
      .withColumn("window_start", date_trunc("hour", col("ts")))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("window_start"), col("event_type"))
    val got = batchResult.select($"window_start", $"event_type", $"n_events")
      .collect().toSeq
    assert(got == expected.collect().toSeq)
  }

  test("bucketed streaming upsert merges via partial-bucket rewrites") {
    import graft.writers.VersionedHub
    val lake = tmpDir("slake4")
    val hub = s"$lake/hub"
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    VersionedHub.writeBucketed(spark,
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), hub, Seq("id"), 8)
    val before = VersionedHub.history(spark, hub).last.buckets
    Seq((42L, "UPDATED"), (101L, "new")).toDF("id", "v")
      .write.mode("append").parquet(src)
    // the graft-hub sink merges through the hub's recorded bucket layout
    StreamingIngest.parquetStream(spark, src, Seq((0L, "x")).toDF("id", "v"))
      .writeStream.format("graft-hub")
      .option("path", hub).option("keys", "id")
      .option("checkpointLocation", s"$lake/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val after = VersionedHub.history(spark, hub).last
    assert(after.version == 2 && after.nBuckets.contains(8))
    // exactly the buckets the two keys hash to are rewritten; every other
    // bucket dir is shared with the seed version
    val touched = Seq(42L, 101L).toDF("id")
      .select(pmod(xxhash64(graft.writers.HubWriter.canonicalKey(
        $"id", org.apache.spark.sql.types.LongType)), lit(8)).cast("int"))
      .as[Int].collect().toSet
    val changed = (before.keySet ++ after.buckets.keySet)
      .filter(b => before.get(b) != after.buckets.get(b))
    assert(changed == touched, s"rewrote $changed, touched $touched")
    val out = VersionedHub.read(spark, hub).as[(Long, String)].collect().toMap
    assert(out.size == 101)
    assert(out(42L) == "UPDATED" && out(101L) == "new" && out(43L) == "v43")
  }

  test("streaming dedup keeps first arrival per fingerprint across batches") {
    val lake = tmpDir("slake3")
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    Seq((1L, "hello world", ts(0)), (2L, "  hello   world ", ts(1)),
      (3L, "unique doc", ts(2)), (4L, "hello world", ts(3)))
      .toDF("id", "text", "ts")
      .write.mode("append").parquet(src)
    val stream = StreamingIngest.parquetStream(spark, src,
      Seq((0L, "x", t0)).toDF("id", "text", "ts"))
    val q = StreamingIngest.dedupStream(stream, "text", "ts", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.sql("SELECT id FROM dedup_out").as[Long].collect().toSet
    // 1/2/4 share a fingerprint (whitespace variants): exactly one survives
    // (arbitrary within a micro-batch); the unique doc 3 always survives
    assert(ids.contains(3L) && ids.size == 2 &&
      (ids - 3L).subsetOf(Set(1L, 2L, 4L)), s"got $ids")
  }

  test("banded stream-stream join matches only within the time band") {
    val lake = tmpDir("slake4")
    val (lsrc, rsrc) = (s"$lake/l", s"$lake/r")
    new java.io.File(lsrc).mkdirs(); new java.io.File(rsrc).mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // left: impressions; right: clicks. user 1 clicks in-band (2 min),
    // user 2 clicks out-of-band (30 min), user 3 never clicks.
    Seq((1L, ts(0)), (2L, ts(0)), (3L, ts(0))).toDF("user_id", "imp_ts")
      .write.mode("append").parquet(lsrc)
    Seq((1L, ts(2)), (2L, ts(30))).toDF("user_id", "click_ts")
      .write.mode("append").parquet(rsrc)
    val l = StreamingIngest.parquetStream(spark, lsrc,
      Seq((0L, t0)).toDF("user_id", "imp_ts"))
    val r = StreamingIngest.parquetStream(spark, rsrc,
      Seq((0L, t0)).toDF("user_id", "click_ts"))
    val q = StreamingIngest.bandedStreamJoin(
        l, r, "user_id", "imp_ts", "click_ts", bandSeconds = 600)
      .writeStream.outputMode("append")
      .format("memory").queryName("join_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val users = spark.sql("SELECT user_id FROM join_out").as[Long].collect().toSet
    assert(users == Set(1L), s"only the in-band click joins, got $users")
  }

  test("stream-static enrichment keeps every event and broadcasts the dim") {
    val lake = tmpDir("slake5")
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    Seq((1L, 10.0), (2L, 20.0), (99L, 5.0)).toDF("user_id", "value")
      .write.mode("append").parquet(src)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val stream = StreamingIngest.parquetStream(spark, src,
      Seq((0L, 0.0)).toDF("user_id", "value"))
    val q = StreamingIngest.enrichStream(stream, dim, Seq("user_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.sql("SELECT user_id, tier FROM enrich_out")
      .as[(Long, Option[String])].collect().toMap
    // left join: unmatched user 99 survives with a null tier
    assert(rows == Map(1L -> Some("gold"), 2L -> Some("silver"), 99L -> None))
  }

  test("streaming quality gate filters rows statelessly") {
    val lake = tmpDir("slake6")
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    val good = ("the quick brown fox is on the mat with a dog and a cat " * 8).trim
    Seq((1L, good), (2L, "zzz")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val stream = StreamingIngest.parquetStream(spark, src,
      Seq((0L, "x")).toDF("doc_id", "text"))
    val q = StreamingIngest.qualityFilterStream(stream, "text", 0.5)
      .writeStream.outputMode("append")
      .format("memory").queryName("quality_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.sql("SELECT doc_id FROM quality_out").as[Long].collect().toSet
    assert(ids == Set(1L), s"only the high-quality doc passes, got $ids")
  }

  test("enrichStream rejects a streaming dimension") {
    val lake = tmpDir("slake7")
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    Seq((1L, 1.0)).toDF("user_id", "value").write.mode("append").parquet(src)
    val s1 = StreamingIngest.parquetStream(spark, src,
      Seq((0L, 0.0)).toDF("user_id", "value"))
    val s2 = StreamingIngest.parquetStream(spark, src,
      Seq((0L, 0.0)).toDF("user_id", "value"))
    intercept[IllegalArgumentException] {
      StreamingIngest.enrichStream(s1, s2, Seq("user_id"))
    }
  }

  test("true streaming execution: memory sink receives windowed aggregates") {
    val lake = tmpDir("slake2")
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    Tables(spark, "/root/testdata/sf0.001", "events")
      .write.mode("append").parquet(src)
    val stream = StreamingIngest.parquetStream(
      spark, src, Tables(spark, "/root/testdata/sf0.001", "events"))
    val agg = StreamingIngest.windowedEventCounts(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = spark.sql("SELECT sum(n_events) FROM win_out").collect()(0).getLong(0)
    assert(n == 1000L, "all events flow through the windowed stream")
  }

  // ---- state-bound gates: the equivalence tests above prove RESULTS; these
  // prove the state store stays ≤ f(watermark, band, users) on a growing
  // input — the property that decides whether a deployment survives day two
  // at 100 TB/day. Bounds read from StreamingQueryProgress.stateOperators
  // (numRowsTotal), the same numbers an operator watches in production.

  /** Max Σ numRowsTotal across all progress reports of a finished query. */
  private def maxStateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.map(_.stateOperators.map(_.numRowsTotal).sum)
      .foldLeft(0L)(math.max)

  test("sessionize state is O(active users), not O(events)") {
    val lake = tmpDir("sbound1")
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    val nUsers = 20
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime * 1000L
    // 5 files × 100 events: every user active in every file, time advancing
    for (f <- 0 until 5) {
      (0 until 100).map { i =>
        (i.toLong % nUsers, t0 + (f * 100L + i) * 60000000L)
      }.toDF("user_id", "ts_us").coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(5) // distinct mod-times keep the file order deterministic
    }
    val stream = spark.readStream
      .schema("user_id LONG, ts_us LONG")
      .option("maxFilesPerTrigger", "1").parquet(src)
      .as[StreamingIngest.SessionEvent]
    val q = StreamingIngest
      .sessionizeStream(stream, gapSeconds = 1800, idleTimeoutSeconds = 0L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sbound_sess")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), s"did not terminate: ${q.status}")
    val st = maxStateRows(q)
    // bound: one SessionAgg row per user — 500 input rows, ≤ 20 state rows
    assert(st > 0L, "state operator reported no rows — gate would be vacuous")
    assert(st <= nUsers.toLong,
      s"sessionize state $st exceeds the per-user bound $nUsers")
  }

  test("banded join state is bounded by the watermark+band horizon") {
    val lake = tmpDir("sbound2")
    val (lsrc, rsrc) = (s"$lake/l", s"$lake/r")
    new java.io.File(lsrc).mkdirs(); new java.io.File(rsrc).mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val perFile = 50
    // 6 files per side, each spanning a distinct hour: with a 5-minute
    // watermark the horizon never covers more than ~2 files per side
    for (f <- 0 until 6) {
      (0 until perFile).map(i => (i.toLong, ts(f * 60 + i % 10)))
        .toDF("user_id", "imp_ts").coalesce(1).write.mode("append").parquet(lsrc)
      (0 until perFile).map(i => (i.toLong, ts(f * 60 + i % 10 + 1)))
        .toDF("user_id", "click_ts").coalesce(1).write.mode("append").parquet(rsrc)
      Thread.sleep(5)
    }
    def src(dir: String, tsCol: String) = spark.readStream
      .schema(s"user_id LONG, $tsCol TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamingIngest.bandedStreamJoin(
        src(lsrc, "imp_ts"), src(rsrc, "click_ts"),
        "user_id", "imp_ts", "click_ts",
        bandSeconds = 120, watermark = "5 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sbound_join")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), s"did not terminate: ${q.status}")
    val st = maxStateRows(q)
    val total = 2L * 6 * perFile // 600 rows fed across both sides
    // horizon ≈ watermark(5m) + band(2m) inside one hour-file, but the
    // watermark only advances at batch boundaries so up to ~2 files per
    // side can be live at once: 4 × perFile, well under the full history
    assert(st > 0L, "state operator reported no rows — gate would be vacuous")
    assert(st <= 4L * perFile + 50L,
      s"banded-join state $st exceeds the horizon bound; total fed = $total")
    assert(st < total, s"state $st not below total input $total")
  }

  test("watermarked dedup state is bounded by the horizon's keys") {
    val lake = tmpDir("sbound3")
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val perFile = 40
    // 5 files, each a distinct hour of UNIQUE texts (worst case for state:
    // every fingerprint is a new key)
    for (f <- 0 until 5) {
      (0 until perFile).map(i => (s"doc $f $i", ts(f * 60 + i % 10)))
        .toDF("text", "ts").coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(5)
    }
    val stream = spark.readStream
      .schema("text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = StreamingIngest.dedupStream(stream, "text", "ts", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sbound_dedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), s"did not terminate: ${q.status}")
    val st = maxStateRows(q)
    // 200 unique keys fed; the 10-minute horizon + one batch of watermark
    // lag keeps ≤ ~2 files of keys live
    assert(st > 0L, "state operator reported no rows — gate would be vacuous")
    assert(st <= 2L * perFile + 20L,
      s"dedup state $st exceeds the horizon bound")
  }

  test("streaming SCD-2 carries the open interval across micro-batches") {
    import StreamingIngest.{Scd2Event, Scd2Out}
    val lake = tmpDir("scd2s")
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    // batch 1: user 1 goes A -> B (A closes IN batch 1, B stays open);
    // batch 2: user 1 goes B -> A (B must close with its batch-1 start —
    // only possible if the open interval survived in the state store)
    Seq(Scd2Event(1L, 1L, 1000L, "A"), Scd2Event(1L, 2L, 2000L, "B"))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(5)
    Seq(Scd2Event(1L, 3L, 3000L, "A"))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_us LONG, event_type STRING")
      .option("maxFilesPerTrigger", "1").parquet(src)
      .as[Scd2Event]
    val q = StreamingIngest.scd2Stream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), s"did not terminate: ${q.status}")
    val out = spark.sql("SELECT * FROM scd2_out").as[Scd2Out].collect()
      .map(o => (o.event_type, o.valid_from_us, o.valid_to_us)).toSet
    assert(out == Set(("A", 1000L, 2000L), ("B", 2000L, 3000L)),
      s"closed intervals wrong: $out")
    assert(maxStateRows(q) == 1L, "exactly one open interval per user in state")
  }

  test("hub-resident SCD-2 stream equals the batch reconstruction, state-store-free") {
    import StreamingIngest.Scd2Event
    val lake = tmpDir("scd2hub")
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    // three micro-batches over three users: changes, merges (same value
    // across a batch boundary), a user idle in the middle batch, and a
    // user appearing only later
    val batches = Seq(
      Seq(Scd2Event(1L, 1L, 1000L, "A"), Scd2Event(2L, 2L, 1100L, "X")),
      Seq(Scd2Event(1L, 3L, 2000L, "A"), Scd2Event(2L, 4L, 2100L, "Y")),
      Seq(Scd2Event(1L, 5L, 3000L, "B"), Scd2Event(3L, 6L, 3100L, "Q")))
    batches.foreach { b =>
      b.toDF().coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(5)
    }
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_us LONG, event_type STRING")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = StreamingIngest.scd2HubStream(stream, s"$lake/hub",
      nBuckets = 4, checkpoint = s"$lake/cp")
    assert(q.awaitTermination(120000), s"did not terminate: ${q.status}")
    // no state store at all — the hub IS the state
    assert(maxStateRows(q) == 0L, "hub-resident SCD-2 must hold no state-store rows")
    val hub = graft.writers.VersionedHub.read(spark, s"$lake/hub")
      .select($"user_id", $"event_type", $"valid_from_us", $"valid_to_us")
      .as[(Long, String, Long, Option[Long])].collect().toSet
    val expected = Set(
      (1L, "A", 1000L, Some(3000L)), // A merged across batches 1-2, closed by B
      (1L, "B", 3000L, None),
      (2L, "X", 1100L, Some(2100L)),
      (2L, "Y", 2100L, None),
      (3L, "Q", 3100L, None))
    assert(hub == expected, s"hub content: $hub")
    // one version per non-empty micro-batch committed
    assert(graft.writers.VersionedHub.history(spark, s"$lake/hub").size == 3)
  }

  /** Runs scd2HubStream over pre-written per-file micro-batches and returns
    * the final hub as (user, type, from, to) tuples.
    */
  private def runScd2Hub(lake: String,
      batches: Seq[Seq[StreamingIngest.Scd2Event]])
      : Set[(Long, String, Long, Option[Long])] = {
    val src = s"$lake/in"
    new java.io.File(src).mkdirs()
    batches.foreach { b =>
      b.toDF().coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(5)
    }
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_us LONG, event_type STRING")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = StreamingIngest.scd2HubStream(stream, s"$lake/hub",
      nBuckets = 4, checkpoint = s"$lake/cp")
    assert(q.awaitTermination(120000), s"did not terminate: ${q.status}")
    graft.writers.VersionedHub.read(spark, s"$lake/hub")
      .select($"user_id", $"event_type", $"valid_from_us", $"valid_to_us")
      .as[(Long, String, Long, Option[Long])].collect().toSet
  }

  /** The batch reconstruction over the same events — the equivalence
    * oracle for the splice tests (mirrors BehaviorQueries.qScd2Intervals).
    */
  private def scd2Batch(events: Seq[StreamingIngest.Scd2Event])
      : Set[(Long, String, Long, Option[Long])] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    events.toDF()
      .withColumn("_prev", lag($"event_type", 1).over(w))
      .filter($"_prev".isNull || $"_prev" =!= $"event_type")
      .withColumn("valid_to_us", lead($"ts_us", 1).over(w))
      .select($"user_id", $"event_type", $"ts_us", $"valid_to_us")
      .as[(Long, String, Long, Option[Long])].collect().toSet
  }

  test("hub-resident SCD-2 splices a late event into already-closed intervals") {
    import StreamingIngest.Scd2Event
    // round-7 verdict task 4: an event arriving one batch AFTER a newer
    // event must re-fold the closed intervals it lands among.
    val batches = Seq(
      // batch 1: A@1000 then B@3000 — A closes [1000,3000), B open
      Seq(Scd2Event(1L, 1L, 1000L, "A"), Scd2Event(1L, 3L, 3000L, "B")),
      // batch 2: LATE C@2000 — must split A's closed interval and re-close
      // against B: A[1000,2000), C[2000,3000), B[3000,∞)
      Seq(Scd2Event(1L, 2L, 2000L, "C")),
      // batch 3: late B@2500 merges INTO nothing new vs C? No: C[2000,3000)
      // splits again: C[2000,2500), B[2500,3000) then B@3000 is no longer a
      // change — its interval must be DELETED (retired key), leaving
      // B[2500,∞) open
      Seq(Scd2Event(1L, 4L, 2500L, "B")))
    val hub = runScd2Hub(tmpDir("scd2late"), batches)
    val expected = scd2Batch(batches.flatten)
    assert(hub == expected,
      s"hub must equal the batch reconstruction:\nhub:      $hub\nexpected: $expected")
    assert(hub == Set(
      (1L, "A", 1000L, Some(2000L)),
      (1L, "C", 2000L, Some(2500L)),
      (1L, "B", 2500L, None)), s"splice result wrong: $hub")
  }

  test("hub-resident SCD-2 keeps both rows of a same-timestamp change pair") {
    import StreamingIngest.Scd2Event
    // the round-7 advice case: two state changes at one ts_us for one user
    // collide on a (user_id, valid_from_us) key; event_id in the key keeps
    // the zero-length closed interval AND the open one, like the batch op
    val batches = Seq(
      Seq(Scd2Event(1L, 1L, 1000L, "A")),
      Seq(Scd2Event(1L, 2L, 2000L, "B"), Scd2Event(1L, 3L, 2000L, "C")),
      // cross-batch carry from the colliding pair: the OPEN row must have
      // survived as C so D closes it at 3000
      Seq(Scd2Event(1L, 4L, 3000L, "D")))
    val hub = runScd2Hub(tmpDir("scd2samets"), batches)
    val expected = scd2Batch(batches.flatten)
    assert(hub == expected,
      s"hub must equal the batch reconstruction:\nhub:      $hub\nexpected: $expected")
    assert(hub == Set(
      (1L, "A", 1000L, Some(2000L)),
      (1L, "B", 2000L, Some(2000L)), // zero-length closed row preserved
      (1L, "C", 2000L, Some(3000L)),
      (1L, "D", 3000L, None)), s"same-ts pair handling wrong: $hub")
  }

  test("incremental-dedup stream holds NO state-store rows (index-resident state)") {
    import graft.operators.Dedup
    val lake = tmpDir("sbound4")
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val index = Dedup.lshIndexEntries(
      docs.filter($"doc_id" % 4 =!= 0), "text", "doc_id")
    val batch = docs.filter($"doc_id" % 4 === 0).select($"doc_id", $"text")
    batch.repartition(2).write.parquet(s"$lake/src")
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$lake/src")
    val q = StreamingIngest.incrementalDedupStream(stream, index, "text",
      "doc_id", 0.5, s"$lake/out", s"$lake/cp")
    assert(q.awaitTermination(120000), s"did not terminate: ${q.status}")
    // the foreachBatch probe keeps its "state" in the persisted LSH index,
    // not the state store — the shape that scales to an ever-growing corpus
    assert(maxStateRows(q) == 0L,
      "incremental dedup must not accumulate state-store rows")
  }
}
