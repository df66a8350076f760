package graft

import graft.writers.VersionedHub

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In, IsNotNull}

class HubDataSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def mkHub(name: String, buckets: Int = 8): String = {
    val path = tmpDir(name)
    VersionedHub.writeBucketed(spark,
      (1L to 30L).map(k => (k, s"v$k")).toDF("k", "v"), path, Seq("k"), buckets)
    VersionedHub.writeBucketed(spark,
      Seq((2L, "V2"), (31L, "new")).toDF("k", "v"), path, Seq("k"), buckets)
    path
  }

  test("format(graft-hub) reads the latest snapshot and time-travels via versionAsOf") {
    val path = mkHub("dsv2_basic")
    val latest = spark.read.format("graft-hub").option("path", path).load()
      .as[(Long, String)].collect().toMap
    assert(latest == VersionedHub.read(spark, path)
      .as[(Long, String)].collect().toMap)
    assert(latest(2L) == "V2" && latest(31L) == "new" && latest.size == 31)
    val v1 = spark.read.format("graft-hub").option("path", path)
      .option("versionAsOf", "1").load()
      .as[(Long, String)].collect().toMap
    assert(v1(2L) == "v2" && !v1.contains(31L) && v1.size == 30)
  }

  test("equality/IN filters prune the scan to the matching bucket dirs") {
    val path = mkHub("dsv2_prune")
    val v = VersionedHub.history(spark, path).last
    val schema = VersionedHub.read(spark, path).schema
    // unit level: the pruning helper picks exactly the stamped bucket
    val one = graft.sources.HubDataSource.prunedBuckets(
      spark, schema, v, Seq(EqualTo("k", 7L)))
    assert(one.exists(_.size == 1), s"one key -> one bucket, got $one")
    val many = graft.sources.HubDataSource.prunedBuckets(
      spark, schema, v, Seq(In("k", Array(7L, 8L, 9L))))
    assert(many.exists(s => s.nonEmpty && s.size <= 3))
    // conjunction intersects; an unusable filter alone does not prune
    assert(graft.sources.HubDataSource.prunedBuckets(
      spark, schema, v, Seq(IsNotNull("k"))).isEmpty)
    val conj = graft.sources.HubDataSource.prunedBuckets(
      spark, schema, v, Seq(EqualTo("k", 7L), In("k", Array(7L, 8L))))
    assert(conj == one)
    // end-to-end: the executed plan scans FEWER dirs than the full snapshot
    // (RowDataSourceScan prints the V1Scan description), and rows match
    val df = spark.read.format("graft-hub").option("path", path).load()
      .filter($"k" === 7L)
    assert(df.as[(Long, String)].collect().toSeq == Seq((7L, "v7")))
    val planStr = df.queryExecution.executedPlan.toString
    val m = "dirs=(\\d+)/(\\d+)".r.findFirstMatchIn(planStr)
    assert(m.isDefined, s"expected graft-hub scan description in:\n$planStr")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"scan must be bucket-pruned: $planStr")
    // filters still verified post-scan: a key hashing into a NON-pruned
    // bucket predicate returns nothing rather than bucket-mates
    assert(spark.read.format("graft-hub").option("path", path).load()
      .filter($"k" === 999L).isEmpty)
  }

  test("evolved columns survive pruning as nulls (manifest schema alignment)") {
    val path = mkHub("dsv2_evolve")
    // schema evolution confined to key 1's bucket
    VersionedHub.writeBucketed(spark,
      Seq((1L, "V1", 9.5)).toDF("k", "v", "extra"), path, Seq("k"), 8)
    // a filtered read that prunes AWAY the evolved bucket must still expose
    // the column (all-null), like the full read does
    val other = (2L to 30L).find { cand =>
      val a = graft.sources.HubDataSource.prunedBuckets(spark,
        VersionedHub.read(spark, path).schema,
        VersionedHub.history(spark, path).last, Seq(EqualTo("k", cand)))
      val b = graft.sources.HubDataSource.prunedBuckets(spark,
        VersionedHub.read(spark, path).schema,
        VersionedHub.history(spark, path).last, Seq(EqualTo("k", 1L)))
      a.isDefined && b.isDefined && (a.get intersect b.get).isEmpty
    }.get
    val row = spark.read.format("graft-hub").option("path", path).load()
      .filter($"k" === other)
      .select($"k", $"v", $"extra").as[(Long, String, Option[Double])]
      .collect().toSeq
    assert(row.map(_._1) == Seq(other) && row.head._3.isEmpty)
    // and the evolved row itself reads back through the connector
    val evolved = spark.read.format("graft-hub").option("path", path).load()
      .filter($"k" === 1L).select($"extra").as[Option[Double]]
      .collect().toSeq
    assert(evolved == Seq(Some(9.5)))
  }

  test("unfiltered count(*) is answered from the manifest with zero file I/O") {
    val path = mkHub("dsv2_count")
    val df = spark.read.format("graft-hub").option("path", path).load()
    assert(df.count() == 31L)
    // the plan must carry the manifest-count relation, not a parquet scan
    val agg = df.groupBy().count()
    val planStr = agg.queryExecution.executedPlan.toString
    assert(planStr.contains("count-from-manifest"),
      s"expected manifest-answered count in:\n$planStr")
    assert(agg.collect().head.getLong(0) == 31L)
    // time travel counts the requested snapshot
    assert(spark.read.format("graft-hub").option("path", path)
      .option("versionAsOf", "1").load().count() == 30L)
    // a FILTERED count must take the row path and stay correct (pruning
    // never short-circuits through the manifest)
    val filtered = df.filter($"k" <= 5L)
    assert(filtered.count() == 5L)
    assert(!filtered.groupBy().count().queryExecution.executedPlan.toString
      .contains("count-from-manifest"))
  }

  test("scan reports manifest-backed statistics (pruned row counts)") {
    val path = mkHub("dsv2_stats")
    val v = VersionedHub.history(spark, path).last
    val schema = VersionedHub.read(spark, path).schema
    val full = new graft.sources.HubScanBuilder(path, v, schema)
    val fullStats = full.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(fullStats.numRows.getAsLong == 31L)
    assert(fullStats.sizeInBytes.getAsLong > 0L &&
      fullStats.sizeInBytes.getAsLong < Long.MaxValue)
    // pruned scan: row estimate shrinks to the probed bucket's audit count
    val prunedBuilder = new graft.sources.HubScanBuilder(path, v, schema)
    prunedBuilder.pushFilters(Array(EqualTo("k", 7L)))
    val prunedStats = prunedBuilder.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(prunedStats.numRows.getAsLong < 31L &&
      prunedStats.numRows.getAsLong >= 1L)
  }

  test("df.write.format(graft-hub) commits an ACID merge-upsert version") {
    val path = mkHub("dsv2_write")
    Seq((2L, "WRITTEN"), (40L, "ins")).toDF("k", "v")
      .write.format("graft-hub").option("path", path).option("keys", "k")
      .mode("append").save()
    val after = VersionedHub.read(spark, path)
      .as[(Long, String)].collect().toMap
    assert(after(2L) == "WRITTEN" && after(40L) == "ins" && after.size == 32)
    // one new committed version; bucketed layout preserved
    val hist = VersionedHub.history(spark, path)
    assert(hist.size == 3 && hist.last.buckets.nonEmpty)
    // reading back through the connector sees the write
    assert(spark.read.format("graft-hub").option("path", path).load()
      .filter($"k" === 2L).as[(Long, String)].collect().toSeq ==
      Seq((2L, "WRITTEN")))
    // time-travel snapshots are immutable targets
    intercept[Exception] {
      Seq((1L, "x")).toDF("k", "v").write.format("graft-hub")
        .option("path", path).option("versionAsOf", "1").option("keys", "k")
        .mode("append").save()
    }
  }

  test("driver-local bucketOf matches the distributed writer stamp for every routable type") {
    import org.apache.spark.sql.types._
    val cases: Seq[(DataType, Seq[Any])] = Seq(
      LongType -> Seq(0L, 1L, -7L, 123456789L, Long.MaxValue),
      IntegerType -> Seq(0, 5, -3, Int.MaxValue),
      ShortType -> Seq(0.toShort, (-12).toShort),
      ByteType -> Seq(1.toByte),
      StringType -> Seq("", "a", "héllo", "ключ", "multi word key"),
      DoubleType -> Seq(0.0, 5.0, 5.5, -2.25, 1e18),
      FloatType -> Seq(1.5f, -0.5f),
      DateType -> Seq(java.sql.Date.valueOf("2024-02-29"),
        java.sql.Date.valueOf("1969-12-31")),
      TimestampType -> Seq(
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789")),
      BooleanType -> Seq(true, false),
      DecimalType(10, 2) -> Seq(new java.math.BigDecimal("123.45")))
    for ((dt, vals) <- cases; n <- Seq(8, 32)) {
      // distributed truth: stamp a one-column frame exactly like the writer
      val schema = StructType(Seq(StructField("c", dt)))
      val rows = vals.map(org.apache.spark.sql.Row(_))
      val stamped = spark
        .createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .select(col("c"), pmod(
          xxhash64(graft.writers.HubWriter.canonicalKey(col("c"), dt)),
          lit(n)).cast("int").as("b"))
        .collect().map(r => r.get(0) -> r.getInt(1)).toMap
      for (v <- vals) {
        val local = graft.sources.HubDataSource.bucketOf(spark, v, dt, n)
        assert(local.contains(stamped(v)),
          s"$dt value $v (n=$n): local=$local distributed=${stamped(v)}")
      }
    }
  }

  test("bucketOf names the bucket writeBucketed puts each row in, across the widen ladder") {
    import org.apache.spark.sql.types._
    val n = 8
    val cases: Seq[(DataType, Seq[Any])] = Seq(
      ByteType -> Seq(1.toByte, (-3).toByte, 100.toByte),
      ShortType -> Seq(0.toShort, (-12).toShort, 3000.toShort),
      IntegerType -> Seq(5, -3, Int.MaxValue),
      LongType -> Seq(0L, -7L, 123456789012L),
      FloatType -> Seq(1.5f, -0.5f, 5.0f),
      DoubleType -> Seq(5.0, 5.5, -2.25, 1e18),
      DecimalType(10, 2) -> Seq(new java.math.BigDecimal("123.45"),
        new java.math.BigDecimal("5.00"), new java.math.BigDecimal("-0.50")),
      DateType -> Seq(java.sql.Date.valueOf("2024-02-29"),
        java.sql.Date.valueOf("1969-12-31")),
      TimestampType -> Seq(java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"),
        java.sql.Timestamp.valueOf("1970-01-01 00:00:00")),
      StringType -> Seq("", "a", "ключ", "multi word key"))
    for ((dt, vals) <- cases) {
      val path = tmpDir(s"bucket_of_${dt.typeName.replaceAll("\\W", "_")}")
      val schema = StructType(Seq(StructField("c", dt), StructField("i", IntegerType)))
      val rows = vals.zipWithIndex.map { case (v, i) => org.apache.spark.sql.Row(v, i) }
      VersionedHub.writeBucketed(spark, spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema), path, Seq("c"), n)
      val tip = VersionedHub.history(spark, path).last
      val placed = tip.groups.toSeq.flatMap { case (b, dirs) =>
        spark.read.parquet(dirs.map(VersionedHub.resolve(path, _)): _*)
          .select("i").as[Int].collect().map(_ -> b)
      }.toMap
      assert(placed.size == vals.size, s"$dt: $placed")
      for ((v, i) <- vals.zipWithIndex)
        assert(graft.sources.HubDataSource.bucketOf(spark, v, dt, n)
          .contains(placed(i)), s"$dt value $v: written to bucket ${placed(i)}")
    }
  }

  test("planning a pruned+skipped read launches ZERO Spark jobs") {
    val path = mkHub("dsv2_nojobs")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = spark.read.format("graft-hub").option("path", path).load()
        .filter($"k".isin(3L, 4L) && $"v" > "a")
      // force FULL planning: filter pushdown, scan build, AND the
      // statistics Catalyst's join planner would consult
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("graft-hub"))
      df.queryExecution.optimizedPlan.stats
      org.apache.spark.GraftListenerSync.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() == 0,
        s"planning a graft-hub read launched ${jobs.get()} Spark job(s)")
      // ...and the jobless pruning produces the same rows as ever
      assert(df.as[(Long, String)].collect().toSet ==
        Set((3L, "v3"), (4L, "v4")))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("file-level min/max stats skip files for range/equality/null predicates") {
    val path = tmpDir("dsv2_skip")
    // flat hub whose 8 files carry disjoint k ranges (range-clustered write
    // — the zone-map-friendly layout optimizeZOrder also produces)
    val df = (1L to 1000L)
      .map(k => (k, if (k <= 500) null else s"s$k")).toDF("k", "s")
      .repartitionByRange(8, $"k")
    VersionedHub.write(spark, df, path, Seq.empty)
    val v = VersionedHub.history(spark, path).last
    assert(v.fileStats.size == 8 &&
      v.fileStats.values.forall(_.cols.contains("k")))
    def skipOf(d: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val p = d.queryExecution.executedPlan.toString
      val m = "files=(\\d+) skipped=(\\d+)".r.findFirstMatchIn(p)
      assert(m.isDefined, s"expected file-skip evidence in:\n$p")
      (m.get.group(1).toInt, m.get.group(2).toInt)
    }
    val rd = spark.read.format("graft-hub").option("path", path).load()
    // range predicate: only the tail file(s) survive
    val hi = rd.filter($"k" > 900L)
    val (hiF, hiS) = skipOf(hi)
    assert(hiS > 0 && hiF < 8, s"files=$hiF skipped=$hiS")
    assert(hi.count() == 100L)
    // equality: a single mid-range key needs one file
    val eq = rd.filter($"k" === 500L)
    val (eqF, eqS) = skipOf(eq)
    assert(eqF == 1 && eqS == 7)
    assert(eq.select($"k").as[Long].collect().toSeq == Seq(500L))
    // IN over two distant keys
    val in = rd.filter($"k".isin(5L, 995L))
    assert(skipOf(in)._2 >= 6)
    assert(in.select($"k").as[Long].collect().toSet == Set(5L, 995L))
    // conjunction with an unskippable predicate still skips on the other
    val conj = rd.filter($"k" < 100L && length($"s") > 1)
    assert(skipOf(conj)._2 > 0)
    assert(conj.count() == 0L)
    // null-aware: s is all-null exactly on the low files
    val notNull = rd.filter($"s".isNotNull)
    assert(skipOf(notNull)._2 > 0)
    assert(notNull.count() == 500L)
    val isNull = rd.filter($"s".isNull)
    assert(skipOf(isNull)._2 > 0)
    assert(isNull.count() == 500L)
    // statistics of a skipped scan come straight from the manifest bytes
    val builder = new graft.sources.HubScanBuilder(path, v,
      VersionedHub.read(spark, path).schema)
    builder.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThan("k", 900L)))
    val st = builder.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    val expected = v.fileStats.values.filter(f =>
      f.cols("k").max.exists { case l: Long => l > 900L }).toSeq
    assert(st.numRows.getAsLong == expected.map(_.rows).sum)
    assert(st.sizeInBytes.getAsLong == expected.map(_.bytes).sum)
  }

  test("pushed filters reach the INNER parquet scan (row-group pruning)") {
    val path = mkHub("dsv2_inner")
    val v = VersionedHub.versionAt(spark, path, None)
    val schema = VersionedHub.read(spark, path).schema
    val dirs = v.dirs.map(d =>
      graft.writers.VersionedHub.resolve(path, d)).toSeq
    // the exact DataFrame buildScan hands to the V1 bridge: the pushed
    // predicates must appear as PushedFilters on its FileSourceScan, so
    // parquet zone-map / dictionary / bloom pruning runs INSIDE the files
    // the manifest could not skip
    val inner = graft.sources.HubScan.inner(spark, dirs, v.rows,
      schema, schema, Seq(IsNotNull("k"), EqualTo("k", 7L)))
    val scanNode = inner.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scanNode.contains("PushedFilters: [IsNotNull(k), EqualTo(k,7)]"),
      s"inner scan must push the predicates:\n$scanNode")
    assert(inner.as[(Long, String)].collect().toSeq == Seq((7L, "v7")))
    // untranslatable filters degrade to outer-only, never break the scan
    val loose = graft.sources.HubScan.inner(spark, dirs, v.rows,
      schema, schema,
      Seq(org.apache.spark.sql.sources.AlwaysTrue(), EqualTo("k", 31L)))
    assert(loose.as[(Long, String)].collect().toSeq == Seq((31L, "new")))
  }

  test("a column absent from old files never skips them (schema-evolution no-skip)") {
    val path = mkHub("dsv2_skip_evolve")
    // evolution touches ONLY key 1's bucket; every other bucket's files
    // predate the column and record no stats for it
    VersionedHub.writeBucketed(spark,
      Seq((1L, "V1", 9.5)).toDF("k", "v", "extra"), path, Seq("k"), 8)
    val rd = spark.read.format("graft-hub").option("path", path).load()
    // the predicate is only provable on the NEW file; old files must be
    // kept (scanned, aligned to null, then row-filtered) — a skip here
    // would be wrong the day the column stops being all-null
    val hit = rd.filter($"extra" >= 0.0)
      .select($"k", $"extra").as[(Long, Double)].collect().toSeq
    assert(hit == Seq((1L, 9.5)))
    // inverted range: the stats-covered new file IS skippable, old files
    // still scanned, result exactly empty
    val miss = rd.filter($"extra" < 0.0)
    val p = miss.queryExecution.executedPlan.toString
    val m = "files=(\\d+) skipped=(\\d+)".r.findFirstMatchIn(p)
    assert(m.exists(_.group(2).toInt >= 1),
      s"the evolved file (min=9.5) must be skipped for extra<0:\n$p")
    assert(miss.count() == 0L)
  }

  test("column pruning and flat hubs work through the connector") {
    val flat = tmpDir("dsv2_flat")
    VersionedHub.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), flat, Seq("k"))
    val got = spark.read.format("graft-hub").option("path", flat).load()
      .select($"v").as[String].collect().toSet
    assert(got == Set("a", "b"))
    // count(*) path (zero required columns)
    assert(spark.read.format("graft-hub").option("path", flat).load()
      .count() == 2)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-hub").option("path", flat)
        .option("versionAsOf", "9").load().collect()
    }
  }

  test("batch readChangeFeed serves per-commit changes with pre/post images (Delta CDF parity)") {
    import graft.writers.VersionedHub
    val path = tmpDir("dsv2_cdf")
    VersionedHub.writeBucketed(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, Seq("k"), 4)
    VersionedHub.write(spark,
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), path, Seq("k"))
    VersionedHub.deleteWhere(spark, path,
      org.apache.spark.sql.functions.col("k") === 1L)
    def feed(opts: (String, String)*): Seq[(Long, String, String, Int)] = {
      val r = opts.foldLeft(spark.read.format("graft-hub")
          .option("path", path).option("readChangeFeed", "true")
          .option("keys", "k"))((b, o) => b.option(o._1, o._2))
        .load()
      r.select($"k", $"v", $"_change_type", $"_commit_version")
        .as[(Long, String, String, Int)].collect().toSeq
        .sortBy(t => (t._4, t._1, t._3))
    }
    // full feed: v1 snapshot-as-inserts, v2 pre/post images + insert,
    // v3 the DV delete
    assert(feed("startingVersion" -> "1") == Seq(
      (1L, "a", "insert", 1), (2L, "b", "insert", 1),
      (2L, "B", "update_postimage", 2), (2L, "b", "update_preimage", 2),
      (3L, "c", "insert", 2),
      (1L, "a", "delete", 3)))
    // bounded range: only the middle commit
    assert(feed("startingVersion" -> "2", "endingVersion" -> "2") == Seq(
      (2L, "B", "update_postimage", 2), (2L, "b", "update_preimage", 2),
      (3L, "c", "insert", 2)))
    // keys are mandatory; a vacuumed step fails loudly
    intercept[IllegalArgumentException] {
      spark.read.format("graft-hub").option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1").load().collect()
    }
    VersionedHub.vacuum(spark, path, keepVersions = Some(1), retainMs = 0L)
    val e = intercept[Exception](feed("startingVersion" -> "2"))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }
}
