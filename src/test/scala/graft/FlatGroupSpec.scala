package graft

import graft.writers.VersionedHub

/** The flat hub as one file group of data dirs: keyless appends write
  * only the batch, DELETE records deletion vectors, RESTORE writes only a
  * manifest, and manifests from before the group model keep working.
  */
class FlatGroupSpec extends SparkTestBase {
  import spark.implicits._

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

  private def kv(rows: Seq[(Long, String)]) = rows.toDF("k", "v")

  private def rowsAt(path: String, v: Option[Int] = None): Seq[(Long, String)] =
    VersionedHub.read(spark, path, v).select($"k", $"v").as[(Long, String)]
      .collect().toSeq.sorted

  private def sizeOf(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(sizeOf).sum
    else f.length

  test("a flat DELETE records deletion vectors; CALL purge folds them away") {
    withCatalog("flatdv") { base =>
      val path = s"$base/t"
      VersionedHub.write(spark, kv((1L to 200L).map(k => (k, s"v$k"))),
        path, Seq.empty)
      VersionedHub.write(spark, kv((201L to 300L).map(k => (k, s"v$k"))),
        path, Seq.empty)
      val before = VersionedHub.history(spark, path).last
      assert(before.dirs.size == 2, "the append adds a dir to the flat group")
      spark.sql("DELETE FROM flatdv.default.t WHERE k IN (3, 150, 250)")
      val tip = VersionedHub.history(spark, path).last
      // manifest-only: same dirs, three positions recorded, rows exact
      assert(tip.dirs == before.dirs && tip.rows == 297L)
      val dvRows = spark.sql(
        "SELECT sum(dv_rows) FROM flatdv.default.`t$files`").as[Long].head()
      assert(dvRows == 3L)
      val detail = VersionedHub.detailDF(spark, path)
        .select($"num_dv_rows", $"num_dirs").as[(Long, Long)].head()
      assert(detail == ((3L, 2L)))
      val expected = (1L to 300L).filterNot(Set(3L, 150L, 250L))
        .map(k => (k, s"v$k"))
      assert(rowsAt(path) == expected)
      assert(spark.sql("CALL flatdv.system.purge(`table` => 't')")
        .as[Int].head() == tip.version + 1)
      val after = VersionedHub.history(spark, path).last
      assert(after.dirs.size == 1 && after.dvs.isEmpty && after.rows == 297L)
      assert(spark.sql(
        "SELECT sum(dv_rows) FROM flatdv.default.`t$files`").as[Long].head()
        == 0L)
      assert(rowsAt(path) == expected)
    }
  }

  test("stress: ten small appends write O(batch) bytes, vacuum keeps every live dir") {
    val path = tmpDir("flat_stress") + "/t"
    // values that do not compress away, so the data and not the log is
    // what the bytes measure
    def row(k: Long) =
      (k, java.util.UUID.nameUUIDFromBytes(s"$k".getBytes).toString)
    VersionedHub.write(spark, kv((1L to 10000L).map(row)), path, Seq.empty)
    val appended = (0 until 10).map { i =>
      val lo = 10001L + i * 100
      VersionedHub.write(spark, kv((lo until lo + 100).map(row)), path,
        Seq.empty)
    }
    val hist = VersionedHub.history(spark, path)
    val written = appended.map(n =>
      hist.find(_.version == n).get.statsNew.valuesIterator.map(_.bytes).sum)
    assert(written.forall(_ <= 2 * written.head),
      s"bytes written per append must track the batch: $written")
    val tip = hist.last
    assert(tip.rows == 11000L && tip.dirs.size == 11)
    val live = tip.fileStats.valuesIterator.map(_.bytes).sum
    // everything under the hub: data, log, checkpoint and checksums
    val disk = sizeOf(new java.io.File(path))
    assert(disk <= 1.2 * live, s"disk $disk vs live $live")
    val before = rowsAt(path)
    VersionedHub.vacuum(spark, path, keepVersions = Some(1), retainMs = 0L)
    assert(tip.dirs.forall(d => new java.io.File(path, d).isDirectory))
    assert(rowsAt(path) == before)
  }

  test("RESTORE of a flat hub writes only a manifest") {
    val path = tmpDir("flat_restore") + "/t"
    VersionedHub.write(spark, kv(Seq((1L, "a"), (2L, "b"))), path, Seq("k"))
    VersionedHub.write(spark, kv(Seq((2L, "B"), (3L, "c"))), path, Seq("k"))
    val roots = new java.io.File(path, "data").list().toSet
    assert(VersionedHub.restore(spark, path, 1) == 3)
    assert(new java.io.File(path, "data").list().toSet == roots)
    assert(rowsAt(path) == Seq((1L, "a"), (2L, "b")))
    assert(VersionedHub.history(spark, path).last.dirs ==
      VersionedHub.history(spark, path).head.dirs)
  }

  /** Fixture hubs written by the code before the group model (flat
    * `dataDir` manifests, bucketed `buckets` manifests with and without
    * per-file stats), copied to a scratch dir and driven further.
    */
  private def legacyHub(name: String): String = {
    val src = new java.io.File(resource(s"/legacy_hubs/$name"))
    val dst = new java.io.File(tmpDir(s"legacy_$name"), name)
    org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    dst.getPath
  }

  private val legacyRows = (1L to 12L).map(k => (k, s"v$k"))

  for ((name, keys) <- Seq("flat" -> Seq.empty[String],
      "bucketed" -> Seq("k"), "bucketed_nostats" -> Seq("k"),
      "groups_flat" -> Seq.empty[String], "groups_bucketed" -> Seq("k")))
    test(s"legacy manifests read and take new commits: $name") {
      val path = legacyHub(name)
      val hist = VersionedHub.history(spark, path)
      assert(hist.size == 2)
      assert(rowsAt(path, Some(1)) == legacyRows.take(8))
      assert(rowsAt(path) == legacyRows)
      // DSv2 scan planning from the manifest agrees with the direct read
      assert(spark.read.format("graft-hub").load(path)
        .select($"k", $"v").as[(Long, String)].collect().toSeq.sorted ==
        legacyRows)
      // an append (keyless) or an upsert (keyed) on top
      VersionedHub.write(spark, kv(Seq((2L, "V2"), (13L, "v13"))), path, keys)
      val grown =
        if (keys.isEmpty) (legacyRows :+ ((2L, "V2")) :+ ((13L, "v13"))).sorted
        else legacyRows.map { case (k, v) => (k, if (k == 2L) "V2" else v) } :+
          ((13L, "v13"))
      assert(rowsAt(path) == grown)
      VersionedHub.deleteWhere(spark, path, $"k" === 5L)
      assert(rowsAt(path) == grown.filterNot(_._1 == 5L))
      val restored = VersionedHub.restore(spark, path, 2)
      assert(rowsAt(path, Some(restored)) == legacyRows)
      assert(VersionedHub.history(spark, path).last.rows == 12L)
    }
}
