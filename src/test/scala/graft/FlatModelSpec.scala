package graft

import graft.writers.VersionedHub
import org.apache.spark.sql.functions.{col, concat, lit}

/** Seeded random op sequences over hubs, checked against a
  * driver-side model: after every op, every retained version must read
  * back the model's rows for that version (order-insensitive hash and
  * count), and its manifest `rows` (and a bucketed manifest's per-bucket
  * rows) must equal the read count. Runs on a keyless hub, on a keyed hub
  * adopted by `convert` and on a 4-bucket keyed hub.
  */
class FlatModelSpec extends SparkTestBase {
  import spark.implicits._

  type Rows = Vector[(Long, String)]

  /** Order-insensitive: a sum of per-row hashes. */
  private def hash(rows: Iterable[(Long, String)]): Long =
    rows.iterator.map(r => scala.util.hashing.MurmurHash3.productHash(r).toLong)
      .sum

  private def checkAll(path: String, model: collection.Map[Int, Rows],
      step: String): Unit =
    for (v <- VersionedHub.history(spark, path)) {
      val got = VersionedHub.read(spark, path, Some(v.version))
        .select($"k", $"v").as[(Long, String)].collect().toVector
      val want = model(v.version)
      assert(got.size == want.size && hash(got) == hash(want),
        s"$step: v${v.version} read ${got.size} rows, model ${want.size}; " +
          s"extra ${got.diff(want).take(3)} missing ${want.diff(got).take(3)}")
      assert(v.rows == got.size, s"$step: v${v.version} manifest rows " +
        s"${v.rows} != read ${got.size}")
      // a bucketed manifest's per-bucket rows (what pruned counts and
      // the next commit's carried buckets use) add up to the same
      if (v.nBuckets.isDefined)
        assert(v.bucketRows.values.sum == got.size, s"$step: v${v.version} " +
          s"bucketRows ${v.bucketRows} != read ${got.size}")
    }

  /** Runs the ops; returns how many DELETEs committed deletion vectors. */
  private def run(path: String, keys: Seq[String], v1: Rows, seed: Long,
      nOps: Int, bucketed: Boolean = false): Int = {
    var dvCommits = 0
    val rnd = new scala.util.Random(seed)
    val model = collection.mutable.Map(1 -> v1)
    var tip = 1
    var nextKey = 1000L
    val kinds = Vector("append", "upsert", "dvdelete", "rwdelete", "update",
      "restore", "optimize", "purge", "vacuum")
    // a fixed prefix carries DVs through appends and a restore, up to the
    // full checkpoint at version 10 (which readers then fold from); the
    // rest is drawn at random
    val prefix = Seq("append", "dvdelete", "append", "restore", "dvdelete",
      "append", "append", "append", "append", "upsert")
    val ops = prefix ++
      Seq.fill(nOps - prefix.size)(kinds(rnd.nextInt(kinds.size)))
    def rows: Rows = model(tip)
    def commit(v: Int, next: => Rows): Unit = {
      if (v != tip) { model(v) = next; tip = v }
    }
    def someKeys(n: Int): Seq[Long] =
      rnd.shuffle(rows.map(_._1).distinct).take(n)
    for ((op, i) <- ops.zipWithIndex) {
      val step = s"op $i ($op)"
      op match {
        case "append" =>
          val batch = Vector.fill(1 + rnd.nextInt(20)) {
            nextKey += 1; (nextKey, s"a$i-$nextKey")
          }
          val before = rows
          commit(VersionedHub.write(spark, batch.toDF("k", "v"), path, keys),
            before ++ batch)
        case "upsert" if keys.nonEmpty =>
          val batch = (someKeys(5).map(k => (k, s"u$i-$k")) ++
            Seq.fill(3) { nextKey += 1; (nextKey, s"n$i-$nextKey") }).toVector
          val byKey = batch.toMap
          val before = rows
          commit(VersionedHub.write(spark, batch.toDF("k", "v"), path, keys),
            before.filterNot(r => byKey.contains(r._1)) ++ batch)
        case "upsert" => // a keyless hub has no upsert: append a duplicate
          val batch = someKeys(2).map(k => (k, s"d$i-$k")).toVector
          val before = rows
          commit(VersionedHub.write(spark, batch.toDF("k", "v"), path, keys),
            before ++ batch)
        case "dvdelete" =>
          // few matches: the deletion-vector path
          val ks = someKeys(1 + rnd.nextInt(2)).toSet
          val before = rows
          commit(VersionedHub.deleteWhere(spark, path, col("k").isin(ks.toSeq: _*)),
            before.filterNot(r => ks(r._1)))
          if (VersionedHub.history(spark, path).last.dvNew.nonEmpty) dvCommits += 1
        case "rwdelete" =>
          // a third of the rows: past the DV cap, the group rewrite
          val m = rnd.nextInt(3).toLong
          val before = rows
          commit(VersionedHub.deleteWhere(spark, path, col("k") % 3 === m),
            before.filterNot(_._1 % 3 == m))
        case "update" =>
          val r = rnd.nextInt(5).toLong
          val before = rows
          commit(VersionedHub.updateWhere(spark, path, col("k") % 5 === r,
            Seq("v" -> concat(col("v"), lit("!")))),
            before.map { case (k, v) => (k, if (k % 5 == r) v + "!" else v) })
        case "restore" =>
          val older = VersionedHub.history(spark, path).map(_.version)
            .filter(_ < tip)
          if (older.nonEmpty) {
            val target = older(rnd.nextInt(older.size))
            commit(VersionedHub.restore(spark, path, target), model(target))
          }
        case "optimize" =>
          val before = rows
          commit(if (bucketed) VersionedHub.compactBuckets(spark, path)
            else VersionedHub.optimize(spark, path), before)
        case "purge" =>
          val before = rows
          commit(VersionedHub.purge(spark, path), before)
        case "vacuum" =>
          VersionedHub.vacuum(spark, path, keepVersions = Some(4), retainMs = 0L)
      }
      checkAll(path, model, step)
    }
    dvCommits
  }

  test("model: random ops on a keyless flat hub") {
    val path = tmpDir("flat_model_keyless") + "/t"
    val v1 = (1L to 400L).map(k => (k % 150, s"s$k")).toVector
    VersionedHub.write(spark, v1.toDF("k", "v"), path, Seq.empty)
    assert(run(path, Seq.empty, v1, seed = 11L, nOps = 30) >= 2)
  }

  test("model: random ops on a 4-bucket keyed hub") {
    val path = tmpDir("bucket_model") + "/t"
    val v1 = (1L to 400L).map(k => (k, s"s$k")).toVector
    VersionedHub.writeBucketed(spark, v1.toDF("k", "v"), path, Seq("k"), 4)
    assert(run(path, Seq("k"), v1, seed = 13L, nOps = 30, bucketed = true) >= 2)
    // the model checked reads folded from the JSON checkpoints at v10, v20
    val hist = VersionedHub.history(spark, path)
    assert(hist.forall(_.nBuckets.contains(4)) && hist.last.version >= 20)
  }

  test("model: random ops on a keyed flat hub adopted by convert") {
    val path = tmpDir("flat_model_keyed") + "/t"
    val v1 = (1L to 400L).map(k => (k, s"s$k")).toVector
    v1.toDF("k", "v").repartition(3).write.parquet(path)
    assert(VersionedHub.convert(spark, path) == 1)
    assert(run(path, Seq("k"), v1, seed = 12L, nOps = 30) >= 2)
  }
}
