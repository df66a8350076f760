package graft

import graft.writers.VersionedHub

import org.apache.spark.sql.functions._

/** The SQL surface of the hub: TableCatalog (`hub.db.t`), `MERGE INTO`
  * through [[graft.sources.HubMergeRule]], and the namespace rules.
  */
class HubCatalogSpec extends SparkTestBase {
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

  test("CREATE TABLE / INSERT INTO / SELECT / VERSION AS OF through the catalog") {
    withCatalog("hubsql") { base =>
      spark.sql("CREATE TABLE hubsql.default.kv (k BIGINT, v STRING)")
      assert(new java.io.File(base, "kv/_log").exists())
      spark.sql("INSERT INTO hubsql.default.kv VALUES (1, 'a'), (2, 'b')")
      assert(spark.sql("SELECT * FROM hubsql.default.kv")
        .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
      spark.sql("INSERT INTO hubsql.default.kv VALUES (3, 'c')")
      assert(spark.sql(
        "SELECT count(*) FROM hubsql.default.kv VERSION AS OF 2")
        .as[Long].head() == 2L)
      assert(spark.sql("SELECT count(*) FROM hubsql.default.kv")
        .as[Long].head() == 3L)
    }
  }

  test("MERGE INTO upserts through the hub's ACID merge (update, insert, null key)") {
    withCatalog("hubm") { base =>
      // seed a keyed bucketed hub through the library
      VersionedHub.writeBucketed(spark,
        (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"),
        s"$base/t", Seq("k"), 4)
      Seq((Some(2L), "UPD"), (Some(99L), "INS"), (None: Option[Long], "NULLK"))
        .toDF("k", "v").createOrReplaceTempView("merge_src")
      spark.sql("""MERGE INTO hubm.default.t AS t USING merge_src AS s
                  |ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val after = VersionedHub.read(spark, s"$base/t")
        .as[(Option[Long], String)].collect().toSet
      val expected = (1L to 10L).filterNot(_ == 2L)
        .map(k => (Some(k), s"v$k")).toSet ++
        Set((Some(2L), "UPD"), (Some(99L), "INS"), (None, "NULLK"))
      assert(after == expected)
      // exactly one new committed version, still bucketed
      val hist = VersionedHub.history(spark, s"$base/t")
      assert(hist.size == 2 && hist.last.buckets.nonEmpty)
      // the same rows are visible through SQL
      assert(spark.sql("SELECT count(*) FROM hubm.default.t")
        .as[Long].head() == 12L)
    }
  }

  test("MERGE INTO widens the hub schema when the source is wider (hub merge semantics)") {
    withCatalog("hubw") { base =>
      VersionedHub.writeBucketed(spark,
        Seq((1, "a"), (2, "b")).toDF("k", "v"), s"$base/t", Seq("k"), 4)
      Seq((2L, "B2"), (7L, "n7")).toDF("k", "v")
        .createOrReplaceTempView("wide_src")
      spark.sql("""MERGE INTO hubw.default.t t USING wide_src s
                  |ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val after = VersionedHub.read(spark, s"$base/t")
      assert(after.schema("k").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(after.as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "B2"), (7L, "n7")))
    }
  }

  test("MERGE shapes the hub cannot express fail loudly") {
    withCatalog("hubx") { base =>
      VersionedHub.writeBucketed(spark,
        Seq((1L, "a", 1.0)).toDF("k", "v", "w"), s"$base/t", Seq("k"), 2)
      Seq((1L, "b", 2.0)).toDF("k", "v", "w")
        .createOrReplaceTempView("bad_src")
      def denied(sql: String): Unit = {
        val e = intercept[Exception](spark.sql(sql))
        assert(e.getMessage.contains("graft-hub MERGE INTO supports"),
          s"wrong error for: $sql\n${e.getMessage}")
      }
      // non-equi ON
      denied("""MERGE INTO hubx.default.t t USING bad_src s ON t.k < s.k
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // UPDATE SET on a merge key: the keyed upsert would strand the old row
      denied("""MERGE INTO hubx.default.t t USING bad_src s ON t.k = s.k
               |WHEN MATCHED THEN UPDATE SET k = s.k + 1
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // ... and on a NOT MATCHED BY SOURCE branch too
      denied("""MERGE INTO hubx.default.t t USING bad_src s ON t.k = s.k
               |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = t.k + 1""".stripMargin)
    }
  }

  test("partial-column MERGE: unmentioned columns keep target values on match, NULL on insert") {
    withCatalog("hubpm") { base =>
      VersionedHub.writeBucketed(spark,
        Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
          .toDF("k", "v", "n"),
        s"$base/t", Seq("k"), 4)
      Seq((2L, "B!", 999L), (9L, "ins", 90L)).toDF("k", "v", "extra")
        .createOrReplaceTempView("pm_src")
      // partial UPDATE (v only — n must keep its target value) with a
      // star-free INSERT list (n unmentioned — must land NULL)
      spark.sql("""MERGE INTO hubpm.default.t t USING pm_src s
                  |ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET v = s.v
                  |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
      val after = spark.sql("SELECT k, v, n FROM hubpm.default.t ORDER BY k")
        .as[(Long, String, Option[Long])].collect().toSeq
      assert(after == Seq(
        (1L, "a", Some(10L)),
        (2L, "B!", Some(20L)), // v updated, n carried from the target
        (3L, "c", Some(30L)),
        (9L, "ins", None)), after.toString) // unmentioned column NULL
      // expressions over BOTH sides in the assignment
      spark.sql("""MERGE INTO hubpm.default.t t USING pm_src s
                  |ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET n = t.n + s.extra
                  |WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)""".stripMargin)
      val n2 = spark.sql("SELECT k, n FROM hubpm.default.t WHERE k IN (2, 9)")
        .as[(Long, Option[Long])].collect().toMap
      assert(n2(2L).contains(20L + 999L), n2.toString)
      // one ACID version per MERGE, layout intact
      val hist = VersionedHub.history(spark, s"$base/t")
      assert(hist.size == 3 && hist.last.nBuckets.contains(4))
    }
  }

  test("DELETE FROM rewrites only the buckets holding matches; misses are a no-op") {
    withCatalog("hubdel") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"), s"$base/t",
        Seq("k"), 8)
      val v1 = VersionedHub.history(spark, s"$base/t").last
      spark.sql("DELETE FROM hubdel.default.t WHERE k >= 35")
      val v2 = VersionedHub.history(spark, s"$base/t").last
      assert(v2.version == v1.version + 1 && v2.rows == 34)
      assert(spark.sql("SELECT max(k) FROM hubdel.default.t")
        .as[Long].head() == 34L)
      // buckets without matches share their v1 dirs structurally
      val shared = v1.buckets.toSet intersect v2.buckets.toSet
      assert(shared.nonEmpty, s"v1=${v1.buckets} v2=${v2.buckets}")
      // a DELETE matching nothing commits nothing
      spark.sql("DELETE FROM hubdel.default.t WHERE k > 1000")
      assert(VersionedHub.history(spark, s"$base/t").last.version == v2.version)
      // null-semantics: rows where the predicate is NULL stay
      VersionedHub.writeBucketed(spark,
        Seq((100L, null: String)).toDF("k", "v"), s"$base/t", Seq("k"), 8)
      spark.sql("DELETE FROM hubdel.default.t WHERE v < 'v2'")
      val after = spark.sql("SELECT k FROM hubdel.default.t").as[Long]
        .collect().toSet
      assert(after.contains(100L), "NULL-predicate row must survive")
      // time travel delete refused
      intercept[Exception](spark.sql(
        "DELETE FROM hubdel.default.t VERSION AS OF 1 WHERE k = 1"))
      // FLAT hubs delete through the snapshot-rewrite path
      VersionedHub.write(spark,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
        s"$base/flat", Seq.empty)
      spark.sql("DELETE FROM hubdel.default.flat WHERE k = 2")
      assert(spark.sql("SELECT k FROM hubdel.default.flat ORDER BY k")
        .as[Long].collect().toSeq == Seq(1L, 3L))
      // the commit log is queryable as the $history metadata table
      val hist = spark.sql(
        "SELECT version, rows FROM hubdel.default.`t$history` ORDER BY version")
        .as[(Int, Long)].collect().toSeq
      assert(hist.nonEmpty && hist.map(_._1) == hist.map(_._1).sorted &&
        hist.last._2 == VersionedHub.read(spark, s"$base/t").count())
    }
  }

  test("MERGE DELETE branches and conditional cascades commit as ONE atomic version") {
    withCatalog("hubgm") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 10L).map(k => (k, s"v$k", k * 10)).toDF("k", "v", "n"),
        s"$base/t", Seq("k"), 4)
      Seq((2L, "two", 5L), (3L, "three", 500L), (11L, "eleven", 1L))
        .toDF("k", "label", "w").createOrReplaceTempView("gm_src")
      // cascade: big w deletes, small w partial-updates, new keys insert —
      // one MERGE, one committed version
      spark.sql("""MERGE INTO hubgm.default.t t USING gm_src s
                  |ON t.k = s.k
                  |WHEN MATCHED AND s.w >= 100 THEN DELETE
                  |WHEN MATCHED THEN UPDATE SET v = s.label
                  |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.label)""".stripMargin)
      val hist = VersionedHub.history(spark, s"$base/t")
      assert(hist.size == 2, "delete + update + insert must be ONE commit")
      val after = spark.sql("SELECT k, v, n FROM hubgm.default.t ORDER BY k")
        .as[(Long, String, Option[Long])].collect().toSeq
      assert(!after.exists(_._1 == 3L), "matched AND w>=100 row must delete")
      assert(after.find(_._1 == 2L).contains((2L, "two", Some(20L))),
        s"matched row must partial-update (n carried): $after")
      assert(after.find(_._1 == 11L).contains((11L, "eleven", None)),
        "unmatched row must insert with unmentioned column NULL")
      assert(after.find(_._1 == 5L).contains((5L, "v5", Some(50L))),
        "rows with no applicable branch stay untouched")
      assert(after.size == 10) // 10 - 1 deleted + 1 inserted
      // insert-only merge: matched rows must NOT be overwritten
      Seq((2L, "CLOBBER", 0L), (12L, "twelve", 0L)).toDF("k", "v", "n")
        .createOrReplaceTempView("gm_insonly")
      spark.sql("""MERGE INTO hubgm.default.t t USING gm_insonly s
                  |ON t.k = s.k
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val ins = spark.sql("SELECT k, v FROM hubgm.default.t WHERE k IN (2, 12)")
        .as[(Long, String)].collect().toMap
      assert(ins(2L) == "two" && ins(12L) == "twelve",
        s"insert-only merge must leave matched rows untouched: $ins")
      // delete-only merge (matched-only, no insert branch): unmatched
      // source rows are dropped, matched ones removed
      Seq(12L, 999L).toDF("k").createOrReplaceTempView("gm_delonly")
      spark.sql("""MERGE INTO hubgm.default.t t USING gm_delonly s
                  |ON t.k = s.k
                  |WHEN MATCHED THEN DELETE""".stripMargin)
      val ks = spark.sql("SELECT k FROM hubgm.default.t").as[Long]
        .collect().toSet
      assert(!ks.contains(12L) && ks.size == 10, s"$ks")
      // FLAT hub: DELETE branch rides the same atomic commit
      VersionedHub.write(spark,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
        s"$base/flat", Seq("k"))
      Seq((2L, "B"), (4L, "d")).toDF("k", "v")
        .createOrReplaceTempView("gm_flat")
      spark.sql("""MERGE INTO hubgm.default.flat t USING gm_flat s
                  |ON t.k = s.k
                  |WHEN MATCHED THEN DELETE
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(spark.sql("SELECT k FROM hubgm.default.flat ORDER BY k")
        .as[Long].collect().toSeq == Seq(1L, 3L, 4L))
      assert(VersionedHub.history(spark, s"$base/flat").size == 2)
    }
  }

  test("WHEN NOT MATCHED BY SOURCE: conditional UPDATE/DELETE of target-only rows, one atomic commit") {
    withCatalog("hubnmbs") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"),
        s"$base/t", Seq("k"), 4)
      Seq((2L, "TWO"), (3L, "THREE"), (11L, "eleven")).toDF("k", "label")
        .createOrReplaceTempView("nmbs_src")
      // full branch matrix in one statement: matched update, unmatched
      // insert, target-only rows conditionally deleted or stamped
      spark.sql("""MERGE INTO hubnmbs.default.t t USING nmbs_src s
                  |ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET v = s.label
                  |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.label)
                  |WHEN NOT MATCHED BY SOURCE AND t.k > 8 THEN DELETE
                  |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(t.v, '-stale')""".stripMargin)
      assert(VersionedHub.history(spark, s"$base/t").size == 2,
        "all four branch kinds must land as ONE commit")
      val after = spark.sql("SELECT k, v FROM hubnmbs.default.t ORDER BY k")
        .as[(Long, String)].collect().toSeq
      assert(after == Seq(
        (1L, "v1-stale"), (2L, "TWO"), (3L, "THREE"), (4L, "v4-stale"),
        (5L, "v5-stale"), (6L, "v6-stale"), (7L, "v7-stale"),
        (8L, "v8-stale"), (11L, "eleven")), after.toString)
      // NMBS-only sync-to-source: delete everything the source lacks
      Seq(2L, 3L, 11L).toDF("k").createOrReplaceTempView("nmbs_keep")
      spark.sql("""MERGE INTO hubnmbs.default.t t USING nmbs_keep s
                  |ON t.k = s.k
                  |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      assert(spark.sql("SELECT k FROM hubnmbs.default.t ORDER BY k")
        .as[Long].collect().toSeq == Seq(2L, 3L, 11L))
      // NULL-keyed target rows cannot be addressed by the keyed commit:
      // refused loudly, not silently skipped or duplicated
      VersionedHub.write(spark,
        Seq((Option.empty[Long], "nullkey")).toDF("k", "v"),
        s"$base/t", Seq("k"))
      val e = intercept[Exception](spark.sql(
        """MERGE INTO hubnmbs.default.t t USING nmbs_keep s
          |ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
      def rootMsg(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" | ")
      assert(rootMsg(e).contains("NULL"), rootMsg(e))
      // excluding the NULL-keyed rows via the branch condition works:
      // target-only rows are now {3, 11, NULL}; the condition spares NULL
      Seq(2L).toDF("k").createOrReplaceTempView("nmbs_keep2")
      spark.sql("""MERGE INTO hubnmbs.default.t t USING nmbs_keep2 s
                  |ON t.k = s.k
                  |WHEN NOT MATCHED BY SOURCE AND t.k IS NOT NULL
                  |  THEN DELETE""".stripMargin)
      val ks = spark.sql("SELECT k FROM hubnmbs.default.t")
        .as[Option[Long]].collect().toSet
      assert(ks == Set(Some(2L), None), ks.toString)
    }
  }

  test("MERGE with extra non-key ON conjuncts: excluded rows route to NOT MATCHED branches, Delta-style") {
    withCatalog("hubon") { base =>
      def rootMsg(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" | ")
      // target: k 1..8, tier old for k<=4, new above
      def seed(name: String): Unit = VersionedHub.writeBucketed(spark,
        (1L to 8L).map(k =>
          (k, if (k <= 4) "old" else "new", s"v$k")).toDF("k", "tier", "v"),
        s"$base/$name", Seq("k"), 4)
      seed("t1")
      Seq((2L, "U2"), (6L, "U6"), (9L, "U9")).toDF("k", "label")
        .createOrReplaceTempView("on_src")
      // matched-only merge: the extra target-side conjunct restricts the
      // matched set — k=6 key-matches but tier='new' excludes it, and with
      // no INSERT branch it is simply untouched (Delta semantics)
      spark.sql("""MERGE INTO hubon.default.t1 t USING on_src s
                  |ON t.k = s.k AND t.tier = 'old'
                  |WHEN MATCHED THEN UPDATE SET v = s.label""".stripMargin)
      val after1 = spark.sql("SELECT k, v FROM hubon.default.t1 ORDER BY k")
        .as[(Long, String)].collect().toSeq
      assert(after1 == (1L to 8L).map(k =>
        (k, if (k == 2) "U2" else s"v$k")), after1.toString)
      // INSERT onto a key whose match the extra conjunct excluded is the
      // one shape the keyed hub cannot store (Delta would hold two rows
      // under k=6) — refused loudly, and the failed MERGE commits nothing
      val v1 = VersionedHub.history(spark, s"$base/t1").size
      val e = intercept[Exception](spark.sql(
        """MERGE INTO hubon.default.t1 t USING on_src s
          |ON t.k = s.k AND t.tier = 'old'
          |WHEN MATCHED THEN UPDATE SET v = s.label
          |WHEN NOT MATCHED THEN INSERT (k, tier, v) VALUES (s.k, 'ins', s.label)""".stripMargin))
      assert(rootMsg(e).contains("already exists"), rootMsg(e))
      assert(VersionedHub.history(spark, s"$base/t1").size == v1,
        "a refused MERGE must not commit")
      // restricting the source the same way makes it legal: k=9 (truly
      // absent) inserts, k=2 updates, k=6 drops out of the source
      spark.sql("""MERGE INTO hubon.default.t1 t USING
                  |  (SELECT * FROM on_src WHERE k != 6) s
                  |ON t.k = s.k AND t.tier = 'old'
                  |WHEN MATCHED THEN UPDATE SET v = s.label
                  |WHEN NOT MATCHED THEN INSERT (k, tier, v) VALUES (s.k, 'ins', s.label)""".stripMargin)
      assert(spark.sql(
        "SELECT v FROM hubon.default.t1 WHERE k = 9").as[String].head() == "U9")
      // NMBS interaction (Delta semantics): a target row whose key match
      // the extra conjunct excluded is NOT MATCHED BY SOURCE — and when
      // the NMBS branch DELETEs it, the same-key INSERT becomes legal in
      // the same commit (net state = Delta's: old row out, new row in)
      seed("t2")
      spark.sql("""MERGE INTO hubon.default.t2 t USING on_src s
                  |ON t.k = s.k AND t.tier = 'old'
                  |WHEN MATCHED THEN UPDATE SET v = s.label
                  |WHEN NOT MATCHED THEN INSERT (k, tier, v) VALUES (s.k, 'ins', s.label)
                  |WHEN NOT MATCHED BY SOURCE AND t.tier = 'new' THEN DELETE""".stripMargin)
      val after2 = spark.sql(
        "SELECT k, tier, v FROM hubon.default.t2 ORDER BY k")
        .as[(Long, String, String)].collect().toSeq
      // k=2 updated; k=1,3,4 old + source-absent stay (NMBS cond false);
      // k=5,7,8 tier=new target-only → deleted; k=6 excluded match
      // deleted by NMBS, re-inserted as 'ins'; k=9 inserted
      assert(after2 == Seq(
        (1L, "old", "v1"), (2L, "old", "U2"), (3L, "old", "v3"),
        (4L, "old", "v4"), (6L, "ins", "U6"), (9L, "ins", "U9")),
        after2.toString)
      assert(VersionedHub.history(spark, s"$base/t2").size == 2,
        "routing + deletes + inserts must land as ONE commit")
      // source-side extra conjuncts work too, and the canonical star/star
      // shape with extras routes through the general path (the shortcut
      // would ignore the predicate)
      seed("t3")
      Seq((3L, "old", "S3"), (7L, "new", "S7"), (10L, "new", "S10"))
        .toDF("k", "tier", "v").createOrReplaceTempView("on_src3")
      spark.sql("""MERGE INTO hubon.default.t3 t USING on_src3 s
                  |ON t.k = s.k AND s.tier = 'new'
                  |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      val after3 = spark.sql("SELECT k, v FROM hubon.default.t3 ORDER BY k")
        .as[(Long, String)].collect().toSeq
      assert(after3 == (1L to 8L).map(k =>
        (k, if (k == 7) "S7" else s"v$k")), after3.toString)
      // non-deterministic extras refused loudly
      val nd = intercept[Exception](spark.sql(
        """MERGE INTO hubon.default.t3 t USING on_src3 s
          |ON t.k = s.k AND rand() < 0.5
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin))
      assert(rootMsg(nd).toLowerCase.contains("non-deterministic"),
        rootMsg(nd))
    }
  }

  test("MERGE cardinality: multiple source rows matching one target row fail loudly in the general shape") {
    withCatalog("hubmm") { base =>
      VersionedHub.writeBucketed(spark,
        Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "n"),
        s"$base/t", Seq("k"), 4)
      // two source rows hit target key 2 and route to UPDATE/DELETE: the
      // outcome would be order-dependent (worst case one routes to the
      // commit's deletes and the other re-inserts the key) — SQL MERGE and
      // Delta raise a multiple-matches error here, and so do we
      Seq((2L, "two", 5L), (2L, "TWO", 500L), (9L, "nine", 1L))
        .toDF("k", "label", "w").createOrReplaceTempView("mm_src")
      val v1 = VersionedHub.history(spark, s"$base/t").last.version
      val e = intercept[Exception](spark.sql(
        """MERGE INTO hubmm.default.t t USING mm_src s
          |ON t.k = s.k
          |WHEN MATCHED AND s.w >= 100 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.label
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.label)""".stripMargin))
      def rootMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" | "))
      assert(rootMsg(e).contains("multiple source rows matched"), rootMsg(e))
      // the failed MERGE must not have committed anything
      assert(VersionedHub.history(spark, s"$base/t").last.version == v1)
      assert(spark.sql("SELECT v FROM hubmm.default.t WHERE k = 2")
        .as[String].head() == "b")
      // duplicates ONLY among unmatched (insert-routed) rows are fine —
      // no target row is modified twice
      Seq((7L, "s1", 1L), (7L, "s2", 2L), (2L, "two", 5L))
        .toDF("k", "label", "w").createOrReplaceTempView("mm_ins")
      spark.sql(
        """MERGE INTO hubmm.default.t t USING mm_ins s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.label
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.label)""".stripMargin)
      assert(spark.sql("SELECT v FROM hubmm.default.t WHERE k = 2")
        .as[String].head() == "two")
      assert(spark.sql("SELECT count(*) FROM hubmm.default.t WHERE k = 7")
        .as[Long].head() >= 1L)
      // the CANONICAL star/star shape is the hub's native upsert and keeps
      // its documented last-writer-wins semantics (no deletes can race)
      Seq((1L, "x", 1L), (1L, "y", 2L)).toDF("k", "v", "n")
        .createOrReplaceTempView("mm_star")
      spark.sql(
        """MERGE INTO hubmm.default.t t USING mm_star s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(spark.sql("SELECT count(*) FROM hubmm.default.t WHERE k = 1")
        .as[Long].head() == 1L)
    }
  }

  test("UPDATE rewrites only the buckets holding matches; SET sees pre-update rows; misses are a no-op") {
    withCatalog("hubupd") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 40L).map(k => (k, s"v$k", k * 10)).toDF("k", "v", "n"),
        s"$base/t", Seq("k"), 8)
      val v1 = VersionedHub.history(spark, s"$base/t").last
      // multiple SETs, all evaluated against the PRE-update row (n = n + k
      // must use the original n even though v is also being set)
      spark.sql(
        "UPDATE hubupd.default.t SET v = concat(v, '!'), n = n + k WHERE k <= 3")
      val v2 = VersionedHub.history(spark, s"$base/t").last
      assert(v2.version == v1.version + 1 && v2.rows == 40)
      val low = spark.sql(
        "SELECT k, v, n FROM hubupd.default.t WHERE k <= 4 ORDER BY k")
        .as[(Long, String, Long)].collect().toSeq
      assert(low == Seq((1L, "v1!", 11L), (2L, "v2!", 22L), (3L, "v3!", 33L),
        (4L, "v4", 40L)))
      // buckets without matches share their dirs structurally
      assert((v1.buckets.toSet intersect v2.buckets.toSet).nonEmpty)
      // pre-update snapshot still time-travelable
      assert(spark.sql(
        "SELECT v FROM hubupd.default.t VERSION AS OF 1 WHERE k = 1")
        .as[String].head() == "v1")
      // an UPDATE matching nothing commits nothing
      spark.sql("UPDATE hubupd.default.t SET n = 0 WHERE k > 1000")
      assert(VersionedHub.history(spark, s"$base/t").last.version == v2.version)
      // NULL-predicate rows keep their values
      VersionedHub.writeBucketed(spark,
        Seq((100L, null: String, 7L)).toDF("k", "v", "n"),
        s"$base/t", Seq("k"), 8)
      spark.sql("UPDATE hubupd.default.t SET n = -1 WHERE v < 'v2'")
      val nByK = spark.sql(
        "SELECT k, n FROM hubupd.default.t WHERE k IN (1, 19, 100)")
        .as[(Long, Long)].collect().toMap
      assert(nByK(1L) == -1L && nByK(19L) == -1L,
        s"matching rows must update: $nByK")
      assert(nByK(100L) == 7L, "NULL-predicate row must keep its value")
      // WHERE-less UPDATE touches every row
      spark.sql("UPDATE hubupd.default.t SET n = 0")
      assert(spark.sql(
        "SELECT count(*) FROM hubupd.default.t WHERE n <> 0")
        .as[Long].head() == 0L)
      // bucket-routing columns are refused (rows would leave the bucket
      // their key routes to)
      val e = intercept[Exception](
        spark.sql("UPDATE hubupd.default.t SET k = k + 1 WHERE k = 5"))
      assert(e.getMessage.contains("bucket routing column"), e.getMessage)
      // time travel UPDATE refused (parser or rule — either gate holds)
      intercept[Exception](spark.sql(
        "UPDATE hubupd.default.t VERSION AS OF 1 SET n = 5"))
      // FLAT hubs update through the snapshot-rewrite path
      VersionedHub.write(spark,
        Seq((1L, "a"), (2L, "b")).toDF("k", "v"), s"$base/flat", Seq.empty)
      spark.sql("UPDATE hubupd.default.flat SET v = upper(v) WHERE k = 2")
      assert(spark.sql("SELECT v FROM hubupd.default.flat ORDER BY k")
        .as[String].collect().toSeq == Seq("a", "B"))
    }
  }

  test("UPDATE candidate pruning: stats-proven no-match buckets are not rewritten") {
    withCatalog("hubupp") { base =>
      // one bucket holds the high-n rows; every other bucket's file stats
      // prove no match for n >= 900 — their dirs must carry over even
      // though the predicate is not on the routing column
      VersionedHub.writeBucketed(spark,
        ((1L to 40L).map(k => (k, k)) :+ (41L, 950L)).toDF("k", "n"),
        s"$base/t", Seq("k"), 8)
      val v1 = VersionedHub.history(spark, s"$base/t").last
      spark.sql("UPDATE hubupp.default.t SET n = n + 1 WHERE n >= 900")
      val v2 = VersionedHub.history(spark, s"$base/t").last
      val rewritten = v2.buckets.count { case (b, d) =>
        !v1.buckets.get(b).contains(d) }
      assert(rewritten == 1,
        s"stats pruning must bound the rewrite to the ONE matching bucket, " +
          s"rewrote $rewritten")
      assert(spark.sql("SELECT max(n) FROM hubupp.default.t")
        .as[Long].head() == 951L)
      assert(spark.sql("SELECT count(*) FROM hubupp.default.t")
        .as[Long].head() == 41L)
    }
  }

  test("UPDATE recomputes candidate buckets per retry: a concurrent upsert " +
    "into a previously-no-match bucket is still updated") {
    import graft.writers.CommitStore
    withCatalog("hubraceu") { base =>
      val hub = s"$base/t"
      VersionedHub.writeBucketed(spark,
        ((1L to 40L).map(k => (k, k)) :+ (41L, 950L)).toDF("k", "x"),
        hub, Seq("k"), 8)
      @volatile var fired = false
      CommitStore.register("file", new CommitStore {
        override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
            p: org.apache.hadoop.fs.Path, content: Array[Byte]): Boolean = {
          if (!fired) {
            fired = true
            VersionedHub.write(spark,
              (42L to 80L).map(k => (k, 999L)).toDF("k", "x"), hub, Seq("k"))
          }
          CommitStore.CreateExclusive.putIfAbsent(fs, p, content)
        }
      })
      try spark.sql("UPDATE hubraceu.default.t SET x = 0 WHERE x >= 900")
      finally CommitStore.unregister("file")
      assert(fired, "the interceptor never saw the update's commit attempt")
      val after = VersionedHub.read(spark, hub)
      assert(after.filter($"x" >= 900).count() == 0L,
        "rows upserted concurrently into previously-no-match buckets " +
          "must still be updated")
      assert(after.count() == 80L)
      assert(after.filter($"x" === 0).count() == 40L) // 39 race rows + k=41
    }
  }

  test("DELETE recomputes candidate buckets per retry: a concurrent upsert " +
    "into a previously-no-match bucket is still deleted") {
    import graft.writers.CommitStore
    withCatalog("hubrace") { base =>
      val hub = s"$base/t"
      // seed: keys 1..40 carry x = k (≤ 40), key 41 carries x = 950 — so
      // `x >= 900` matches ONE bucket and every other bucket's file stats
      // PROVE no-match (the pruning the race exploits)
      VersionedHub.writeBucketed(spark,
        ((1L to 40L).map(k => (k, k)) :+ (41L, 950L)).toDF("k", "x"),
        hub, Seq("k"), 8)
      val v1 = VersionedHub.history(spark, hub).last
      // interpose on the COMMIT POINT: the delete's first manifest claim
      // loses the race to a concurrent upsert that lands x = 999 rows
      // across many buckets — buckets whose OLD stats proved no-match.
      // The retry must recompute its candidate set against the fresh base
      // (stale-set behavior would silently leave those rows undeleted).
      @volatile var fired = false
      CommitStore.register("file", new CommitStore {
        override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
            p: org.apache.hadoop.fs.Path, content: Array[Byte]): Boolean = {
          if (!fired) {
            fired = true
            VersionedHub.write(spark,
              (42L to 80L).map(k => (k, 999L)).toDF("k", "x"), hub, Seq("k"))
            // the upsert just claimed this version number — losing the
            // create-exclusive race is the real-filesystem outcome
          }
          CommitStore.CreateExclusive.putIfAbsent(fs, p, content)
        }
      })
      try spark.sql("DELETE FROM hubrace.default.t WHERE x >= 900")
      finally CommitStore.unregister("file")
      assert(fired, "the interceptor never saw the delete's commit attempt")
      val after = VersionedHub.read(spark, hub)
      assert(after.filter($"x" >= 900).count() == 0L,
        "rows upserted concurrently into previously-no-match buckets " +
          "must still be deleted")
      // the non-matching seed rows all survive
      assert(after.as[(Long, Long)].collect().toSet ==
        (1L to 40L).map(k => (k, k)).toSet)
      // and the log shows upsert + delete as separate committed versions
      val hist = VersionedHub.history(spark, hub)
      assert(hist.last.version >= v1.version + 2, hist.map(_.version).toString)
    }
  }

  test("TRUNCATE TABLE and INSERT OVERWRITE keep the bucketed layout and time travel") {
    withCatalog("hubtr") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), s"$base/t",
        Seq("k"), 4)
      // INSERT OVERWRITE: one full-replacement version
      spark.sql("INSERT OVERWRITE hubtr.default.t VALUES (100, 'o1'), (101, 'o2')")
      assert(spark.sql("SELECT k, v FROM hubtr.default.t")
        .as[(Long, String)].collect().toSet == Set((100L, "o1"), (101L, "o2")))
      // the pre-overwrite snapshot is still time-travelable
      assert(spark.sql("SELECT count(*) FROM hubtr.default.t VERSION AS OF 1")
        .as[Long].head() == 20L)
      val v2 = VersionedHub.history(spark, s"$base/t").last
      assert(v2.nBuckets.contains(4) && v2.rows == 2)
      // TRUNCATE: empties the table, layout survives for later writes
      spark.sql("TRUNCATE TABLE hubtr.default.t")
      assert(spark.sql("SELECT count(*) FROM hubtr.default.t")
        .as[Long].head() == 0L)
      val v3 = VersionedHub.history(spark, s"$base/t").last
      assert(v3.nBuckets.contains(4) && v3.rows == 0 && v3.buckets.isEmpty)
      // a keyed write after truncate routes through the SAME layout
      VersionedHub.write(spark, Seq((7L, "back")).toDF("k", "v"),
        s"$base/t", Seq("k"))
      val v4 = VersionedHub.history(spark, s"$base/t").last
      assert(v4.nBuckets.contains(4) && v4.rows == 1 && v4.buckets.size == 1)
      assert(spark.sql("SELECT v FROM hubtr.default.t WHERE k = 7")
        .as[String].head() == "back")
    }
  }

  test("CALL procedures: optimize/zorder/restore/vacuum/repair run the maintenance ops from SQL") {
    withCatalog("hubproc") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 40L).map(k => (k, k * 2, k % 7)).toDF("k", "a", "b"),
        s"$base/t", Seq("k"), 4)
      VersionedHub.writeBucketed(spark,
        Seq((1L, 0L, 0L)).toDF("k", "a", "b"), s"$base/t", Seq("k"), 4)
      // optimize dispatches on layout: bucketed → per-bucket compaction
      assert(spark.sql("CALL hubproc.system.optimize(`table` => 't')")
        .as[Int].head() == 3)
      assert(spark.sql("CALL hubproc.system.zorder(`table` => 't', " +
        "col_a => 'a', col_b => 'b')").as[Int].head() == 4)
      // restore through SQL — content back to version 2, zero data copied
      assert(spark.sql("CALL hubproc.system.restore(`table` => 't', " +
        "version => 2)").as[Int].head() == 5)
      assert(VersionedHub.read(spark, s"$base/t")
        .filter($"k" === 1 && $"a" === 0).count() == 1)
      // DRY RUN first: reports what a real vacuum would drop, deletes
      // nothing (history intact)
      val dry = spark.sql("CALL hubproc.system.vacuum(`table` => 't', " +
        "keep_versions => 2, retain_ms => 0, dry_run => true)")
        .as[(Int, Int, Int)].head()
      assert(dry._2 == 3, s"dry run must report 3 droppable versions: $dry")
      assert(dry._1 == 2,
        s"dry-run kept_versions must PREDICT the post-vacuum count: $dry")
      assert(VersionedHub.history(spark, s"$base/t").map(_.version) ==
        Seq(1, 2, 3, 4, 5), "dry run must delete nothing")
      // vacuum with named args; restored dirs survive (manifest-referenced)
      val vac = spark.sql("CALL hubproc.system.vacuum(`table` => 't', " +
        "keep_versions => 2, retain_ms => 0)").as[(Int, Int, Int)].head()
      assert(vac._1 == 2 && vac._2 == dry._2,
        s"real vacuum must drop what the dry run reported: dry=$dry vac=$vac")
      assert(VersionedHub.history(spark, s"$base/t").map(_.version) ==
        Seq(4, 5))
      assert(VersionedHub.read(spark, s"$base/t").count() == 40)
      assert(spark.sql("CALL hubproc.system.repair(`table` => 't', " +
        "min_age_ms => 0)").as[Int].head() == 0)
      // discovery + unknown-procedure refusal
      assert(spark.sql("SHOW PROCEDURES IN hubproc.system")
        .select("procedure_name").as[String].collect().toSet ==
        Set("vacuum", "optimize", "zorder", "restore", "repair", "clone",
          "bloom_index", "purge", "convert", "convert_partitioned"))
      val e = intercept[Exception](
        spark.sql("CALL hubproc.system.nope(`table` => 't')"))
      assert(e.getMessage.contains("FAILED_TO_LOAD_ROUTINE") ||
        e.getMessage.contains("unknown hub procedure"), e.getMessage)
      // flat optimize path through the same procedure
      VersionedHub.write(spark,
        (1 to 100).map(i => (i, s"v$i")).toDF("k", "v").repartition(8),
        s"$base/flat", Seq("k"))
      assert(spark.sql("CALL hubproc.system.optimize(`table` => 'flat', " +
        "target_file_rows => 1000)").as[Int].head() == 2)
      assert(VersionedHub.read(spark, s"$base/flat").count() == 100)
    }
  }

  test("t$files lists the tip snapshot's live files with their skipping stats") {
    withCatalog("hubfiles") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"), s"$base/t",
        Seq("k"), 4)
      VersionedHub.writeBucketed(spark,
        Seq((1L, "upd")).toDF("k", "v"), s"$base/t", Seq("k"), 4)
      val files = spark.sql("SELECT * FROM hubfiles.default.`t$files`")
      val rows = files.collect()
      // tip manifest only: live files, not every file ever written
      val live = VersionedHub.versionAt(spark, s"$base/t", None)
        .fileStats.keySet
      assert(rows.map(_.getAs[String]("file")).toSet == live)
      assert(rows.map(_.getAs[Long]("rows")).sum == 40)
      assert(rows.forall(_.getAs[Long]("bytes") > 0))
      assert(rows.forall(r => !r.isNullAt(r.fieldIndex("bucket"))))
      // the recorded k min/max literals cover the full key range
      val mins = rows.map(_.getAs[Map[String, String]]("col_min")("k").toLong)
      val maxs = rows.map(_.getAs[Map[String, String]]("col_max")("k").toLong)
      assert(mins.min == 1 && maxs.max == 40)
      // a metadata scan runs no Spark job over data files (local relation)
      val plan = files.queryExecution.executedPlan.toString
      assert(!plan.contains("FileScan parquet"), plan)
      val missing = intercept[Exception](
        spark.sql("SELECT * FROM hubfiles.default.`nope$files`").collect())
      assert(missing.getMessage.toLowerCase.contains("table"),
        missing.getMessage)
    }
  }

  test("DESCRIBE DETAIL / t$detail: one driver-local operational row from the manifest") {
    withCatalog("hubdet") { base =>
      spark.sql("CREATE TABLE hubdet.default.t " +
        "(k BIGINT NOT NULL, v STRING) " +
        "CLUSTERED BY (k) INTO 4 BUCKETS")
      spark.sql("INSERT INTO hubdet.default.t " +
        "SELECT id, concat('v', id) FROM range(1, 41)")
      spark.sql("DELETE FROM hubdet.default.t WHERE k IN (2, 3)")
      spark.sql("ALTER TABLE hubdet.default.t RENAME COLUMN v TO label")
      val d = spark.sql("DESCRIBE DETAIL hubdet.default.t").collect()
      assert(d.length == 1)
      val r = d.head
      assert(r.getAs[String]("format") == "graft-hub")
      assert(r.getAs[String]("location").contains(base))
      assert(r.getAs[Int]("version") == 4 &&
        r.getAs[Int]("num_versions") == 4)
      assert(r.getAs[Long]("rows") == 38)
      assert(r.getAs[Int]("n_buckets") == 4 &&
        r.getAs[String]("bucket_cols") == "k")
      assert(r.getAs[Long]("num_checks") == 1, "NOT NULL lowers to a check")
      assert(r.getAs[Boolean]("column_mapping"), "rename freezes a mapping")
      assert(r.getSeq[String](r.fieldIndex("path_cols")).isEmpty)
      assert(r.getAs[Long]("num_dv_files") >= 1 &&
        r.getAs[Long]("num_dv_rows") == 2)
      assert(r.getAs[Long]("num_files") > 0 &&
        r.getAs[Long]("size_in_bytes") > 0)
      assert(r.getAs[Long]("created_at") <= r.getAs[Long]("last_commit_at"))
      // driver-local: no data-file scan in the plan
      val plan = spark.sql("SELECT * FROM hubdet.default.`t$detail`")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("FileScan parquet"), plan)
      // a partitioned adoption surfaces its path columns here
      (1L to 6L).map(k => (k, s"d${k % 2}")).toDF("k", "d")
        .write.partitionBy("d").parquet(s"$base/padopt")
      spark.sql("CONVERT TO HUB hubdet.default.padopt PARTITIONED BY (d)")
      val pd = spark.sql("DESCRIBE DETAIL hubdet.default.padopt").head()
      assert(pd.getSeq[String](pd.fieldIndex("path_cols")) == Seq("d"))
      val missing = intercept[Exception](
        spark.sql("SELECT * FROM hubdet.default.`nope$detail`").collect())
      assert(missing.getMessage.toLowerCase.contains("table"),
        missing.getMessage)
    }
  }

  test("TIMESTAMP AS OF resolves to the latest commit at or before the instant") {
    withCatalog("hubts") { base =>
      VersionedHub.writeBucketed(spark,
        Seq((1L, "a")).toDF("k", "v"), s"$base/t", Seq("k"), 4)
      Thread.sleep(5) // distinct commit instants so the boundaries below exist
      VersionedHub.writeBucketed(spark,
        Seq((1L, "b")).toDF("k", "v"), s"$base/t", Seq("k"), 4)
      val ts = VersionedHub.history(spark, s"$base/t").map(_.ts)
      assert(ts(0) < ts(1))
      // session zone is UTC (SparkTestBase) — format literals to match
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
      def q(t: Long): String = spark.sql(
        "SELECT v FROM hubts.default.t TIMESTAMP AS OF " +
          s"'${fmt.format(java.time.Instant.ofEpochMilli(t))}'")
        .as[String].head()
      assert(q(ts(0)) == "a")     // exactly at the v1 commit → v1
      assert(q(ts(1) - 1) == "a") // just before v2 → still v1
      assert(q(ts(1)) == "b")     // at v2 → v2
      val early = intercept[Exception](q(ts(0) - 60000))
      assert(early.getMessage.contains("no version committed at or before"),
        early.getMessage)
      // reader-option forms: epoch millis + session-zone timestamp string
      def viaOpt(v: String) = spark.read.format("graft-hub")
        .option("path", s"$base/t").option("timestampAsOf", v).load()
      assert(viaOpt(ts(0).toString).select("v").as[String].head() == "a")
      assert(viaOpt(fmt.format(java.time.Instant.ofEpochMilli(ts(1))))
        .select("v").as[String].head() == "b")
      val both = intercept[Exception](spark.read.format("graft-hub")
        .option("path", s"$base/t").option("timestampAsOf", ts(1).toString)
        .option("versionAsOf", "1").load().collect())
      assert(both.getMessage.contains("mutually exclusive"), both.getMessage)
      // a timestamp snapshot is a time-travel table: writes must refuse
      val wr = intercept[Exception](spark.sql(
        "INSERT INTO hubts.default.t TIMESTAMP AS OF " +
          s"'${fmt.format(java.time.Instant.ofEpochMilli(ts(0)))}' " +
          "VALUES (9, 'x')"))
      assert(wr.getMessage.toLowerCase.contains("time") ||
        wr.getMessage.contains("versionAsOf") ||
        wr.getMessage.toLowerCase.contains("not supported"), wr.getMessage)
    }
  }

  test("ALTER TABLE ADD/DROP/TYPE/COMMENT are zero-copy manifest commits") {
    withCatalog("hubalt") { base =>
      VersionedHub.writeBucketed(spark,
        Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "n"),
        s"$base/t", Seq("k"), 4)
      val filesBefore = VersionedHub.versionAt(spark, s"$base/t", None)
        .fileStats.keySet
      spark.sql(
        "ALTER TABLE hubalt.default.t ADD COLUMNS (note STRING COMMENT 'x')")
      // zero-copy: same live files, one more version, old rows read NULL
      val tip = VersionedHub.versionAt(spark, s"$base/t", None)
      assert(tip.fileStats.keySet == filesBefore)
      assert(tip.version == 2)
      val afterAdd = spark.table("hubalt.default.t")
      assert(afterAdd.columns.toSeq == Seq("k", "v", "n", "note"))
      assert(afterAdd.schema("note").metadata.getString("comment") == "x")
      assert(afterAdd.select("note").collect().forall(_.isNullAt(0)))
      // pre-alter time travel keeps the old schema
      assert(spark.sql("SELECT * FROM hubalt.default.t VERSION AS OF 1")
        .columns.toSeq == Seq("k", "v", "n"))
      // a write fills the evolved column; untouched rows stay NULL
      VersionedHub.writeBucketed(spark,
        Seq((1L, "a2", 11, "hello")).toDF("k", "v", "n", "note"),
        s"$base/t", Seq("k"), 4)
      assert(spark.table("hubalt.default.t").orderBy("k")
        .select("note").as[Option[String]].collect().toSeq ==
        Seq(Some("hello"), None))
      // widening TYPE change upcasts existing files in place
      spark.sql("ALTER TABLE hubalt.default.t ALTER COLUMN n TYPE BIGINT")
      assert(spark.table("hubalt.default.t").schema("n").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(spark.table("hubalt.default.t").orderBy("k")
        .select("n").as[Long].collect().toSeq == Seq(11L, 20L))
      // positioned add + comment update
      spark.sql("ALTER TABLE hubalt.default.t ADD COLUMNS (z INT AFTER k)")
      assert(spark.table("hubalt.default.t").columns.toSeq ==
        Seq("k", "z", "v", "n", "note"))
      spark.sql("ALTER TABLE hubalt.default.t ALTER COLUMN z COMMENT 'zc'")
      assert(spark.table("hubalt.default.t").schema("z")
        .metadata.getString("comment") == "zc")
      // DROP projects the column out without touching data files
      spark.sql("ALTER TABLE hubalt.default.t DROP COLUMN note")
      val afterDrop = spark.table("hubalt.default.t")
      assert(afterDrop.columns.toSeq == Seq("k", "z", "v", "n"))
      assert(afterDrop.count() == 2)
      spark.sql("ALTER TABLE hubalt.default.t DROP COLUMN IF EXISTS ghost")
      val missing = intercept[Exception](spark.sql(
        "ALTER TABLE hubalt.default.t DROP COLUMN ghost"))
      assert(missing.getMessage.contains("does not exist") ||
        missing.getMessage.toLowerCase.contains("unresolved"),
        missing.getMessage)
    }
  }

  test("ALTER TABLE: re-add never resurrects; narrowing, key drops and " +
      "the unsupported refuse") {
    withCatalog("hubalr") { base =>
      VersionedHub.writeBucketed(spark,
        Seq((1L, "a", 10)).toDF("k", "v", "n"), s"$base/t", Seq("k"), 4)
      // dropping the bucket-routing column would orphan the layout
      val keyDrop = intercept[Exception](spark.sql(
        "ALTER TABLE hubalr.default.t DROP COLUMN k"))
      assert(keyDrop.getMessage.contains("routes this table's buckets"),
        keyDrop.getMessage)
      // a re-added dropped name gets a FRESH physical name via column
      // mapping: the live file still holds v='a' under the old physical,
      // but the new column reads NULL — never the resurrected value
      spark.sql("ALTER TABLE hubalr.default.t DROP COLUMN v")
      spark.sql("ALTER TABLE hubalr.default.t ADD COLUMNS (v STRING)")
      assert(spark.table("hubalr.default.t").select("v")
        .as[Option[String]].head().isEmpty,
        "a re-added column must read NULL, not the dropped column's values")
      // the threat was real: the old file DOES still hold v='a'
      assert(spark.sql("SELECT v FROM hubalr.default.t VERSION AS OF 1")
        .as[String].head() == "a")
      // new writes land under the fresh physical name and read back
      VersionedHub.write(spark, Seq((1L, "A2")).toDF("k", "v"),
        s"$base/t", Seq("k"))
      assert(spark.table("hubalr.default.t").select("v")
        .as[String].head() == "A2")
      assert(spark.sql("SELECT v FROM hubalr.default.t VERSION AS OF 1")
        .as[String].head() == "a", "history is untouched by the re-add")
      // '#' is reserved for the mapping's physical namespace
      val hash = intercept[Exception](spark.sql(
        "ALTER TABLE hubalr.default.t ADD COLUMNS (`a#b` STRING)"))
      assert(hash.getMessage.contains("reserved"), hash.getMessage)
      // narrowing is refused — by Spark's own up-cast analysis before the
      // catalog even sees it (NOT_SUPPORTED_CHANGE_COLUMN); non-numeric
      // "up-casts" Spark permits (int→string) hit the catalog's
      // zero-copy-widening guard instead
      val narrow = intercept[Exception](spark.sql(
        "ALTER TABLE hubalr.default.t ALTER COLUMN n TYPE SMALLINT"))
      assert(narrow.getMessage.contains("widening") ||
        narrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
        narrow.getMessage)
      val toStr = intercept[Exception](spark.sql(
        "ALTER TABLE hubalr.default.t ALTER COLUMN n TYPE STRING"))
      assert(toStr.getMessage.contains("widening"), toStr.getMessage)
      // SQL-precedence "up-casts" the parquet reader can NOT apply in
      // place (probed: int32 pages under a float schema and int64 pages
      // under a double schema both throw at scan time) must be refused
      // at DDL time, not discovered at the next read
      val toFloat = intercept[Exception](spark.sql(
        "ALTER TABLE hubalr.default.t ALTER COLUMN n TYPE FLOAT"))
      assert(toFloat.getMessage.contains("widening"), toFloat.getMessage)
      spark.sql("ALTER TABLE hubalr.default.t ALTER COLUMN n TYPE BIGINT")
      val longToDouble = intercept[Exception](spark.sql(
        "ALTER TABLE hubalr.default.t ALTER COLUMN n TYPE DOUBLE"))
      assert(longToDouble.getMessage.contains("widening"),
        longToDouble.getMessage)
      // int→double IS reader-supported — prove the whole chain works
      spark.sql("ALTER TABLE hubalr.default.t DROP COLUMN IF EXISTS ghost")
      VersionedHub.writeBucketed(spark,
        Seq((2L, 30)).toDF("k", "n"), s"$base/t2", Seq("k"), 4)
      spark.sql("ALTER TABLE hubalr.default.t2 ALTER COLUMN n TYPE DOUBLE")
      assert(spark.table("hubalr.default.t2").select("n")
        .as[Double].head() == 30.0)
      // NOT NULL adds, renames and properties are refused loudly
      val notNull = intercept[Exception](spark.sql(
        "ALTER TABLE hubalr.default.t ADD COLUMNS (m INT NOT NULL)"))
      assert(notNull.getMessage.contains("always nullable"), notNull.getMessage)
      // RENAME is SUPPORTED since column mapping landed (full matrix in
      // the dedicated RENAME COLUMN tests)
      spark.sql("ALTER TABLE hubalr.default.t2 RENAME COLUMN n TO m")
      assert(spark.table("hubalr.default.t2").select("m")
        .as[Double].head() == 30.0)
      val prop = intercept[Exception](spark.sql(
        "ALTER TABLE hubalr.default.t SET TBLPROPERTIES ('a'='b')"))
      assert(prop.getMessage.contains("not support"), prop.getMessage)
      // existing-name add is a straight duplicate error
      val dup = intercept[Exception](spark.sql(
        "ALTER TABLE hubalr.default.t ADD COLUMNS (n INT)"))
      assert(dup.getMessage.toLowerCase.contains("already exists"),
        dup.getMessage)
    }
  }

  test("CALL clone: zero-copy shallow clone that evolves independently") {
    withCatalog("hubcl") { base =>
      VersionedHub.writeBucketed(spark,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
        s"$base/t", Seq("k"), 4)
      assert(spark.sql(
        "CALL hubcl.system.clone(`table` => 't', target => 't2')")
        .as[Int].head() == 1)
      // zero-copy: the clone's own data/ holds NO files yet
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/t2/data")))
      assert(spark.table("hubcl.default.t2").orderBy("k")
        .as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // planner stats flow through the rekeyed map (count answered by
      // manifest; min/max skipping keys are the qualified source paths)
      assert(VersionedHub.versionAt(spark, s"$base/t2", None)
        .fileStats.nonEmpty)
      // clone writes detach touched buckets only; the source is untouched
      VersionedHub.write(spark, Seq((2L, "B!")).toDF("k", "v"),
        s"$base/t2", Seq("k"))
      assert(spark.table("hubcl.default.t2").orderBy("k")
        .as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "B!"), (3L, "c")))
      assert(spark.table("hubcl.default.t").orderBy("k")
        .as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // source writes do not leak into the clone (old roots still live)
      VersionedHub.write(spark, Seq((3L, "C?")).toDF("k", "v"),
        s"$base/t", Seq("k"))
      assert(spark.table("hubcl.default.t2").filter($"k" === 3L)
        .select("v").as[String].head() == "c")
      // the clone's vacuum never touches source files
      VersionedHub.vacuum(spark, s"$base/t2", Some(1), retainMs = 0L)
      assert(spark.table("hubcl.default.t").count() == 3)
      assert(spark.table("hubcl.default.t2").count() == 3)
      // clone onto an existing table refuses; self-clone refuses
      val dup = intercept[Exception](spark.sql(
        "CALL hubcl.system.clone(`table` => 't', target => 't2')"))
      assert(dup.getMessage.contains("already has committed versions"),
        dup.getMessage)
      val self = intercept[Exception](spark.sql(
        "CALL hubcl.system.clone(`table` => 't', target => 't')"))
      assert(self.getMessage.contains("must differ"), self.getMessage)
    }
  }

  test("clone of a FLAT hub shares the snapshot dir until its next write") {
    withCatalog("hubclf") { base =>
      VersionedHub.write(spark,
        Seq((1, "x"), (2, "y")).toDF("id", "v"), s"$base/f", Seq("id"))
      spark.sql("CALL hubclf.system.clone(`table` => 'f', target => 'f2')")
      assert(spark.table("hubclf.default.f2").orderBy("id")
        .as[(Int, String)].collect().toSeq == Seq((1, "x"), (2, "y")))
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/f2/data")))
      // a flat write rewrites the whole snapshot locally — fully detached
      VersionedHub.write(spark,
        Seq((2, "Y!")).toDF("id", "v"), s"$base/f2", Seq("id"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/f2/data")))
      assert(spark.table("hubclf.default.f").orderBy("id")
        .as[(Int, String)].collect().toSeq == Seq((1, "x"), (2, "y")))
      assert(spark.table("hubclf.default.f2").orderBy("id")
        .as[(Int, String)].collect().toSeq == Seq((1, "x"), (2, "Y!")))
    }
  }

  test("CTAS and REPLACE TABLE AS SELECT; drop/recreate never serves " +
      "stale cached manifests") {
    withCatalog("hubctas") { base =>
      spark.sql("CREATE TABLE hubctas.default.src (k BIGINT, v STRING)")
      spark.sql("INSERT INTO hubctas.default.src VALUES (1,'a'), (2,'b')")
      spark.sql("CREATE TABLE hubctas.default.dst AS " +
        "SELECT k, upper(v) AS v FROM hubctas.default.src")
      assert(spark.table("hubctas.default.dst").orderBy("k")
        .as[(Long, String)].collect().toSeq == Seq((1L, "A"), (2L, "B")))
      // REPLACE = drop + recreate at the SAME path with a NEW schema: the
      // manifest cache must not serve the old incarnation's v1 (this was
      // a real bug — the round-12 LRU cache assumed manifest immutability,
      // which DDL at a reused path violates)
      spark.sql("REPLACE TABLE hubctas.default.dst AS " +
        "SELECT k + 10 AS k FROM hubctas.default.src")
      assert(spark.table("hubctas.default.dst").schema.fieldNames.toSeq ==
        Seq("k"))
      assert(spark.table("hubctas.default.dst").orderBy("k")
        .as[Long].collect().toSeq == Seq(11L, 12L))
      // version numbering restarted with the new incarnation
      assert(graft.writers.VersionedHub.history(spark, s"$base/dst")
        .map(_.version).max <= 2)
      // DROP + CREATE directly (the primitive REPLACE composes)
      spark.sql("DROP TABLE hubctas.default.dst")
      spark.sql("CREATE TABLE hubctas.default.dst (x INT)")
      assert(spark.table("hubctas.default.dst").schema.fieldNames.toSeq ==
        Seq("x"))
      // RENAME onto a previously-cached path must also re-resolve
      spark.sql("DROP TABLE hubctas.default.dst")
      // (the new name is resolved WITHIN the catalog — no catalog prefix)
      spark.sql("ALTER TABLE hubctas.default.src RENAME TO default.dst")
      assert(spark.table("hubctas.default.dst").orderBy("k")
        .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    }
  }

  test("CALL bloom_index: subsequent commits write parquet footer blooms") {
    withCatalog("hubbl") { base =>
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val path = s"$base/t"
      def bloomOffsets(files: Iterable[String]): Map[String, Boolean] = {
        val conf = spark.sessionState.newHadoopConf()
        files.flatMap { rel =>
          val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(
            graft.writers.VersionedHub.resolve(path, rel)), conf)
          val r = ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
              .map(c => c.getPath.toDotString -> (c.getBloomFilterOffset >= 0))
          } finally r.close()
        }.groupBy(_._1).map { case (c, vs) => c -> vs.exists(_._2) }
      }
      VersionedHub.writeBucketed(spark,
        (1L to 200L).map(i => (i, s"val_$i")).toDF("k", "v"),
        path, Seq("k"), 4)
      // pre-index files carry no blooms
      assert(bloomOffsets(VersionedHub.versionAt(spark, path, None)
        .statsNew.keys).forall(!_._2))
      assert(spark.sql(
        "CALL hubbl.system.bloom_index(`table` => 't', cols => 'v')")
        .as[Int].head() == 2)
      // the NEXT commit's files bloom exactly the flagged column
      VersionedHub.write(spark,
        (201L to 260L).map(i => (i, s"val_$i")).toDF("k", "v"),
        path, Seq("k"))
      val offs = bloomOffsets(
        VersionedHub.versionAt(spark, path, None).statsNew.keys)
      assert(offs("v") && !offs("k"), s"bloom on v only: $offs")
      // equality results unchanged (pruning is parquet-native + advisory)
      assert(spark.table("hubbl.default.t").filter($"v" === "val_42")
        .as[(Long, String)].collect().toSeq == Seq((42L, "val_42")))
      // the flag survives a RENAME: options key by the frozen physical name
      spark.sql("ALTER TABLE hubbl.default.t RENAME COLUMN v TO label")
      VersionedHub.write(spark, Seq((261L, "val_261")).toDF("k", "label"),
        path, Seq("k"))
      val offs2 = bloomOffsets(
        VersionedHub.versionAt(spark, path, None).statsNew.keys)
      assert(offs2("v") && !offs2("k"),
        s"renamed column blooms under its physical name: $offs2")
      // disable stops new blooms
      spark.sql("CALL hubbl.system.bloom_index(`table` => 't', " +
        "cols => 'label', enable => false)")
      VersionedHub.write(spark, Seq((262L, "val_262")).toDF("k", "label"),
        path, Seq("k"))
      assert(bloomOffsets(VersionedHub.versionAt(spark, path, None)
        .statsNew.keys).forall(!_._2))
      // unknown column refuses
      val bad = intercept[Exception](spark.sql(
        "CALL hubbl.system.bloom_index(`table` => 't', cols => 'zzz')"))
      assert(bad.getMessage.contains("do not exist"), bad.getMessage)
    }
  }

  test("RENAME COLUMN via column mapping: zero-copy, full lifecycle") {
    withCatalog("hubrn") { base =>
      VersionedHub.writeBucketed(spark,
        Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
          .toDF("k", "v", "x"),
        s"$base/t", Seq("k"), 4)
      def dataFiles(): Set[String] = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(base, "t"))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.toString)
            .filter(_.endsWith(".parquet")).toSet
        } finally s.close()
      }
      val before = dataFiles()
      spark.sql("ALTER TABLE hubrn.default.t RENAME COLUMN v TO label")
      spark.sql("ALTER TABLE hubrn.default.t RENAME COLUMN x TO score")
      // zero-copy: not one data file touched
      assert(dataFiles() == before)
      // old files read under the new logical names
      assert(spark.table("hubrn.default.t").orderBy("k")
        .as[(Long, String, Long)].collect().toSeq ==
        Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
      // time travel shows the pre-rename names
      assert(spark.sql("SELECT * FROM hubrn.default.t VERSION AS OF 1")
        .schema.fieldNames.toSeq == Seq("k", "v", "x"))
      // post-rename upsert speaks the new names; NEW files must spell the
      // columns by their frozen PHYSICAL names so the snapshot's file set
      // stays homogeneous
      VersionedHub.write(spark,
        Seq((2L, "B!", 200L), (4L, "d", 40L)).toDF("k", "label", "score"),
        s"$base/t", Seq("k"))
      assert(spark.table("hubrn.default.t").orderBy("k")
        .as[(Long, String, Long)].collect().toSeq ==
        Seq((1L, "a", 10L), (2L, "B!", 200L), (3L, "c", 30L), (4L, "d", 40L)))
      val newFiles = (dataFiles() -- before).toSeq
      assert(newFiles.nonEmpty)
      val raw = spark.read.parquet(newFiles: _*)
      assert(raw.schema.fieldNames.toSet == Set("k", "v", "x"),
        s"files must carry PHYSICAL names, got ${raw.schema.fieldNames.toSeq}")
      // file-skipping stats answer predicates on the renamed column: a
      // range no file can satisfy plans to zero files
      val rd = spark.read.format("graft-hub").option("path", s"$base/t")
        .load().filter($"score" > 10000L)
      val planStr = rd.queryExecution.executedPlan.toString
      val m = "files=(\\d+) skipped=(\\d+)".r.findFirstMatchIn(planStr)
      assert(m.exists(g => g.group(1).toInt == 0 && g.group(2).toInt > 0),
        s"stats skipping must see through the rename:\n$planStr")
      // row-level SQL on renamed columns
      spark.sql("UPDATE hubrn.default.t SET label = upper(label) " +
        "WHERE score >= 40")
      spark.sql("DELETE FROM hubrn.default.t WHERE label = 'a'")
      assert(spark.table("hubrn.default.t").orderBy("k")
        .as[(Long, String, Long)].collect().toSeq ==
        Seq((2L, "B!", 200L), (3L, "c", 30L), (4L, "D", 40L)))
      // compaction rewrites under the same physical namespace
      VersionedHub.compactBuckets(spark, s"$base/t")
      assert(spark.table("hubrn.default.t").orderBy("k")
        .as[(Long, String, Long)].collect().toSeq ==
        Seq((2L, "B!", 200L), (3L, "c", 30L), (4L, "D", 40L)))
    }
  }

  test("RENAME COLUMN of the bucket-routing column renames the routing") {
    withCatalog("hubrnk") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v"),
        s"$base/t", Seq("k"), 8)
      val dirsBefore = VersionedHub.versionAt(spark, s"$base/t", None).buckets
      spark.sql("ALTER TABLE hubrnk.default.t RENAME COLUMN k TO id")
      assert(VersionedHub.versionAt(spark, s"$base/t", None)
        .bucketCols.contains(Seq("id")))
      // post-rename keyed writes route to the SAME buckets (hashing is by
      // value; only the recorded routing NAME changed)
      VersionedHub.write(spark, Seq((41L, "v41")).toDF("id", "v"),
        s"$base/t", Seq("id"))
      val after = VersionedHub.versionAt(spark, s"$base/t", None)
      val touched = after.buckets.filterNot { case (b, d) =>
        dirsBefore.get(b).contains(d) }.keySet
      assert(touched.size == 1, s"one touched bucket expected: $touched")
      assert(spark.table("hubrnk.default.t").count() == 41)
      // bucket pruning on the renamed routing column still plans
      val rd = spark.read.format("graft-hub").option("path", s"$base/t")
        .load().filter($"id" === 41L)
      val planStr = rd.queryExecution.executedPlan.toString
      val m = "dirs=(\\d+)/(\\d+)".r.findFirstMatchIn(planStr)
      assert(m.exists(g => g.group(1).toInt == 1),
        s"routing-column pruning must survive the rename:\n$planStr")
    }
  }

  test("RENAME COLUMN refusal matrix; renaming onto a historical name is safe") {
    withCatalog("hubrnr") { base =>
      spark.sql("CREATE TABLE hubrnr.default.t (a BIGINT, b STRING, c INT)")
      spark.sql("INSERT INTO hubrnr.default.t VALUES (1, 'x', 7)")
      spark.sql("ALTER TABLE hubrnr.default.t DROP COLUMN c")
      val dup = intercept[Exception](spark.sql(
        "ALTER TABLE hubrnr.default.t RENAME COLUMN a TO b"))
      assert(dup.getMessage.contains("already exists"), dup.getMessage)
      // renaming onto a DROPPED (historical) name is allowed, as in
      // Delta: the live column keeps its frozen physical name, so reads
      // see ITS values — never the dropped column's file residue
      spark.sql("ALTER TABLE hubrnr.default.t RENAME COLUMN a TO c")
      assert(spark.sql("SELECT c FROM hubrnr.default.t").as[Long]
        .head() == 1L,
        "renamed-onto-historical column must read its OWN values, not " +
          "the dropped column's file residue")
      spark.sql("ALTER TABLE hubrnr.default.t RENAME COLUMN c TO a")
      // a missing source column is refused by Spark's own resolver
      val nope = intercept[Exception](spark.sql(
        "ALTER TABLE hubrnr.default.t RENAME COLUMN zz TO yy"))
      assert(nope.getMessage.contains("does not exist") ||
        nope.getMessage.contains("UNRESOLVED_COLUMN"), nope.getMessage)
      // a FLAT table renames too (the flat snapshot write seam)
      spark.sql("ALTER TABLE hubrnr.default.t RENAME COLUMN b TO label")
      spark.sql("INSERT INTO hubrnr.default.t VALUES (2, 'y')")
      assert(spark.table("hubrnr.default.t").orderBy("a")
        .select("a", "label")
        .as[(Long, String)].collect().toSeq == Seq((1L, "x"), (2L, "y")))
    }
  }

  test("re-add after VACUUM truncates history still reads NULL (no resurrection)") {
    withCatalog("hubvr") { base =>
      // the full threat sequence: write v under phys 'v' → DROP v →
      // enough commits that VACUUM drops every manifest recording 'v'
      // (the shared data dir survives — kept versions reference it) →
      // ADD COLUMN v. Any guard that asks the SURVIVING history "was v
      // ever used?" sees no use, keeps the bare physical name, and
      // resurrects the dropped values. The always-fresh physical name
      // makes the question moot.
      VersionedHub.writeBucketed(spark,
        Seq((1L, "SECRET", 10L)).toDF("k", "v", "n"), s"$base/t", Seq("k"), 4)
      spark.sql("ALTER TABLE hubvr.default.t DROP COLUMN v")
      spark.sql("ALTER TABLE hubvr.default.t ADD COLUMNS (pad STRING)")
      spark.sql("ALTER TABLE hubvr.default.t DROP COLUMN pad")
      // keep only the last 2 versions: v1 (schema with 'v') and the DROP
      // commit's schema both fall out of the surviving log
      VersionedHub.vacuum(spark, s"$base/t", keepVersions = Some(2),
        retainMs = 0)
      assert(!VersionedHub.history(spark, s"$base/t")
        .flatMap(_.schema).flatMap(_.fieldNames)
        .exists(_.equalsIgnoreCase("v")),
        "precondition: no surviving manifest may still record column v")
      // the live file STILL physically holds v='SECRET' (shared dir kept)
      spark.sql("ALTER TABLE hubvr.default.t ADD COLUMNS (v STRING)")
      assert(spark.table("hubvr.default.t").select("v")
        .as[Option[String]].head().isEmpty,
        "a re-added column must read NULL even after vacuum truncated " +
          "the history that recorded the original")
      // and new writes land + read back under the fresh physical name
      VersionedHub.write(spark, Seq((1L, "fresh")).toDF("k", "v"),
        s"$base/t", Seq("k"))
      assert(spark.table("hubvr.default.t").select("v")
        .as[String].head() == "fresh")
    }
  }

  test("column DEFAULT values: existence default fills old rows, current default fills INSERTs, SET/DROP evolve") {
    withCatalog("hubdef") { base =>
      spark.sql("CREATE TABLE hubdef.default.t (k BIGINT, v STRING)")
      spark.sql("INSERT INTO hubdef.default.t VALUES (1, 'a')")
      spark.sql("ALTER TABLE hubdef.default.t " +
        "ADD COLUMNS (status STRING DEFAULT 'active')")
      def statusOf(k: Long): Option[String] =
        spark.sql(s"SELECT status FROM hubdef.default.t WHERE k = $k")
          .as[Option[String]].head()
      // EXISTENCE default: the pre-alter row reads the frozen value, not
      // NULL — the parquet reader fills it for files predating the column
      assert(statusOf(1) == Some("active"),
        "old rows must read the existence default")
      // CURRENT default: INSERTs omitting the column (or saying DEFAULT)
      spark.sql("INSERT INTO hubdef.default.t (k, v) VALUES (2, 'b')")
      spark.sql("INSERT INTO hubdef.default.t VALUES (3, 'c', DEFAULT)")
      assert(statusOf(2) == Some("active") && statusOf(3) == Some("active"))
      // explicit values always win
      spark.sql("INSERT INTO hubdef.default.t VALUES (9, 'x', 'manual')")
      assert(statusOf(9) == Some("manual"))
      // SET DEFAULT governs future INSERTs only; the existence default
      // (what pre-column files read) stays frozen at ADD time
      spark.sql("ALTER TABLE hubdef.default.t " +
        "ALTER COLUMN status SET DEFAULT 'fresh'")
      spark.sql("INSERT INTO hubdef.default.t (k, v) VALUES (4, 'd')")
      assert(statusOf(4) == Some("fresh"))
      assert(statusOf(1) == Some("active"),
        "SET DEFAULT must not rewrite history")
      // DROP DEFAULT: omitted column goes back to NULL
      spark.sql("ALTER TABLE hubdef.default.t ALTER COLUMN status DROP DEFAULT")
      spark.sql("INSERT INTO hubdef.default.t (k, v) VALUES (5, 'e')")
      assert(statusOf(5).isEmpty)
      // defaults survive an unrelated keyed upsert's schema merge, and the
      // BUCKETED write path honors the existence default too
      VersionedHub.writeBucketed(spark,
        Seq((10L, "j")).toDF("k", "v"), s"$base/b", Seq("k"), 4)
      spark.sql("ALTER TABLE hubdef.default.b " +
        "ADD COLUMNS (score BIGINT DEFAULT 7)")
      VersionedHub.write(spark, Seq((11L, "k2")).toDF("k", "v"),
        s"$base/b", Seq("k"))
      val scores = spark.sql("SELECT k, score FROM hubdef.default.b")
        .as[(Long, Option[Long])].collect().toMap
      assert(scores(10L) == Some(7L),
        "bucketed old rows must read the existence default")
      // existence defaults are FILE-level (Spark's mechanism): ANY file
      // not physically carrying the column reads the default — including
      // a fresh bucket file a narrower library upsert wrote. The reader
      // cannot (and does not try to) distinguish "file predates the
      // column" from "writer omitted it".
      assert(scores(11L) == Some(7L),
        "a file missing the column reads the existence default")
    }
  }

  test("only the single-element default namespace aliases to the base dir") {
    withCatalog("hubns") { base =>
      spark.sql("CREATE TABLE hubns.default.x (k BIGINT)")
      assert(new java.io.File(base, "x/_log").exists())
      spark.sql("CREATE TABLE hubns.a.b (k BIGINT)")
      assert(new java.io.File(base, "a/b/_log").exists())
      // "default" at depth is a REAL directory segment, not an alias —
      // hub.a.default.b and hub.a.b must be two distinct tables
      spark.sql("CREATE TABLE hubns.a.default.b (k BIGINT)")
      assert(new java.io.File(base, "a/default/b/_log").exists())
      spark.sql("INSERT INTO hubns.a.default.b VALUES (42)")
      assert(spark.sql("SELECT count(*) FROM hubns.a.b").as[Long].head() == 0L)
      assert(spark.sql("SELECT count(*) FROM hubns.a.default.b")
        .as[Long].head() == 1L)
    }
  }

  test("reserved column names (__graft_*, '#') refused at every creation point; legacy collisions fall back off the DV path") {
    withCatalog("hubres") { base =>
      // CREATE TABLE
      val c = intercept[Exception](spark.sql(
        "CREATE TABLE hubres.default.bad (k BIGINT, __graft_dv_file STRING)"))
      assert(c.getMessage.contains("__graft_"))
      spark.sql("CREATE TABLE hubres.default.t (k BIGINT, v STRING)")
      // ADD COLUMN
      val a = intercept[Exception](spark.sql(
        "ALTER TABLE hubres.default.t ADD COLUMNS (__graft_dv_pos BIGINT)"))
      assert(a.getMessage.contains("__graft_"))
      // RENAME COLUMN (case-insensitive)
      val r = intercept[Exception](spark.sql(
        "ALTER TABLE hubres.default.t RENAME COLUMN v TO __GRAFT_DV_FILE"))
      assert(r.getMessage.contains("__graft_"))
      // '#' still refused (column-mapping physical namespace)
      val h = intercept[Exception](spark.sql(
        "ALTER TABLE hubres.default.t ADD COLUMNS (`a#b` STRING)"))
      assert(h.getMessage.contains("#"))
      // a LEGACY table that predates the guard (API-written, colliding
      // column) must never take the DV overlay path — the rewrite delete
      // neither tags nor drops the user's column
      val p = s"$base/legacy"
      VersionedHub.writeBucketed(spark,
        (1 to 100).map(i => (i, s"f$i")).toDF("k", "__graft_dv_file"),
        p, Seq("k"), 2)
      VersionedHub.deleteWhere(spark, p, col("k") <= 3)
      val tip = VersionedHub.history(spark, p).last
      assert(tip.dvs.isEmpty, "colliding schema must fall back to rewrite")
      val left = VersionedHub.read(spark, p)
        .select($"k", $"__graft_dv_file").as[(Int, String)].collect().toMap
      assert(left == (4 to 100).map(i => i -> s"f$i").toMap)
    }
  }

  test("SET DEFAULT with a DefaultValue carrying no SQL text fails loudly instead of dropping the default") {
    import org.apache.spark.sql.connector.catalog.{DefaultValue, Identifier, TableChange}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val base = tmpDir("cat_nulldefault")
    val cat = new graft.sources.HubCatalog
    cat.initialize("hubnd", new CaseInsensitiveStringMap(
      java.util.Map.of("base", base)))
    val ident = Identifier.of(Array("default"), "t")
    cat.createTable(ident,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, s STRING"),
      Array.empty, java.util.Map.of())
    // seed a current default the buggy path would have silently removed
    cat.alterTable(ident, TableChange.updateColumnDefaultValue(
      Array("s"), "'seeded'"))
    val curKey = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .CURRENT_DEFAULT_COLUMN_METADATA_KEY
    def currentDefault(): Option[String] = {
      val s = VersionedHub.latest(spark, s"$base/t").get.schema.get
      val f = s.fields.find(_.name == "s").get
      if (f.metadata.contains(curKey)) Some(f.metadata.getString(curKey))
      else None
    }
    assert(currentDefault().contains("'seeded'"))
    // expression-only DefaultValue: getSql == null — must raise, not drop
    val e = intercept[Exception](cat.alterTable(ident,
      TableChange.updateColumnDefaultValue(Array("s"),
        new DefaultValue(
          org.apache.spark.sql.connector.expressions.Expressions
            .literal("x")))))
    assert(e.getMessage.contains("no SQL text"))
    assert(currentDefault().contains("'seeded'"),
      "failed SET DEFAULT must leave the current default untouched")
    // a DefaultValue WITH SQL text still sets normally
    cat.alterTable(ident, TableChange.updateColumnDefaultValue(Array("s"),
      new DefaultValue("'v2'",
        org.apache.spark.sql.connector.expressions.Expressions
          .literal("v2"))))
    assert(currentDefault().contains("'v2'"))
  }

  test("CHECK constraints: ADD validates standing data, every write path enforces, DROP lifts") {
    withCatalog("hubck") { base =>
      def rootMsg(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" | ")
      VersionedHub.writeBucketed(spark,
        Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "price", "v"),
        s"$base/t", Seq("k"), 4)
      // ADD CONSTRAINT refuses when standing data violates
      val bad = intercept[Exception](spark.sql(
        "ALTER TABLE hubck.default.t ADD CONSTRAINT pos CHECK (price > 15)"))
      assert(rootMsg(bad).toLowerCase.contains("violat"), rootMsg(bad))
      // a satisfiable constraint lands as a manifest-only commit
      spark.sql(
        "ALTER TABLE hubck.default.t ADD CONSTRAINT pos CHECK (price > 0)")
      assert(VersionedHub.latest(spark, s"$base/t").get.checks ==
        Map("pos" -> "price > 0"))
      // library upsert path enforces (violating row fails the commit)...
      val e1 = intercept[Exception](VersionedHub.write(spark,
        Seq((3L, -1.0, "c")).toDF("k", "price", "v"), s"$base/t", Seq("k")))
      assert(rootMsg(e1).contains("pos"), rootMsg(e1))
      // ...and nothing committed
      assert(VersionedHub.read(spark, s"$base/t").count() == 2)
      // SQL INSERT enforces
      val e2 = intercept[Exception](spark.sql(
        "INSERT INTO hubck.default.t VALUES (3, -5.0, 'c')"))
      assert(rootMsg(e2).contains("pos"), rootMsg(e2))
      // SQL UPDATE enforces (SET would violate)
      val e3 = intercept[Exception](spark.sql(
        "UPDATE hubck.default.t SET price = -2.0 WHERE k = 1"))
      assert(rootMsg(e3).contains("pos"), rootMsg(e3))
      // MERGE enforces
      Seq((2L, -9.0, "z")).toDF("k", "price", "v")
        .createOrReplaceTempView("ck_src")
      val e4 = intercept[Exception](spark.sql(
        """MERGE INTO hubck.default.t t USING ck_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
      assert(rootMsg(e4).contains("pos"), rootMsg(e4))
      // NULL predicate passes (SQL standard) — a NULL price is accepted
      VersionedHub.write(spark,
        Seq((4L, Option.empty[Double], "d"), (5L, Some(5.5), "e"))
          .toDF("k", "price", "v"), s"$base/t", Seq("k"))
      assert(VersionedHub.read(spark, s"$base/t").count() == 4)
      // second constraint; name collisions refused; non-CHECK refused
      spark.sql("ALTER TABLE hubck.default.t ADD CONSTRAINT vlen " +
        "CHECK (length(v) <= 4)")
      val dup = intercept[Exception](spark.sql(
        "ALTER TABLE hubck.default.t ADD CONSTRAINT pos CHECK (price < 1e9)"))
      assert(rootMsg(dup).toLowerCase.contains("exists") ||
        rootMsg(dup).toLowerCase.contains("already"), rootMsg(dup))
      val e5 = intercept[Exception](spark.sql(
        "INSERT INTO hubck.default.t VALUES (6, 1.0, 'toolong')"))
      assert(rootMsg(e5).contains("vlen"), rootMsg(e5))
      // DROP COLUMN under a referencing check refused; DROP CONSTRAINT
      // lifts the check and unblocks both the drop and the write
      val e6 = intercept[Exception](spark.sql(
        "ALTER TABLE hubck.default.t DROP COLUMN v"))
      assert(rootMsg(e6).contains("vlen"), rootMsg(e6))
      spark.sql("ALTER TABLE hubck.default.t DROP CONSTRAINT vlen")
      VersionedHub.write(spark,
        Seq((6L, 1.0, "toolong")).toDF("k", "price", "v"),
        s"$base/t", Seq("k"))
      assert(VersionedHub.latest(spark, s"$base/t").get.checks.keySet ==
        Set("pos"))
      // DROP of a missing constraint: IF EXISTS no-ops, bare form fails
      spark.sql("ALTER TABLE hubck.default.t DROP CONSTRAINT IF EXISTS nope")
      val e7 = intercept[Exception](spark.sql(
        "ALTER TABLE hubck.default.t DROP CONSTRAINT nope"))
      assert(rootMsg(e7).toLowerCase.contains("not exist") ||
        rootMsg(e7).toLowerCase.contains("nope"), rootMsg(e7))
      // checks survive restore/time-travel manifests and keep enforcing
      val eAfter = intercept[Exception](spark.sql(
        "INSERT INTO hubck.default.t VALUES (9, -1.0, 'x')"))
      assert(rootMsg(eAfter).contains("pos"), rootMsg(eAfter))
      // CREATE TABLE with an inline CHECK stores it (the TableInfo path —
      // the interface default would silently drop it) and enforces
      spark.sql("CREATE TABLE hubck.default.c (k BIGINT, n BIGINT, " +
        "CONSTRAINT nn CHECK (n >= 0))")
      assert(VersionedHub.latest(spark, s"$base/c").get.checks
        .keySet == Set("nn"))
      val eC = intercept[Exception](spark.sql(
        "INSERT INTO hubck.default.c VALUES (1, -1)"))
      assert(rootMsg(eC).contains("nn"), rootMsg(eC))
      spark.sql("INSERT INTO hubck.default.c VALUES (1, 1)")
      assert(spark.sql("SELECT count(*) FROM hubck.default.c")
        .as[Long].head() == 1L)
    }
  }

  test("GENERATED ALWAYS AS columns: computed at write, refused on direct assignment, recomputed on UPDATE") {
    withCatalog("hubgen") { base =>
      def rootMsg(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" | ")
      spark.sql("CREATE TABLE hubgen.default.t (k BIGINT, n BIGINT, " +
        "twice BIGINT GENERATED ALWAYS AS (n * 2))")
      // omitted generated column fills from the expression
      spark.sql("INSERT INTO hubgen.default.t (k, n) VALUES (1, 10), (2, 20)")
      assert(spark.sql("SELECT k, twice FROM hubgen.default.t ORDER BY k")
        .as[(Long, Long)].collect().toSeq == Seq((1L, 20L), (2L, 40L)))
      // a provided MATCHING value is accepted (Delta semantics)...
      spark.sql("INSERT INTO hubgen.default.t VALUES (3, 30, 60)")
      // ...a mismatched one is refused loudly, nothing committed
      val rows = spark.sql("SELECT count(*) FROM hubgen.default.t")
        .as[Long].head()
      val bad = intercept[Exception](spark.sql(
        "INSERT INTO hubgen.default.t VALUES (4, 40, 999)"))
      assert(rootMsg(bad).contains("GENERATED ALWAYS AS"), rootMsg(bad))
      assert(spark.sql("SELECT count(*) FROM hubgen.default.t")
        .as[Long].head() == rows)
      // UPDATE of a source column RECOMPUTES the generated column;
      // direct SET on it is refused
      spark.sql("UPDATE hubgen.default.t SET n = 100 WHERE k = 1")
      assert(spark.sql("SELECT twice FROM hubgen.default.t WHERE k = 1")
        .as[Long].head() == 200L)
      val e1 = intercept[Exception](spark.sql(
        "UPDATE hubgen.default.t SET twice = 5 WHERE k = 1"))
      assert(rootMsg(e1).toLowerCase.contains("generated"), rootMsg(e1))
      // MERGE: explicit UPDATE SET on the generated column refused; star
      // and source-column updates recompute
      Seq((2L, 7L)).toDF("k", "n").createOrReplaceTempView("gen_src")
      val e2 = intercept[Exception](spark.sql(
        """MERGE INTO hubgen.default.t t USING gen_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET twice = s.n""".stripMargin))
      assert(rootMsg(e2).toLowerCase.contains("generated"), rootMsg(e2))
      spark.sql("""MERGE INTO hubgen.default.t t USING gen_src s ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET n = s.n""".stripMargin)
      assert(spark.sql("SELECT twice FROM hubgen.default.t WHERE k = 2")
        .as[Long].head() == 14L)
      // library upsert fills the omitted generated column too
      VersionedHub.write(spark,
        Seq((5L, 50L)).toDF("k", "n"), s"$base/t", Seq("k"))
      assert(spark.sql("SELECT twice FROM hubgen.default.t WHERE k = 5")
        .as[Long].head() == 100L)
      // DROP/RENAME of the generation SOURCE column refused; dropping the
      // generated column itself is fine
      val e3 = intercept[Exception](spark.sql(
        "ALTER TABLE hubgen.default.t DROP COLUMN n"))
      assert(rootMsg(e3).contains("twice"), rootMsg(e3))
      val e4 = intercept[Exception](spark.sql(
        "ALTER TABLE hubgen.default.t RENAME COLUMN n TO m"))
      assert(rootMsg(e4).contains("twice"), rootMsg(e4))
      spark.sql("ALTER TABLE hubgen.default.t DROP COLUMN twice")
      spark.sql("ALTER TABLE hubgen.default.t DROP COLUMN n")
      assert(spark.table("hubgen.default.t").columns.toSeq == Seq("k"))
    }
  }

  test("GENERATED AS IDENTITY: allocated beyond the high-water mark, immutable, explicit insert gated by ALWAYS/BY DEFAULT") {
    withCatalog("hubid") { base =>
      def rootMsg(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" | ")
      spark.sql("CREATE TABLE hubid.default.t (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY, k BIGINT, name STRING)")
      spark.sql("INSERT INTO hubid.default.t (k, name) " +
        "VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      val ids1 = spark.sql("SELECT k, id FROM hubid.default.t")
        .as[(Long, Long)].collect().toMap
      assert(ids1.size == 3 && ids1.values.toSet.size == 3,
        s"ids must be unique: $ids1")
      assert(ids1.values.forall(_ >= 1), s"ids start at START WITH: $ids1")
      // explicit value refused (ALWAYS), nothing committed
      val n0 = spark.sql("SELECT count(*) FROM hubid.default.t")
        .as[Long].head()
      val e1 = intercept[Exception](spark.sql(
        "INSERT INTO hubid.default.t VALUES (999, 4, 'x')"))
      assert(rootMsg(e1).contains("IDENTITY"), rootMsg(e1))
      assert(spark.sql("SELECT count(*) FROM hubid.default.t")
        .as[Long].head() == n0)
      // a second insert allocates strictly beyond every existing id
      spark.sql("INSERT INTO hubid.default.t (k, name) VALUES (4, 'd')")
      val ids2 = spark.sql("SELECT k, id FROM hubid.default.t")
        .as[(Long, Long)].collect().toMap
      assert(ids2(4L) > ids1.values.max,
        s"new id must exceed the high-water mark: $ids2")
      // UPDATE SET on the identity column refused; other updates keep it
      val e2 = intercept[Exception](spark.sql(
        "UPDATE hubid.default.t SET id = 1 WHERE k = 2"))
      assert(rootMsg(e2).toLowerCase.contains("identity"), rootMsg(e2))
      spark.sql("UPDATE hubid.default.t SET name = 'B' WHERE k = 2")
      assert(spark.sql("SELECT id FROM hubid.default.t WHERE k = 2")
        .as[Long].head() == ids1(2L), "UPDATE must not reassign the id")
      // MERGE: matched rows keep their id, inserted rows allocate fresh
      Seq((2L, "m2"), (9L, "m9")).toDF("k", "name")
        .createOrReplaceTempView("id_src")
      spark.sql(
        """MERGE INTO hubid.default.t t USING id_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET name = s.name
          |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.k, s.name)"""
          .stripMargin)
      val ids3 = spark.sql("SELECT k, id FROM hubid.default.t")
        .as[(Long, Long)].collect().toMap
      assert(ids3(2L) == ids1(2L), "MERGE UPDATE must keep the matched id")
      assert(ids3(9L) > ids2.values.max, "MERGE INSERT must allocate fresh")
      assert(ids3.values.toSet.size == ids3.size, s"ids unique: $ids3")
      // MERGE INSERT explicitly assigning the ALWAYS identity → refused
      val e3 = intercept[Exception](spark.sql(
        """MERGE INTO hubid.default.t t USING id_src s ON t.k = s.k
          |WHEN NOT MATCHED THEN INSERT (id, k) VALUES (1, s.k)"""
          .stripMargin))
      assert(rootMsg(e3).contains("IDENTITY"), rootMsg(e3))
      // library upsert: matched key inherits its id, new key allocates
      VersionedHub.write(spark,
        Seq((2L, "lib2"), (50L, "lib50")).toDF("k", "name"),
        s"$base/t", Seq("k"))
      val ids4 = spark.sql("SELECT k, id FROM hubid.default.t")
        .as[(Long, Long)].collect().toMap
      assert(ids4(2L) == ids1(2L), "library upsert must keep the matched id")
      assert(ids4(50L) > ids3.values.max)
      assert(ids4.values.toSet.size == ids4.size)
      // BY DEFAULT + START/STEP: explicit values allowed, allocation stays
      // on the start + k*step progression above everything observed
      spark.sql("CREATE TABLE hubid.default.d (id BIGINT GENERATED BY " +
        "DEFAULT AS IDENTITY (START WITH 100 INCREMENT BY 10), v STRING)")
      spark.sql("INSERT INTO hubid.default.d VALUES (7, 'explicit')")
      spark.sql("INSERT INTO hubid.default.d (v) VALUES ('auto')")
      val d = spark.sql("SELECT v, id FROM hubid.default.d")
        .as[(String, Long)].collect().toMap
      assert(d("explicit") == 7L)
      assert(d("auto") > 7L && (d("auto") - 100L) % 10L == 0L,
        s"allocated id must sit on the START+k*STEP progression: $d")
    }
  }

  test("streaming graft-hub sink allocates identity ids exactly once (idempotent batch replay, stable on upsert)") {
    withCatalog("hubsid") { base =>
      spark.sql("CREATE TABLE hubsid.default.t (" +
        "id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v STRING)")
      val lake = tmpDir("hub_sid")
      val src = s"$lake/in"
      new java.io.File(src).mkdirs()
      def run(): Unit = {
        val q = graft.streaming.StreamingIngest.parquetStream(spark, src,
          Seq((0L, "x")).toDF("k", "v"))
          .writeStream.format("graft-hub")
          .option("path", s"$base/t").option("keys", "k")
          .option("checkpointLocation", s"$lake/cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("append").parquet(src)
      run()
      def ids(): Map[Long, Long] =
        spark.sql("SELECT k, id FROM hubsid.default.t")
          .as[(Long, Long)].collect().toMap
      val first = ids()
      assert(first.size == 2 && first.values.toSet.size == 2)
      // update + insert batch: matched key keeps its id, new key allocates
      Seq((2L, "B"), (3L, "c")).toDF("k", "v").write.mode("append").parquet(src)
      run()
      val second = ids()
      assert(second(1L) == first(1L) && second(2L) == first(2L),
        s"upserted keys must keep their birth ids: $first -> $second")
      assert(second(3L) > first.values.max)
      assert(second.values.toSet.size == 3)
      // idle restart: batchId idempotence — nothing reallocates
      run()
      assert(ids() == second)
    }
  }

  test("generation expressions and CHECKs may read identity columns (fill order: identity → generated → checks)") {
    withCatalog("hubord") { _ =>
      spark.sql("CREATE TABLE hubord.default.t (" +
        "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 5), " +
        "tag STRING GENERATED ALWAYS AS (concat('row-', CAST(id AS STRING))), " +
        "v STRING, " +
        "CONSTRAINT id_pos CHECK (id >= 5))")
      spark.sql("INSERT INTO hubord.default.t (v) VALUES ('a'), ('b'), ('c')")
      val rows = spark.sql("SELECT id, tag FROM hubord.default.t")
        .as[(Long, String)].collect().toSeq
      assert(rows.nonEmpty && rows.forall { case (id, tag) =>
        id >= 5 && tag == s"row-$id" }, rows.toString)
    }
  }

  test("CALL optimize(buckets => ...) compacts only the chosen buckets (OPTIMIZE WHERE shape)") {
    withCatalog("hubsel") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v").repartition(8),
        s"$base/t", Seq("k"), 4)
      val before = VersionedHub.history(spark, s"$base/t").last.buckets
      val hot = before.keys.min
      assert(spark.sql("CALL hubsel.system.optimize(`table` => 't', " +
        s"buckets => '$hot')").as[Int].head() == 2)
      val after = VersionedHub.history(spark, s"$base/t").last.buckets
      assert(after(hot) != before(hot), "the chosen bucket must rewrite")
      assert((before - hot).forall { case (b, d) => after.get(b).contains(d) },
        "untouched buckets must keep their dirs (structural sharing)")
      assert(VersionedHub.read(spark, s"$base/t").count() == 400)
      // flat hubs refuse the bucket filter loudly
      VersionedHub.write(spark, Seq((1L, "a")).toDF("k", "v"),
        s"$base/flat", Seq("k"))
      val e = intercept[Exception](spark.sql(
        "CALL hubsel.system.optimize(`table` => 'flat', buckets => '0')"))
      assert(e.getMessage.contains("BUCKETED"), e.getMessage)
      // a typo'd bucket id must fail loudly, not report clean success
      val e2 = intercept[Exception](spark.sql(
        "CALL hubsel.system.optimize(`table` => 't', buckets => '99')"))
      assert(e2.getMessage.contains("99"), e2.getMessage)
      // OPTIMIZE ... WHERE '<pred>': the predicate resolves to candidate
      // buckets through manifest stats + bucket hashing (the DELETE/UPDATE
      // pruner) — an equality on the bucket key rewrites exactly one bucket
      val pre = VersionedHub.history(spark, s"$base/t").last.buckets
      assert(spark.sql("CALL hubsel.system.optimize(`table` => 't', " +
        "where => 'k = 7')").as[Int].head() == 3)
      val postW = VersionedHub.history(spark, s"$base/t").last.buckets
      val changed = pre.keys.filter(b => postW.get(b) != pre.get(b)).toSeq
      assert(changed.size == 1,
        s"a bucket-key equality must compact exactly one bucket: $changed")
      assert(VersionedHub.read(spark, s"$base/t").count() == 400)
      // selector refusals: both at once; where on a flat hub; opaque pred
      val eBothSel = intercept[Exception](spark.sql(
        "CALL hubsel.system.optimize(`table` => 't', buckets => '0', " +
          "where => 'k = 7')"))
      assert(eBothSel.getMessage.contains("not both"), eBothSel.getMessage)
      val eFlatW = intercept[Exception](spark.sql(
        "CALL hubsel.system.optimize(`table` => 'flat', where => 'k = 1')"))
      assert(eFlatW.getMessage.contains("BUCKETED"), eFlatW.getMessage)
      // a predicate with no pruning power degrades SOUNDLY to a full
      // compaction (the DELETE/UPDATE widening contract), never to a miss
      assert(spark.sql("CALL hubsel.system.optimize(`table` => 't', " +
        "where => 'length(v) - length(v) = 0')").as[Int].head() == 4)
      assert(VersionedHub.read(spark, s"$base/t").count() == 400)
      // RESTORE TO TIMESTAMP AS OF: resolve the latest commit at-or-before
      val v1ts = VersionedHub.history(spark, s"$base/t").head.ts
      assert(spark.sql("CALL hubsel.system.restore(`table` => 't', " +
        s"timestamp => '$v1ts')").as[Int].head() == 5)
      val eBoth = intercept[Exception](spark.sql(
        "CALL hubsel.system.restore(`table` => 't', version => 1, " +
          "timestamp => '1')"))
      assert(eBoth.getMessage.contains("exactly one"), eBoth.getMessage)
      // CLONE VERSION AS OF: historical snapshot, zero copy
      assert(spark.sql("CALL hubsel.system.clone(`table` => 't', " +
        "target => 'tclone', version => 1)").as[Int].head() == 1)
      assert(spark.table("hubsel.default.tclone").count() == 400)
      // an EXPLICIT version => 0 must fail loudly, not act on the tip
      // (versions start at 1; only an omitted/NULL version means "tip")
      val eZeroR = intercept[Exception](spark.sql(
        "CALL hubsel.system.restore(`table` => 't', version => 0)"))
      assert(eZeroR.getMessage.contains("version must be >= 1"),
        eZeroR.getMessage)
      val eZeroC = intercept[Exception](spark.sql(
        "CALL hubsel.system.clone(`table` => 't', target => 'tz', " +
          "version => 0)"))
      assert(eZeroC.getMessage.contains("version must be >= 1"),
        eZeroC.getMessage)
    }
  }

  test("CREATE TABLE CLUSTERED BY INTO BUCKETS creates a bucketed hub; CREATE-time features ride the scale layout") {
    withCatalog("hubclb") { base =>
      spark.sql("CREATE TABLE hubclb.default.t (" +
        "id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v STRING, " +
        "CONSTRAINT kpos CHECK (k > 0)) CLUSTERED BY (k) INTO 8 BUCKETS")
      val v1 = VersionedHub.history(spark, s"$base/t").last
      assert(v1.nBuckets.contains(8) && v1.bucketCols.contains(Seq("k")) &&
        v1.checks == Map("kpos" -> "k > 0") && v1.rows == 0L)
      spark.sql("INSERT INTO hubclb.default.t (k, v) " +
        "VALUES (1,'a'), (2,'b'), (3,'c')")
      def rows(): Map[Long, (Long, String)] =
        spark.sql("SELECT k, id, v FROM hubclb.default.t")
          .as[(Long, Long, String)].collect()
          .map(t => t._1 -> (t._2, t._3)).toMap
      val r1 = rows()
      assert(r1.size == 3 && r1.values.map(_._1).toSet.size == 3)
      // INSERT keeps the hub's keyed-upsert semantics: k=2 updates in
      // place and KEEPS its birth id; new keys allocate fresh ids
      spark.sql("INSERT INTO hubclb.default.t (k, v) VALUES (2,'B'), (4,'d')")
      val r2 = rows()
      assert(r2(2L)._2 == "B" && r2(2L)._1 == r1(2L)._1 && r2.size == 4)
      assert(r2(4L)._1 > r1.values.map(_._1).max)
      // still bucketed; row-level SQL works on the clustered table
      assert(VersionedHub.history(spark, s"$base/t").last.nBuckets
        .contains(8))
      spark.sql("DELETE FROM hubclb.default.t WHERE k = 1")
      assert(rows().size == 3 && !rows().contains(1L))
      // CREATE-time CHECK is live from v1
      val e = intercept[Exception](spark.sql(
        "INSERT INTO hubclb.default.t (k, v) VALUES (-5,'x')"))
      assert(e.getMessage.contains("kpos"), e.getMessage)
      // PARTITIONED BY stays refused
      val e2 = intercept[Exception](spark.sql(
        "CREATE TABLE hubclb.default.p (k BIGINT) PARTITIONED BY (k)"))
      assert(e2.getMessage.contains("CLUSTERED BY"), e2.getMessage)
      // a flat table that ever held rows cannot adopt the layout
      spark.sql("CREATE TABLE hubclb.default.f (k BIGINT)")
      spark.sql("INSERT INTO hubclb.default.f VALUES (1)")
      val e3 = intercept[Exception](VersionedHub.writeBucketed(spark,
        Seq((2L, "x")).toDF("k", "v"), s"$base/f", Seq("k"), 4))
      assert(e3.getMessage.contains("cannot mix"), e3.getMessage)
      // ...and stays refused after a delete-all empties the LATEST version:
      // history still holds a row-bearing flat snapshot, and restore/time
      // travel across a layout flip would resurrect it under the wrong
      // layout
      spark.sql("DELETE FROM hubclb.default.f WHERE k = 1")
      assert(spark.table("hubclb.default.f").count() == 0)
      val e4 = intercept[Exception](VersionedHub.writeBucketed(spark,
        Seq((2L, "x")).toDF("k", "v"), s"$base/f", Seq("k"), 4))
      assert(e4.getMessage.contains("cannot mix"), e4.getMessage)
    }
  }

  test("Delta-dialect statements: OPTIMIZE / VACUUM / RESTORE / DESCRIBE HISTORY") {
    withCatalog("hubstmt") { base =>
      VersionedHub.writeBucketed(spark,
        (1L to 100L).map(k => (k, k % 50, s"v$k")).toDF("k", "a", "v"),
        s"$base/t", Seq("k"), 4)
      spark.sql("UPDATE hubstmt.default.t SET v = 'X' WHERE k <= 10") // v2
      // OPTIMIZE ... ZORDER BY -> zorder procedure
      assert(spark.sql("OPTIMIZE hubstmt.default.t ZORDER BY (a, k)")
        .as[Int].head() == 3)
      // OPTIMIZE ... WHERE -> predicate-scoped compaction (one bucket)
      val pre = VersionedHub.history(spark, s"$base/t").last.buckets
      assert(spark.sql("OPTIMIZE hubstmt.default.t WHERE k = 7")
        .as[Int].head() == 4)
      val post = VersionedHub.history(spark, s"$base/t").last.buckets
      assert(pre.keys.count(b => post.get(b) != pre.get(b)) == 1)
      // RESTORE TABLE ... TO VERSION AS OF rolls the UPDATE back
      assert(spark.sql(
        "RESTORE TABLE hubstmt.default.t TO VERSION AS OF 1")
        .as[Int].head() == 5)
      assert(spark.sql("SELECT count(*) FROM hubstmt.default.t " +
        "WHERE v = 'X'").head().getLong(0) == 0)
      // DESCRIBE HISTORY: every version, newest first
      val versions = spark.sql("DESCRIBE HISTORY hubstmt.default.t")
        .select("version").as[Int].collect().toSeq
      assert(versions.head == 5 && versions == versions.sorted.reverse,
        versions.toString)
      // VACUUM ... RETAIN 0 HOURS DRY RUN predicts, drops nothing
      val before = VersionedHub.history(spark, s"$base/t").size
      val dry = spark.sql(
        "VACUUM hubstmt.default.t RETAIN 0 HOURS DRY RUN").head()
      assert(VersionedHub.history(spark, s"$base/t").size == before)
      val real = spark.sql("VACUUM hubstmt.default.t RETAIN 0 HOURS").head()
      assert(real.getInt(1) == dry.getInt(1),
        s"real vacuum must match the dry run: $dry vs $real")
      assert(spark.table("hubstmt.default.t").count() == 100)
      // WHERE + ZORDER together refused loudly
      val e = intercept[Exception](spark.sql(
        "OPTIMIZE hubstmt.default.t WHERE k = 1 ZORDER BY (a, k)"))
      assert(e.getMessage.contains("two statements"), e.getMessage)
      // ordinary statements are untouched by the parser extension
      assert(spark.sql("DESCRIBE hubstmt.default.t").count() > 0)
      // zorder is layout-aware: a FLAT hub z-orders via the snapshot
      // rewrite instead of refusing
      VersionedHub.write(spark,
        (1L to 40L).map(k => (k, k % 7)).toDF("a", "b"), s"$base/flat",
        Seq.empty)
      assert(spark.sql("OPTIMIZE hubstmt.default.flat ZORDER BY (a, b)")
        .as[Int].head() == 2)
      assert(spark.table("hubstmt.default.flat").count() == 40)
      // unqualified and schema-qualified (db.t) names both resolve in the
      // CURRENT catalog — 'default' is a namespace, not a catalog
      spark.sql("USE hubstmt")
      try {
        assert(spark.sql("DESCRIBE HISTORY default.t").count() >= 1)
        assert(spark.sql("OPTIMIZE default.t").as[Int].head() >= 6)
      } finally spark.sql("USE spark_catalog")
    }
  }

  test("CONVERT TO HUB adopts a plain parquet dir zero-copy; refusal matrix") {
    withCatalog("hubconv") { base =>
      // a pre-log lake: plain parquet written by some other pipeline
      (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartition(3).write.parquet(s"$base/t")
      val beforeNames = new java.io.File(s"$base/t").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      assert(spark.sql("CONVERT TO HUB hubconv.default.t").as[Int].head() == 1)
      val v1 = VersionedHub.history(spark, s"$base/t").last
      assert(v1.rows == 50L && v1.nBuckets.isEmpty)
      // zero-copy: the adopted files are the SAME files, renamed in place
      val afterNames = new java.io.File(
        s"$base/t/${v1.dirs.head}").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      assert(afterNames == beforeNames, "adoption must rename, not rewrite")
      // the full lifecycle works immediately on the adopted table
      assert(spark.table("hubconv.default.t").count() == 50)
      VersionedHub.write(spark,
        Seq((1L, "V1"), (51L, "new")).toDF("k", "v"), s"$base/t", Seq("k"))
      assert(spark.table("hubconv.default.t").count() == 51)
      assert(spark.sql("SELECT count(*) FROM hubconv.default.t " +
        "VERSION AS OF 1").head().getLong(0) == 50,
        "the adopted snapshot must stay time-travelable")
      // refusals: double-convert; partitioned (subdir) sources
      val e = intercept[Exception](spark.sql(
        "CONVERT TO HUB hubconv.default.t"))
      assert(e.getMessage.contains("already"), e.getMessage)
      (1L to 10L).map(k => (k, k % 2)).toDF("k", "p")
        .write.partitionBy("p").parquet(s"$base/part")
      val e2 = intercept[Exception](spark.sql(
        "CONVERT TO HUB hubconv.default.part"))
      assert(e2.getMessage.contains("subdirectories"), e2.getMessage)
      // a corrupt footer fails BEFORE any file moves — the dir stays
      // intact and a retry after removing the junk succeeds
      (1L to 5L).map(k => (k, s"v$k")).toDF("k", "v")
        .write.parquet(s"$base/bad")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/bad/junk.parquet"),
        Array[Byte](1, 2, 3))
      intercept[Exception](spark.sql("CONVERT TO HUB hubconv.default.bad"))
      assert(!new java.io.File(s"$base/bad/data").exists(),
        "a failed convert must not leave a data/ root behind")
      assert(new java.io.File(s"$base/bad").listFiles()
        .count(_.getName.endsWith(".parquet")) >= 2,
        "a failed convert must leave the source files in place")
      assert(new java.io.File(s"$base/bad/junk.parquet").delete())
      assert(spark.sql("CONVERT TO HUB hubconv.default.bad")
        .as[Int].head() == 1)
      assert(spark.table("hubconv.default.bad").count() == 5)
    }
  }

  test("CONVERT TO HUB ... PARTITIONED BY adopts hive layouts zero-copy; full lifecycle + refusals") {
    withCatalog("hubcp") { base =>
      // the motivating source: a RawWriter-shaped ingest_date-partitioned
      // lake (writer.py:9-16 analogue) with files the partition column
      // never physically entered
      val src = (1L to 60L).map(k => (k, s"v$k",
        java.sql.Date.valueOf(f"2024-01-${k % 3 + 1}%02d")))
        .toDF("k", "v", "ingest_date")
      src.repartition(2).write.partitionBy("ingest_date")
        .parquet(s"$base/t")
      val beforeNames = new java.io.File(s"$base/t").listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles())
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      assert(spark.sql("CONVERT TO HUB hubcp.default.t " +
        "PARTITIONED BY (ingest_date)").as[Int].head() == 1)
      val v1 = VersionedHub.history(spark, s"$base/t").last
      assert(v1.rows == 60L)
      // zero-copy: same files, renamed with the value-folding prefix
      val adopted = new java.io.File(s"$base/t/${v1.dirs.head}").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
        .filterNot(_.startsWith(".")).toSet
      assert(adopted.map(_.replaceFirst("^ingest_date=[^;]*;", ""))
        == beforeNames, "adoption must rename, not rewrite")
      assert(adopted.forall(_.matches("ingest_date=2024-01-0[123];.*")))
      // per-row partition values round-trip exactly
      assert(spark.table("hubcp.default.t").orderBy("k")
        .as[(Long, String, java.sql.Date)].collect().toSeq ==
        src.orderBy("k").as[(Long, String, java.sql.Date)].collect().toSeq)
      // manifest min=max stats prune partition predicates file-level
      val rd = spark.read.format("graft-hub").option("path", s"$base/t")
        .load().filter($"ingest_date" === "2024-01-02")
      val planStr = rd.queryExecution.executedPlan.toString
      val m = "files=(\\d+) skipped=(\\d+)".r.findFirstMatchIn(planStr)
      assert(m.exists(g => g.group(1).toInt < g.group(1).toInt +
        g.group(2).toInt && g.group(2).toInt > 0),
        s"partition predicate must skip files from the manifest:\n$planStr")
      assert(rd.count() == src.filter($"ingest_date" === "2024-01-02").count())
      // upsert: new files carry the column physically; coalesce keeps both
      // regimes correct in one snapshot
      VersionedHub.write(spark, Seq((1L, "V1",
        java.sql.Date.valueOf("2024-02-09")), (61L, "new",
        java.sql.Date.valueOf("2024-02-09"))).toDF("k", "v", "ingest_date"),
        s"$base/t", Seq("k"))
      assert(spark.table("hubcp.default.t").count() == 61)
      assert(spark.table("hubcp.default.t").filter($"k" === 1L)
        .select("ingest_date").as[java.sql.Date].head() ==
        java.sql.Date.valueOf("2024-02-09"))
      assert(spark.sql("SELECT count(*) FROM hubcp.default.t " +
        "VERSION AS OF 1").head().getLong(0) == 60,
        "the adopted snapshot must stay time-travelable")
      // DV delete exercises readDirsWithPos' injection (double _metadata
      // use: path-column parse + DV address tag) on adopted files
      spark.sql("DELETE FROM hubcp.default.t WHERE k = 2")
      assert(spark.table("hubcp.default.t").count() == 60)
      assert(spark.table("hubcp.default.t")
        .filter($"ingest_date" === "2024-01-03").count() ==
        src.filter($"ingest_date" === "2024-01-03").count() - 1)
      // OPTIMIZE rewrites adopted files with the column physical; values
      // survive the convergence
      spark.sql("OPTIMIZE hubcp.default.t")
      val afterOpt = spark.table("hubcp.default.t")
        .groupBy("ingest_date").count().orderBy("ingest_date")
        .as[(java.sql.Date, Long)].collect().toSeq
      assert(afterOpt.map(_._2).sum == 60 && afterOpt.length == 4)
      // CLONE rekeys data dirs to absolute refs; the path-column regex
      // matches `[/;]col=...;` on absolute paths too, so a clone of an
      // adopted table keeps materializing partition values
      graft.writers.VersionedHub.cloneTable(spark, s"$base/t", s"$base/tc")
      assert(spark.read.format("graft-hub").option("path", s"$base/tc")
        .load().filter($"ingest_date" === "2024-01-03").count() ==
        src.filter($"ingest_date" === "2024-01-03").count() - 1)
      // multi-level layouts adopt too
      (1L to 12L).map(k => (k, (k % 2).toInt, s"r${k % 3}"))
        .toDF("k", "half", "region")
        .write.partitionBy("half", "region").parquet(s"$base/ml")
      assert(spark.sql("CONVERT TO HUB hubcp.default.ml " +
        "PARTITIONED BY (half, region)").as[Int].head() == 1)
      assert(spark.table("hubcp.default.ml")
        .filter($"half" === 1 && $"region" === "r2").count() ==
        (1L to 12L).count(k => k % 2 == 1 && k % 3 == 2))
      // refusal matrix: declared-columns mismatch (source intact after),
      // flat source, null partition value
      val e1 = intercept[Exception](spark.sql(
        "CONVERT TO HUB hubcp.default.ml PARTITIONED BY (region)"))
      assert(e1.getMessage.contains("already"), e1.getMessage)
      (1L to 6L).map(k => (k, s"d${k % 2}")).toDF("k", "d")
        .write.partitionBy("d").parquet(s"$base/mm")
      val e2 = intercept[Exception](spark.sql(
        "CONVERT TO HUB hubcp.default.mm PARTITIONED BY (wrong)"))
      assert(e2.getMessage.contains("declared"), e2.getMessage)
      assert(!new java.io.File(s"$base/mm/data").exists(),
        "a refused convert must not touch the source")
      assert(spark.sql("CONVERT TO HUB hubcp.default.mm " +
        "PARTITIONED BY (d)").as[Int].head() == 1)
      (1L to 4L).map(k => (k, s"x$k")).toDF("k", "x")
        .write.parquet(s"$base/flat2")
      val e3 = intercept[Exception](spark.sql(
        "CONVERT TO HUB hubcp.default.flat2 PARTITIONED BY (x)"))
      assert(e3.getMessage.contains("top-level data files"), e3.getMessage)
      val nulled = Seq((1L, Option.empty[String]), (2L, Some("ok")))
        .toDF("k", "p")
      nulled.write.partitionBy("p").parquet(s"$base/np")
      val e4 = intercept[Exception](spark.sql(
        "CONVERT TO HUB hubcp.default.np PARTITIONED BY (p)"))
      assert(e4.getMessage.contains("null partition value"), e4.getMessage)
      // empty partition value: indistinguishable from "no token" to the
      // reader — refused, source intact
      Seq((1L, "", "x")).toDF("k", "p", "v").write.partitionBy("p")
        .parquet(s"$base/ep")
      val e5 = intercept[Exception](spark.sql(
        "CONVERT TO HUB hubcp.default.ep PARTITIONED BY (p)"))
      assert(e5.getMessage.contains("empty partition value") ||
        e5.getMessage.contains("null partition value"), e5.getMessage)
      // a '.'-bearing column name would adopt fine (files moved) and only
      // mis-resolve as a nested-field path at first read — refused BEFORE
      // any file moves instead
      (1L to 2L).map(k => (k, s"v$k")).toDF("k", "v")
        .write.parquet(s"$base/dot/a.b=1")
      val e6 = intercept[Exception](
        graft.writers.VersionedHub.convertPartitioned(spark, s"$base/dot"))
      assert(e6.getMessage.contains("not addressable"), e6.getMessage)
      assert(!new java.io.File(s"$base/dot/data").exists(),
        "a refused convert must not touch the source")
      // non-padded date values (external writers): Spark's inference
      // accepts them, so adoption must too — the strict-ISO stat parser
      // degrades to no-stat, the read-side cast still materializes values
      (1L to 4L).map(k => (k, s"v$k")).toDF("k", "v")
        .write.parquet(s"$base/nd/dt=2024-3-1")
      assert(spark.sql("CONVERT TO HUB hubcp.default.nd " +
        "PARTITIONED BY (dt)").as[Int].head() == 1)
      assert(spark.table("hubcp.default.nd")
        .filter($"dt" === lit(java.sql.Date.valueOf("2024-03-01")))
        .count() == 4, "non-padded date partition values must read back")
    }
  }

  test("NOT NULL lowers onto the check machinery: CREATE-time, SET/DROP NOT NULL, refusal matrix") {
    withCatalog("hubnn") { base =>
      spark.sql("CREATE TABLE hubnn.default.t (k BIGINT NOT NULL, v STRING)")
      val v1 = VersionedHub.history(spark, s"$base/t").last
      assert(v1.checks == Map("notnull_k" -> "`k` IS NOT NULL"))
      assert(v1.schema.exists(_.fields.forall(_.nullable)),
        "stored schema stays physically all-nullable")
      spark.sql("INSERT INTO hubnn.default.t VALUES (1, NULL), (2, 'b')")
      // enforcement via the lowered check
      val e = intercept[Exception](spark.sql(
        "INSERT INTO hubnn.default.t VALUES (NULL, 'x')"))
      assert(e.getMessage.contains("notnull_k"), e.getMessage)
      // SET NOT NULL over standing NULLs refused; after backfill it takes
      val e2 = intercept[Exception](spark.sql(
        "ALTER TABLE hubnn.default.t ALTER COLUMN v SET NOT NULL"))
      assert(e2.getMessage.contains("existing row is NULL"), e2.getMessage)
      spark.sql("UPDATE hubnn.default.t SET v = 'a' WHERE v IS NULL")
      spark.sql("ALTER TABLE hubnn.default.t ALTER COLUMN v SET NOT NULL")
      assert(VersionedHub.history(spark, s"$base/t").last.checks
        .contains("notnull_v"))
      // idempotent re-SET commits nothing new
      val nv = VersionedHub.history(spark, s"$base/t").size
      spark.sql("ALTER TABLE hubnn.default.t ALTER COLUMN v SET NOT NULL")
      assert(VersionedHub.history(spark, s"$base/t").size == nv,
        "re-SET NOT NULL must be a no-op")
      val e3 = intercept[Exception](spark.sql(
        "INSERT INTO hubnn.default.t VALUES (3, NULL)"))
      assert(e3.getMessage.contains("notnull_v"), e3.getMessage)
      // DROP NOT NULL lifts; the synthetic check can also be dropped by name
      spark.sql("ALTER TABLE hubnn.default.t ALTER COLUMN v DROP NOT NULL")
      spark.sql("INSERT INTO hubnn.default.t VALUES (3, NULL)")
      spark.sql("ALTER TABLE hubnn.default.t DROP CONSTRAINT notnull_k")
      spark.sql("INSERT INTO hubnn.default.t VALUES (NULL, 'ok')")
      assert(spark.table("hubnn.default.t").count() == 4)
      // ADD COLUMN ... NOT NULL stays refused (Delta refuses it too)
      val e4 = intercept[Exception](spark.sql(
        "ALTER TABLE hubnn.default.t ADD COLUMN w STRING NOT NULL"))
      assert(e4.getMessage.contains("NOT NULL"), e4.getMessage)
      // a user constraint colliding with the reserved lowering name is
      // refused at CREATE
      val e5 = intercept[Exception](spark.sql(
        "CREATE TABLE hubnn.default.clash (k BIGINT NOT NULL, " +
          "CONSTRAINT notnull_k CHECK (k > 0))"))
      assert(e5.getMessage.contains("reserved"), e5.getMessage)
      // identity columns skip the lowering (engine-filled, never null)
      spark.sql("CREATE TABLE hubnn.default.ids (" +
        "id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)")
      assert(VersionedHub.history(spark, s"$base/ids").last.checks.isEmpty)
      // the notnull_ prefix is reserved at ADD CONSTRAINT too — a user
      // check squatting on it would corrupt SET/DROP NOT NULL resolution
      val e6 = intercept[Exception](spark.sql(
        "ALTER TABLE hubnn.default.t ADD CONSTRAINT notnull_z CHECK (k > 0)"))
      assert(e6.getMessage.contains("reserved"), e6.getMessage)
      // nested nullability is NOT a constraint surface: incidental
      // non-nullable struct fields (struct literals, encoders) CTAS/create
      // fine and deep-nullify into the stored schema
      spark.sql("CREATE TABLE hubnn.default.nested AS " +
        "SELECT 1L AS k, struct(1L AS a) AS s FROM range(1)")
      assert(VersionedHub.history(spark, s"$base/nested").last.schema
        .exists(_.fields.forall(_.nullable)))
      // reserved-word / operator-token column names survive the lowering:
      // the synthetic predicate quotes identifiers, so `order` parses at
      // commit time and `x OR true` cannot rewrite the predicate's meaning
      spark.sql("CREATE TABLE hubnn.default.rsv (" +
        "`order` BIGINT NOT NULL, `x OR true` STRING)")
      assert(VersionedHub.history(spark, s"$base/rsv").last.checks ==
        Map("notnull_order" -> "`order` IS NOT NULL"))
      spark.sql("INSERT INTO hubnn.default.rsv VALUES (1, NULL)")
      val e7 = intercept[Exception](spark.sql(
        "INSERT INTO hubnn.default.rsv VALUES (NULL, 'x')"))
      assert(e7.getMessage.contains("notnull_order"), e7.getMessage)
      // SET NOT NULL on an operator-token name: the quoted predicate must
      // bind the COLUMN (all-NULL -> refused), not parse `x OR true` as a
      // vacuous boolean expression
      val e8 = intercept[Exception](spark.sql(
        "ALTER TABLE hubnn.default.rsv ALTER COLUMN `x OR true` SET NOT NULL"))
      assert(e8.getMessage.contains("existing row is NULL"), e8.getMessage)
      spark.sql("UPDATE hubnn.default.rsv SET `x OR true` = 'a'")
      spark.sql(
        "ALTER TABLE hubnn.default.rsv ALTER COLUMN `x OR true` SET NOT NULL")
      val e9 = intercept[Exception](spark.sql(
        "INSERT INTO hubnn.default.rsv VALUES (2, NULL)"))
      assert(e9.getMessage.contains("notnull_x or true"), e9.getMessage)
    }
  }

  test("identity high-water mark advances even when the column sits beyond the stats width cap") {
    withCatalog("hubwide") { _ =>
      // 34 regular columns, identity declared LAST (beyond the 32-column
      // footer-stats cap) — the mark must still be recovered from stats
      val pads = (1 to 34).map(i => s"c$i INT").mkString(", ")
      spark.sql(s"CREATE TABLE hubwide.default.t ($pads, " +
        "id BIGINT GENERATED ALWAYS AS IDENTITY)")
      spark.sql("INSERT INTO hubwide.default.t (c1) VALUES (1), (2)")
      val first = spark.sql("SELECT id FROM hubwide.default.t")
        .as[Long].collect().toSet
      spark.sql("INSERT INTO hubwide.default.t (c1) VALUES (3)")
      val all = spark.sql("SELECT id FROM hubwide.default.t")
        .as[Long].collect().toSet
      assert(all.size == 3, s"ids must stay unique across commits: $all")
      assert((all -- first).head > first.max,
        "the second commit must allocate beyond the first's mark")
    }
  }

  test("chained generation expressions are refused at CREATE") {
    withCatalog("hubchain") { _ =>
      val e = intercept[Exception](spark.sql(
        "CREATE TABLE hubchain.default.t (n BIGINT, " +
          "c1 BIGINT GENERATED ALWAYS AS (n * 2), " +
          "c2 BIGINT GENERATED ALWAYS AS (c1 + 1))"))
      def rootMsg(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" | ")
      assert(rootMsg(e).contains("c1"), rootMsg(e))
      assert(!spark.catalog.tableExists("hubchain.default.t"))
    }
  }

  test("internal write-plan column names are reserved at creation") {
    withCatalog("hubres") { _ =>
      for (bad <- Seq("_bucket", "_is_new", "_rn")) {
        val e = intercept[Exception](spark.sql(
          s"CREATE TABLE hubres.default.t$bad (k BIGINT, `$bad` INT)"))
        assert(e.getMessage.contains(bad), e.getMessage)
      }
      spark.sql("CREATE TABLE hubres.default.ok (k BIGINT)")
      val e2 = intercept[Exception](spark.sql(
        "ALTER TABLE hubres.default.ok ADD COLUMNS (_is_new INT)"))
      assert(e2.getMessage.contains("_is_new"), e2.getMessage)
    }
  }

  test("CREATE TABLE with a rejected constraint is atomic — no orphaned table") {
    withCatalog("hubatom") { _ =>
      val e = intercept[Exception](spark.sql(
        "CREATE TABLE hubatom.default.t (k BIGINT, " +
          "CONSTRAINT bad CHECK (no_such_col > 0))"))
      assert(e.getMessage.contains("no_such_col"), e.getMessage)
      assert(!spark.catalog.tableExists("hubatom.default.t"),
        "a failed CREATE must not leave a half-created table")
      // the corrected statement succeeds and the check is live from v1
      spark.sql("CREATE TABLE hubatom.default.t (k BIGINT, " +
        "CONSTRAINT pos CHECK (k > 0))")
      val e2 = intercept[Exception](spark.sql(
        "INSERT INTO hubatom.default.t VALUES (-1)"))
      assert(e2.getMessage.contains("pos") ||
        e2.getMessage.contains("CHECK"), e2.getMessage)
    }
  }

  test("catalog DDL refuses object-store schemes like commits do") {
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val cat = new graft.sources.HubCatalog
    cat.initialize("hubs3", new CaseInsensitiveStringMap(
      java.util.Map.of("base", "s3a://bucket/hubs")))
    val e = intercept[IllegalArgumentException](
      cat.dropTable(Identifier.of(Array("default"), "t")))
    assert(e.getMessage.contains("create is not atomic-exclusive"))
    val r = intercept[IllegalArgumentException] {
      // rename guard fires for a "to" even when "from" would resolve —
      // simulate by probing the path guard the way renameTable does
      graft.writers.VersionedHub.checkAtomicCommitScheme("s3a://bucket/x")
    }
    assert(r.getMessage.contains("create is not atomic-exclusive"))
  }
}
