package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable

import graft.writers.VersionedHub

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** hub_stream_rw: writes beside reads on one bucketed hub seeded with an
  * sf0.1-sized `orders` table (150k rows, 16 buckets). Each cycle: small
  * upsert micro-batches through `writeStream.format("graft-hub")` (drop a
  * batch file, then `processAllAvailable`), one SQL DML statement through
  * HubCatalog (MERGE, UPDATE, DELETE in rotation), then a full-snapshot
  * aggregate, a key point lookup and a time-travel aggregate. Every read
  * is checked against a driver-side model of the table at that version.
  */
object HubStreamRw extends Workload {
  val name = "hub_stream_rw"
  val Rows = 150000
  val Buckets = 16
  val UpsertsPerCycle = 2
  /** Keys one write touches: a TPC-H refresh at this table's scale
    * (SF 0.1 × 1500 orders). An upsert batch carries RF1's inserts plus
    * RF2's churn as updates of existing keys; UPDATE and DELETE touch
    * this many keys, MERGE matches and inserts this many each.
    */
  val Refresh = 150
  val minWrites = 4
  private var Table = ""

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType)))

  final case class Order(key: Long, cust: Long, status: String, cents: Long,
      day: Int, prio: String) {
    def json: String =
      s"""{"o_orderkey":$key,"o_custkey":$cust,"o_orderstatus":"$status",""" +
        s""""o_totalprice":${cents / 100.0},"o_orderdate":"${LocalDate
          .ofEpochDay(day)}","o_orderpriority":"$prio"}"""
    def row: Row = Row(key, cust, status, cents / 100.0,
      java.sql.Date.valueOf(LocalDate.ofEpochDay(day)), prio)
  }
  private val Statuses = Array("O", "F", "P")
  private val Prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  /** Driver-side model of the hub: live rows, a key list for sampling,
    * and (count, Σcustkey, Σcents) at every committed version.
    */
  final class Model(seed: Long) {
    val rng = new scala.util.Random(seed)
    val rows = mutable.HashMap.empty[Long, Order]
    val keys = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    var nextKey = 1L
    var version = 0
    var count = 0L
    var sumCust = 0L
    var sumCents = 0L
    val agg = mutable.HashMap.empty[Int, (Long, Long, Long)]

    def order(k: Long): Order = Order(k, 1L + rng.nextInt(15000),
      Statuses(rng.nextInt(3)), 90000L + rng.nextInt(50000000),
      8035 + rng.nextInt(2400), Prios(rng.nextInt(5)))
    def fresh(): Order = { val o = order(nextKey); nextKey += 1; o }
    /** `n` distinct live keys */
    def sample(n: Int): Seq[Long] = {
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < math.min(n, keys.size))
        picked += keys(rng.nextInt(keys.size))
      picked.toSeq
    }
    def put(o: Order): Unit = {
      rows.get(o.key) match {
        case Some(old) =>
          sumCust -= old.cust; sumCents -= old.cents
        case None =>
          count += 1; pos(o.key) = keys.size; keys += o.key
      }
      rows(o.key) = o
      sumCust += o.cust; sumCents += o.cents
    }
    def delete(k: Long): Unit = rows.remove(k).foreach { old =>
      count -= 1; sumCust -= old.cust; sumCents -= old.cents
      val i = pos.remove(k).get
      val last = keys.remove(keys.size - 1)
      if (last != k) { keys(i) = last; pos(last) = i }
    }
    def commit(): Unit = { version += 1; agg(version) = (count, sumCust, sumCents) }
  }

  private var model: Model = _
  private var query: StreamingQuery = _

  private def hubPath(dir: File) = new File(dir, "hubs/orders").getAbsolutePath

  private def writeJsonl(f: File, os: Seq[Order]): Long = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, os.map(_.json).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    f.length()
  }

  /** Seed the hub from a generated JSONL file: one bucketed commit. */
  private def seedHub(ctx: Ctx, dir: File, rows: Int): Model = {
    val m = new Model(ctx.seed)
    val seedRows = Seq.fill(rows)(m.fresh())
    val f = new File(dir, "seed/orders.json")
    ctx.addInput("seed.rows", rows)
    ctx.addInput("seed.bytes", writeJsonl(f, seedRows))
    VersionedHub.writeBucketed(ctx.spark,
      ctx.spark.read.schema(schema).json(f.getPath), hubPath(dir),
      Seq("o_orderkey"), Buckets)
    seedRows.foreach(m.put)
    m.commit()
    m
  }

  private def startStream(ctx: Ctx, dir: File): StreamingQuery = {
    new File(dir, "drop").mkdirs()
    ctx.spark.readStream.schema(schema).json(new File(dir, "drop").getPath)
      .writeStream.format("graft-hub")
      .option("path", hubPath(dir)).option("keys", "o_orderkey")
      .option("checkpointLocation", new File(dir, "ckpt").getPath)
      .start()
  }

  /** Upsert: drop one batch file into the stream's directory and wait for
    * its commit. Returns the batch's keys.
    */
  private def upsert(ctx: Ctx, dir: File, m: Model, q: StreamingQuery,
      n: Int, out: Outcome): Seq[Order] = {
    val tr = ctx.tracer
    val batch = tr.span("bench.gen", "bench") {
      val os = m.sample(Refresh).map(m.order) ++
        Seq.fill(Refresh)(m.fresh())
      val tmp = new File(dir, f"stage/b$n%05d.json")
      out.batchBytes += writeJsonl(tmp, os)
      ctx.addInput("upsert.rows", os.size)
      os
    }
    val tmp = new File(dir, f"stage/b$n%05d.json")
    ctx.op("upsert") {
      tr.span("stream.upsert", "streaming") {
        Files.move(tmp.toPath, new File(dir, f"drop/b$n%05d.json").toPath,
          StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      }
      batch.foreach(m.put)
      m.commit()
    }
    batch
  }

  private def dml(ctx: Ctx, m: Model, i: Int, out: Outcome): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    i % 3 match {
      case 0 =>
        val src = m.sample(Refresh).map(m.order) ++ Seq.fill(Refresh)(m.fresh())
        spark.createDataFrame(java.util.Arrays.asList(src.map(_.row): _*),
          schema).createOrReplaceTempView("bench_merge_src")
        ctx.op("dml") {
          tr.span("sources.dml:merge", "sources")(spark.sql(
            s"""MERGE INTO $Table t USING bench_merge_src s
               |ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
          src.foreach(m.put)
          m.commit()
        }
      case 1 =>
        val ks = m.sample(Refresh)
        ctx.op("dml") {
          tr.span("sources.dml:update", "sources")(spark.sql(
            s"UPDATE $Table SET o_custkey = o_custkey + 1 " +
              s"WHERE o_orderkey IN (${ks.mkString(",")})"))
          ks.foreach(k => m.put(m.rows(k).copy(cust = m.rows(k).cust + 1)))
          m.commit()
        }
      case _ =>
        val ks = m.sample(Refresh)
        ctx.op("dml") {
          tr.span("sources.dml:delete", "sources")(spark.sql(
            s"DELETE FROM $Table WHERE o_orderkey IN (${ks.mkString(",")})"))
          ks.foreach(m.delete)
          m.commit()
        }
    }
    out.commits += 1
  }

  val Aggs = "count(*), sum(o_custkey), " +
    "sum(CAST(round(o_totalprice * 100) AS BIGINT))"
  private def aggOf(r: Row): (Long, Long, Long) =
    (r.getLong(0), r.getLong(1), r.getLong(2))

  private def same(r: Row, o: Order): Boolean =
    r.getAs[Long]("o_orderkey") == o.key && r.getAs[Long]("o_custkey") == o.cust &&
      r.getAs[String]("o_orderstatus") == o.status &&
      math.round(r.getAs[Double]("o_totalprice") * 100) == o.cents &&
      r.getAs[java.sql.Date]("o_orderdate").toLocalDate.toEpochDay == o.day &&
      r.getAs[String]("o_orderpriority") == o.prio

  def setupData(ctx: Ctx, dir: File): Unit = {
    model = seedHub(ctx, dir, Rows)
  }

  /** Start the stream, then run every op kind once on the seeded hub. */
  def warmup(ctx: Ctx, dir: File): Unit = {
    val m = model
    Table = s"${Reads.register(ctx.spark, new File(dir, "hubs"))}.default.orders"
    query = startStream(ctx, dir)
    val out = new Outcome
    upsert(ctx, dir, m, query, 0, out)
    (0 until 3).foreach(dml(ctx, m, _, out))
    reads(ctx, m, m.keys.head, m.version - 1)
    ctx.lat.clear()
    ctx.inputs.remove("upsert.rows")
  }

  /** The three reads, each checked against the model. */
  private def reads(ctx: Ctx, m: Model, key: Long, v: Int): Unit = {
    val (c, sc, sp) = (m.count, m.sumCust, m.sumCents)
    Reads.scan(ctx, Table, Aggs)(r => ctx.check(aggOf(r) == ((c, sc, sp)),
      s"scan at v${m.version}: ${aggOf(r)}, expected ${(c, sc, sp)}"))
    val want = m.rows(key)
    Reads.lookup(ctx, Table, s"o_orderkey = $key")(rs => ctx.check(
      rs.length == 1 && same(rs.head, want),
      s"lookup $key: ${rs.mkString(";")}, expected $want"))
    Reads.travel(ctx, Table, v, Aggs)(r => ctx.check(
      aggOf(r) == m.agg(v), s"travel to v$v: ${aggOf(r)}, expected ${m.agg(v)}"))
  }

  def run(ctx: Ctx, dir: File, out: Outcome): Unit = {
    val tr = ctx.tracer
    val m = model
    out.hubs = Seq(hubPath(dir))
    val firstVersion = m.version
    Reads.probe(ctx, out)
    var n = 0
    var cycle = 0
    var amp = Double.NaN
    val t0 = System.nanoTime()
    while (n < minWrites || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      cycle += 1
      tr.op = cycle
      val written = (1 to UpsertsPerCycle).flatMap { _ =>
        n += 1
        out.commits += 1
        upsert(ctx, dir, m, query, n, out)
      }
      dml(ctx, m, cycle, out)
      Reads.probe(ctx, out)
      val probe = written.map(_.key).find(m.rows.contains)
        .getOrElse(m.keys.head)
      reads(ctx, m, probe,
        firstVersion + m.rng.nextInt(m.version - firstVersion))
      if (amp.isNaN && n >= minWrites) amp = tr.span("bench.probe", "bench")(
        Reads.spaceAmp(ctx.spark, out.hubs))
    }
    out.cycles = cycle
    val ups = ctx.samples("upsert").toSeq
    out.e2e("write_s_p50") = Stats.p50(ups)
    out.e2e("rows_per_s") =
      ctx.inputs.getOrElse("upsert.rows", 0L) / ups.sum
    out.e2e("space_amp") = amp
    out.named("upsert_s_p50") = (Stats.p50(ups), "s")
    out.named("upsert_s_p75") = (Stats.pct(ups, 0.75), "s")
    out.named("dml_s_p50") = (Stats.p50(ctx.samples("dml").toSeq), "s")
    Reads.named(ctx, out)
  }

  /** The latest snapshot equals the model row for row, and the log holds
    * exactly the versions the model counted.
    */
  def verify(ctx: Ctx, dir: File, out: Outcome): Unit = {
    val m = model
    query.stop()
    ctx.op("check.snapshot", timed = false) {
      val rs = ctx.spark.sql(s"SELECT * FROM $Table").collect()
      ctx.check(rs.length == m.rows.size,
        s"snapshot: ${rs.length} rows, expected ${m.rows.size}")
      val bad = rs.filterNot(r => m.rows.get(r.getAs[Long]("o_orderkey"))
        .exists(same(r, _)))
      ctx.check(bad.isEmpty, s"snapshot: ${bad.length} rows differ, e.g. " +
        bad.take(2).mkString(";"))
    }
    ctx.op("check.versions", timed = false) {
      val last = VersionedHub.history(ctx.spark, hubPath(dir)).last.version
      ctx.check(last == m.version,
        s"hub is at v$last, the model counted ${m.version} commits")
    }
  }
}
