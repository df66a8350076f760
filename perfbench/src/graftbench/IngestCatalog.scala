package graftbench

import java.io.File

import graft.catalog.YamlCatalog
import graft.conf.EngineConfig
import graft.engine.Ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ingest_catalog: the paper's own path. A generated catalog of sources
  * shaped like the sf0.1 tables at a quarter of their row counts (Parquet
  * `lineitem` and CSV-with-inferSchema `orders`, keyed; JSONL `events`,
  * keyless), one initial load, then incremental `Ingest` runs, each with a
  * fresh seeded change set per source sized after the TPC-H refresh
  * functions: updates, inserts and within-batch duplicate keys.
  */
object IngestCatalog extends Workload {
  val name = "ingest_catalog"
  val minWrites = 2
  val Domain = "sales"

  /** A source table: `cols(r, salt)` derives every column from the row
    * index `r` (the key) and a per-batch salt (the payload).
    */
  final case class Spec(id: String, fmt: String, keys: Seq[String],
      rows: Long, cols: (Column, Column) => Seq[Column])

  private def h(r: Column, salt: Column, c: Int): Column =
    xxhash64(lit(0x5eedL), salt, r, lit(c))
  private def uni(r: Column, salt: Column, c: Int, n: Long): Column =
    pmod(h(r, salt, c), lit(n))
  private def pick(r: Column, salt: Column, c: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (uni(r, salt, c, xs.size.toLong) + 1)
      .cast("int"))
  /** a 2-decimal amount: integer cents divided once, so the double prints
    * back as the same decimal text after a CSV or JSON round trip
    */
  private def cents(v: Column): Column = v.cast("double") / lit(100.0)

  val specs: Seq[Spec] = Seq(
    Spec("lineitem", "parquet", Seq("l_orderkey", "l_linenumber"), 150000L,
      (r, s) => Seq(
        (floor(r / 4) + 1).as("l_orderkey"),
        (pmod(r, lit(4L)) + 1).cast("int").as("l_linenumber"),
        (uni(r, s, 1, 10000) + 1).as("l_partkey"),
        (uni(r, s, 2, 500) + 1).as("l_suppkey"),
        (uni(r, s, 3, 50) + 1).cast("double").as("l_quantity"),
        cents((uni(r, s, 3, 50) + 1) * (uni(r, s, 4, 10000) + 90000))
          .as("l_extendedprice"),
        cents(uni(r, s, 5, 11)).as("l_discount"),
        cents(uni(r, s, 6, 9)).as("l_tax"),
        pick(r, s, 7, "R", "A", "N").as("l_returnflag"),
        pick(r, s, 8, "O", "F").as("l_linestatus"),
        date_add(lit("1992-01-01").cast("date"), uni(r, s, 9, 2500).cast("int"))
          .as("l_shipdate"))),
    Spec("orders", "csv", Seq("o_orderkey"), 37500L, (r, s) => Seq(
      (r + 1).as("o_orderkey"),
      (uni(r, s, 1, 7500) + 1).as("o_custkey"),
      pick(r, s, 2, "O", "F", "P").as("o_orderstatus"),
      cents(uni(r, s, 3, 50000000) + 90000).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), uni(r, s, 4, 2400).cast("int"))
        .as("o_orderdate"),
      pick(r, s, 5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").as("o_orderpriority"))),
    Spec("events", "json", Nil, 25000L, (r, s) => Seq(
      (r + 1).as("event_id"),
      concat(lit("2024-01-"), lpad((uni(r, s, 1, 28) + 1).cast("string"), 2,
        "0"), lit("T"), lpad(uni(r, s, 2, 24).cast("string"), 2, "0"),
        lit(":00:00Z")).as("ts"),
      (uni(r, s, 3, 7500) + 1).as("user_id"),
      pick(r, s, 4, "view", "click", "cart", "buy").as("event_type"),
      cents(uni(r, s, 5, 100000)).as("value"))))

  /** Change-set sizes of one incremental batch of a source, after the
    * TPC-H refresh functions: RF1 inserts SF × 1500 orders (with their
    * lineitems) and RF2 deletes as many, 0.1 % of the table each. The
    * catalog path has no delete, so RF2's churn arrives as updates of
    * existing keys. Within-batch duplicates (10 % of the updates, at least
    * 5) are an assumption: re-delivered records, which TPC-H has none of.
    */
  private def nUpd(s: Spec): Long = s.rows / 1000
  private def nIns(s: Spec): Long = s.rows / 1000
  private def nDup(s: Spec): Long = math.max(5L, nUpd(s) / 10)

  /** Row indices of batch `b` (0 = the initial load). Updates visit
    * distinct existing rows (a stride coprime to the table size), inserts
    * take fresh indices past everything earlier batches created, and the
    * first `nDup` updates repeat verbatim: a within-batch duplicate key
    * that carries the same payload (the re-delivered record), so the
    * last-writer-wins result does not depend on which copy the merge keeps
    * — graft's tiebreak (`_ingest_ts_utc`) is equal within one run.
    */
  def batch(spark: SparkSession, seed: Long, s: Spec, b: Int): DataFrame =
    index(spark, seed, s, b).select(s.cols(col("r"), salt(seed, lit(b))): _*)

  /** The per-batch payload salt. */
  private def salt(seed: Long, b: Column): Column = lit(seed * 1000003L) + b

  /** Row indices `r` of batch `b`, duplicates included. */
  def index(spark: SparkSession, seed: Long, s: Spec, b: Int): DataFrame =
    if (b == 0) spark.range(0, s.rows, 1, 4).toDF("r")
    else {
      val ins = spark.range(0, nIns(s), 1, 1)
        .select((lit(s.rows) + lit((b - 1) * nIns(s)) + col("id")).as("r"))
      if (s.keys.isEmpty) {
        // keyless: new events plus re-delivered copies of some of them
        ins.union(ins.limit(nDup(s).toInt))
      } else {
        val off = math.floorMod(scala.util.hashing.MurmurHash3
          .productHash((seed, b, s.id)).toLong, s.rows)
        val upd = spark.range(0, nUpd(s), 1, 1)
          .select(pmod(col("id") * lit(1000003L) + lit(off), lit(s.rows)).as("r"))
        val dup = spark.range(0, nDup(s), 1, 1)
          .select(pmod(col("id") * lit(1000003L) + lit(off), lit(s.rows)).as("r"))
        upd.union(ins).union(dup)
      }
    }

  def batchRows(s: Spec, b: Int): Long =
    if (b == 0) s.rows
    else if (s.keys.isEmpty) nIns(s) + nDup(s)
    else nUpd(s) + nIns(s) + nDup(s)

  /** Live key count of a keyed source after batch `b`. */
  def liveRows(s: Spec, b: Int): Long =
    if (s.keys.isEmpty) (0 to b).map(batchRows(s, _)).sum
    else s.rows + b * nIns(s)

  private def writeInput(df: DataFrame, s: Spec, dir: File): Unit = {
    val w = (if (s.fmt == "parquet") df else df.coalesce(1))
      .write.mode("overwrite")
    s.fmt match {
      case "parquet" => w.parquet(dir.getPath)
      case "csv" => w.option("header", "true").csv(dir.getPath)
      case "json" => w.json(dir.getPath)
    }
  }

  /** Generate batch `b` of every source under `dir/bNNNN` and the catalog
    * YAML that points at it; returns the YAML path.
    */
  def generate(ctx: Ctx, dir: File, b: Int): String = {
    val bdir = new File(dir, f"in/b$b%04d")
    val srcYaml = specs.map { s0 =>
      val d = new File(bdir, s0.id)
      writeInput(batch(ctx.spark, ctx.seed, s0, b), s0, d)
      val bytes = Fs.files(d).filter(_.getName.startsWith("part-"))
        .map(_.length).sum
      ctx.addInput(s"${s0.id}.rows", batchRows(s0, b))
      ctx.addInput(s"${s0.id}.bytes", bytes)
      ctx.addInput("source_bytes", bytes)
      val opts = s0.fmt match {
        case "csv" => Seq("header" -> "true", "inferSchema" -> "true")
        case _ => Nil
      }
      val keyYaml =
        if (s0.keys.isEmpty) ""
        else s"    hub_primary_keys: [${s0.keys.mkString(", ")}]\n"
      s"""  - id: ${s0.id}
         |    type: ${s0.fmt}
         |    domain: $Domain
         |    entity: ${s0.id}
         |    options:
         |      path: "${d.getAbsolutePath}"
         |${opts.map { case (k, v) => s"      $k: \"$v\"\n" }.mkString}$keyYaml""".stripMargin
    }.mkString
    val yaml =
      s"""version: 1
         |defaults:
         |  raw_base: "${new File(dir, "raw").getAbsolutePath}"
         |  hub_base: "${new File(dir, "hub").getAbsolutePath}"
         |  checkpoint_base: "${new File(dir, "ckpt").getAbsolutePath}"
         |  domain: $Domain
         |sources:
         |$srcYaml""".stripMargin
    val p = new File(bdir, "sources.yaml").toPath
    Fs.write(p, yaml)
    p.toString
  }

  /** One catalog run. Untraced it is `Ingest.run`; traced it makes the same
    * calls `runCatalog` makes at parallelism 1, each inside a span.
    */
  def ingest(ctx: Ctx, yaml: String): Unit = {
    val tr = ctx.tracer
    if (!tr.enabled) Ingest.run(ctx.spark, yaml)
    else {
      val system = tr.span("catalog.load", "catalog")(YamlCatalog.load(yaml))
      val cfg = tr.span("engine.config", "engine")(
        EngineConfig.fromDefaults(system.defaults, None))
      system.sources.filter(_.enabled).foreach { s =>
        tr.span(s"engine.runSource:${s.id}", "engine")(
          Ingest.runSource(ctx.spark, cfg, s))
      }
    }
  }

  private def hubPath(dir: File, s: Spec): String =
    new File(dir, s"hub/$Domain/${s.id}").getAbsolutePath
  private def rawPath(dir: File, s: Spec): String =
    new File(dir, s"raw/$Domain/${s.id}").getAbsolutePath

  private var table = ""
  private var rawFiles0 = 0L
  private def rawFiles(dir: File): Long =
    Fs.files(new File(dir, "raw")).count(_.getName.endsWith(".parquet"))

  /** Untimed: the initial load of the inputs set-up generated (cold, like
    * a run of the ingestion CLI; printed as `initial_load_s`) and its
    * reads, so that the timed runs start in a JVM whose ingest and read
    * paths are compiled.
    */
  def warmup(ctx: Ctx, dir: File): Unit = {
    table = s"${Reads.register(ctx.spark, new File(dir, "hub"))}.$Domain.lineitem"
    ctx.tracer.op = 0
    ctx.op("initial_load")(ingest(ctx, new File(dir, "in/b0000/sources.yaml")
      .getPath))
    initialLoadS = ctx.samples("initial_load").last
    reads(ctx, 0)
    ctx.lat.clear()
  }
  private var initialLoadS = Double.NaN

  def setupData(ctx: Ctx, dir: File): Unit = {
    generate(ctx, dir, 0)
    ()
  }

  /** Incremental catalog run `b` (fresh change sets), then the checked
    * reads of the large hub; returns the rows the run ingested.
    */
  private def cycle(ctx: Ctx, dir: File, out: Outcome, b: Int): Long = {
    val tr = ctx.tracer
    tr.op = b
    if (tr.enabled) tr.span("bench.probe", "bench") {
      out.hubBaseBytes += specs.filter(_.keys.nonEmpty)
        .map(s => Reads.liveBytes(ctx.spark, hubPath(dir, s))).sum
    }
    val before = ctx.inputs.getOrElse("source_bytes", 0L)
    val yaml = tr.span("bench.gen", "bench")(generate(ctx, dir, b))
    out.sourceBytes += ctx.inputs("source_bytes") - before
    ctx.op("catalog_run") {
      tr.span("bench.catalog_run", "bench")(ingest(ctx, yaml))
    }
    out.commits += specs.size // one hub commit per source and run
    Reads.probe(ctx, out)
    reads(ctx, b)
    specs.map(batchRows(_, b)).sum
  }

  /** Reads of each kind after a catalog run: an assumed mix (no trace of
    * graft's users exists); two per run give each kind's median four
    * samples in a run of two timed catalog runs.
    */
  val ReadsPerRun = 2

  /** The reads of the large hub after batch `b`, checked against the
    * generator's key counts. Hub version v holds batches 0..v-1.
    */
  private def reads(ctx: Ctx, b: Int): Unit = {
    val lineitem = specs.head
    val live = liveRows(lineitem, b)
    val v = math.max(1, b)
    val atV = liveRows(lineitem, v - 1)
    (0 until ReadsPerRun).foreach { i =>
      Reads.scan(ctx, table, Aggs)(r => ctx.check(r.getLong(0) == live,
        s"scan: ${r.getLong(0)} rows, expected $live"))
      Reads.lookup(ctx, table, s"l_orderkey = ${lineitem.rows / 8 + 997 * i + b}" +
        s" AND l_linenumber = ${1 + (b + i) % 4}")(rs => ctx.check(
        rs.length == 1, s"lookup: ${rs.length} rows, expected 1"))
      Reads.travel(ctx, table, v, Aggs)(r => ctx.check(r.getLong(0) == atV,
        s"travel to v$v: ${r.getLong(0)} rows, expected $atV"))
    }
  }

  def run(ctx: Ctx, dir: File, out: Outcome): Unit = {
    val hubs = specs.map(hubPath(dir, _))
    out.hubs = Seq(hubPath(dir, specs.head))
    rawFiles0 = rawFiles(dir)
    Reads.probe(ctx, out)
    var rows = 0L
    var b = 0
    var amp = Double.NaN
    val t0 = System.nanoTime()
    while (b < minWrites || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      b += 1
      rows += cycle(ctx, dir, out, b)
      if (b == 1) amp = ctx.tracer.span("bench.probe", "bench")(
        Reads.spaceAmp(ctx.spark, hubs))
    }
    val runs = ctx.samples("catalog_run").toSeq
    out.cycles = b
    out.batchBytes = out.sourceBytes
    out.e2e("rows_per_s") = rows / runs.sum
    out.e2e("space_amp") = amp
    out.named("initial_load_s") = (initialLoadS, "s")
    out.named("catalog_run_s_p50") = (Stats.p50(runs), "s")
    out.named("ingest_rows_per_s") = (rows / runs.sum, "rows/s")
    out.e2e("write_s_p50") = out.named("catalog_run_s_p50")._1
    Reads.named(ctx, out)
    lastBatch = b
  }

  private var lastBatch = 0
  /** a full-snapshot aggregate that reads a column, not only the count the
    * manifest can answer; the count is checked, the sum rides along
    */
  private val Aggs = "count(*), sum(l_quantity)"

  /** RAW holds every generated row; each HUB is the last-writer-wins fold
    * of the generated batches, computed here with plain Spark from the
    * generator's own definition.
    */
  def verify(ctx: Ctx, dir: File, out: Outcome): Unit = {
    val spark = ctx.spark
    val b = lastBatch
    out.rawFiles = rawFiles(dir) - rawFiles0
    // one job digests every RAW zone, HUB and expected fold
    val digests = ctx.op("check.digest", timed = false)(Digest.all(
      specs.flatMap(s => Seq(
        s"raw.${s.id}" -> spark.read.parquet(rawPath(dir, s)).select(lit(0).as("r")),
        s"hub.${s.id}" -> Ingest.readHub(spark, hubPath(dir, s))
          .drop("_ingest_ts_utc", "ingest_date"),
        s"want.${s.id}" -> expected(spark, ctx.seed, s, b)
          .withColumn("_source_id", lit(s.id))))))
    for (d <- digests; s <- specs) {
      ctx.op(s"check.raw.${s.id}", timed = false) {
        val got = d.get(s"raw.${s.id}").fold(0L)(_._1)
        val want = (0 to b).map(batchRows(s, _)).sum
        ctx.check(got == want, s"RAW ${s.id}: $got rows, expected $want")
      }
      ctx.op(s"check.hub.${s.id}", timed = false) {
        val (got, want) = (d.get(s"hub.${s.id}"), d.get(s"want.${s.id}"))
        ctx.check(got == want, s"HUB ${s.id}: $got, expected $want")
      }
    }
  }

  /** Last-writer-wins fold of batches 0..`last`, plain Spark: each key
    * (row index) keeps the payload of the last batch that carried it.
    */
  def expected(spark: SparkSession, seed: Long, s: Spec, last: Int)
      : DataFrame =
    if (s.keys.isEmpty) (0 to last).map(batch(spark, seed, s, _))
      .reduce(_ union _)
    else (0 to last).map(b => index(spark, seed, s, b).withColumn("_b", lit(b)))
      .reduce(_ union _).groupBy("r").agg(max("_b").as("_b"))
      .select(s.cols(col("r"), salt(seed, col("_b"))): _*)
}

/** Order-insensitive digest of a frame's rows: row count plus the sum and
  * xor of a 64-bit hash of each row, over its columns in name order with
  * numbers widened to double and dates to text, so types that differ only
  * by width or by CSV/JSON inference hash alike.
  */
object Digest {
  type D = (Long, Long, Long)

  private def canon(df: DataFrame): Column =
    xxhash64(df.schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          col(f.name).cast("double")
        case org.apache.spark.sql.types.StringType => col(f.name)
        case _ => col(f.name).cast("string")
      }
    }: _*)

  /** Digest of each named frame, all computed in one job. */
  def all(frames: Seq[(String, DataFrame)]): Map[String, D] = {
    val rows = frames.map { case (name, df) =>
      df.select(lit(name).as("_frame"), canon(df).as("_hx"))
    }.reduce(_ unionByName _)
    val hx = col("_hx")
    rows.groupBy("_frame").agg(count(lit(1)), sum(pmod(hx, lit(1L << 40))),
      bit_xor(hx)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
  }
}
