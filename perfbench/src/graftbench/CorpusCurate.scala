package graftbench

import java.io.File

import scala.collection.mutable

import graft.operators.{Dedup, QualityChecks, Similarity, TextAnalysis}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** corpus_curate: LLM-data curation over a generated corpus shaped like
  * sf0.1 `documents`, with planted low-quality documents, exact copies and
  * near-duplicate variants at known rates, and `embeddings` rows derived
  * from topic centres plus seeded noise. Each pass takes a fresh shard
  * through quality filter → exact dedup → MinHash-LSH near-dup pairs →
  * connected-component survivors → IVF top-k over the survivors'
  * embeddings, committing every stage's output, then publishes the
  * survivors into a keyless hub through the `graft-hub` streaming sink.
  * One SQL DML statement per pass (UPDATE, DELETE in turn) and the three
  * hub reads follow, checked against a driver-side model of the hub.
  */
object CorpusCurate extends Workload {
  val name = "corpus_curate"
  val minWrites = 1
  val Docs = 1500
  /** Documents of the warm-up shard (the one set-up generates). */
  val WarmDocs = 300
  val Dim = 32
  val Topics = 16
  val Queries = 32
  val K = 10
  val Threshold = 0.7
  private var Table = ""

  // planted rates, per mille of a shard: assumed, not measured on a real
  // crawl; at 1500 documents they give each filter stage 60-120
  // documents to remove while most documents survive to the ANN stage
  private val LowQuality = 60
  private val ExactCopies = 40
  private val NearVariants = 80

  /** Gopher's stop words: a good document carries at least two. */
  private val Stop = Array("the", "be", "to", "of", "and", "that", "have",
    "with")
  /** A fixed pseudo-word vocabulary (consonant-vowel syllables). */
  private val Vocab: Array[String] = {
    val r = new scala.util.Random(7)
    val c = "bcdfghklmnprstvz"; val v = "aeiou"
    Array.fill(600)(Seq.fill(2 + r.nextInt(3))(
      s"${c(r.nextInt(c.length))}${v(r.nextInt(v.length))}").mkString)
      .distinct
  }

  final case class Doc(id: Long, text: String, topic: Int, kind: String,
      origin: Long)

  final class Shard(val docs: IndexedSeq[Doc], val vecs: Map[Long, Array[Double]])

  /** Shard `p` of the corpus, a pure function of (seed, p). */
  def shard(seed: Long, p: Int, n: Int): Shard = {
    val r = new scala.util.Random(seed * 7919 + p)
    val centres = {
      val cr = new scala.util.Random(seed)
      Array.fill(Topics, Dim)(cr.nextGaussian())
    }
    def word(): String =
      if (r.nextInt(10) < 3) Stop(r.nextInt(Stop.length))
      else Vocab(r.nextInt(Vocab.length))
    val docs = mutable.ArrayBuffer.empty[Doc]
    val goods = mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { i =>
      val id = p.toLong * 10000000L + i
      val roll = r.nextInt(1000)
      val d =
        if (goods.size < 20 || roll >= LowQuality + ExactCopies + NearVariants) {
          val g = Doc(id, Seq.fill(60 + r.nextInt(80))(word()).mkString(" "),
            r.nextInt(Topics), "good", id)
          goods += g
          g
        } else if (roll < LowQuality) {
          // each kind fails a Gopher rule by construction: too few words,
          // repeated n-grams, or a '#' in every third token (symbol ratio)
          val text = r.nextInt(3) match {
            case 0 => Seq.fill(15 + r.nextInt(20))(word()).mkString(" ")
            case 1 =>
              val phrase = Seq.fill(6)(word()).mkString(" ")
              Seq.fill(12)(phrase).mkString(" ")
            case _ => Seq.tabulate(60 + r.nextInt(40))(j =>
              if (j % 3 == 0) "#" else word()).mkString(" ")
          }
          Doc(id, text, r.nextInt(Topics), "low", id)
        } else if (roll < LowQuality + ExactCopies) {
          val o = goods(r.nextInt(goods.size))
          // same normalized content, different spacing
          Doc(id, "  " + o.text.replace(" ", "  ") + " ", o.topic, "copy",
            o.id)
        } else {
          val o = goods(r.nextInt(goods.size))
          val ws = o.text.split(" ")
          (0 until 2 + r.nextInt(5)).foreach(_ => ws(r.nextInt(ws.length)) =
            Vocab(r.nextInt(Vocab.length)))
          Doc(id, ws.mkString(" "), o.topic, "variant", o.id)
        }
      docs += d
    }
    val vecs = docs.map { d =>
      d.id -> Array.tabulate(Dim)(j => centres(d.topic)(j) +
        0.35 * r.nextGaussian())
    }.toMap
    new Shard(docs.toIndexedSeq, vecs)
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Write a shard's documents and embeddings as the pass's parquet input. */
  private def writeShard(ctx: Ctx, s: Shard, dir: File): Unit = {
    val spark = ctx.spark
    val docs = s.docs.map(d => Row(d.id, d.text, Seq("en", "de", "fr")(
      (d.id % 3).toInt), s"src${d.id % 5}", d.text.length.toLong))
    spark.createDataFrame(java.util.Arrays.asList(docs: _*), docSchema)
      .repartition(4).write.mode("overwrite")
      .parquet(new File(dir, "documents").getPath)
    val emb = s.docs.map(d => Row(d.id, s.vecs(d.id).toSeq))
    spark.createDataFrame(java.util.Arrays.asList(emb: _*), StructType(Seq(
      StructField("id", LongType),
      StructField("vec", ArrayType(DoubleType, containsNull = false)))))
      .repartition(4).write.mode("overwrite")
      .parquet(new File(dir, "embeddings").getPath)
    ctx.addInput("documents.rows", s.docs.size)
    ctx.addInput("embeddings.rows", s.docs.size)
    ctx.addInput("input.bytes", Fs.sizeOf(dir))
  }

  /** What one pass committed, read back for the checks. */
  final case class PassOut(quality: Set[Long], exact: Set[Long],
      pairs: Seq[(Long, Long, Double)], survivors: Set[Long],
      queries: Seq[Long], ann: Seq[(Long, Long, Double, Int)])

  /** One curation pass over the shard in `dir`; every stage's output is
    * committed under `dir`.
    */
  def pass(ctx: Ctx, dir: File, queries: Seq[Long]): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def commit(df: DataFrame, stage: String): DataFrame = {
      val p = new File(dir, stage).getPath
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    val docs = spark.read.parquet(new File(dir, "documents").getPath)
    val quality = tr.span("operators.quality", "operators") {
      val q = commit(TextAnalysis.gopherGate(docs, "text")
        .filter(col("gopher_keep")).drop("gopher_keep"), "quality")
      val failedRules = QualityChecks.run(q, Seq(
        QualityChecks.NotNull("text"), QualityChecks.Unique(Seq("doc_id")),
        QualityChecks.MinRows(1))).filter(!col("pass")).collect()
      ctx.check(failedRules.isEmpty,
        s"quality checks failed: ${failedRules.mkString(";")}")
      q
    }
    val exact = tr.span("operators.exact_dedup", "operators")(
      commit(Dedup.exact(quality, "text", "doc_id"), "exact"))
    val pairs = tr.span("operators.near_dedup", "operators")(commit(
      Dedup.minhashLshPairs(exact, "text", "doc_id", Threshold), "pairs"))
    val survivors = tr.span("operators.components", "operators")(
      commit(Dedup.survivorsFromPairs(exact, "doc_id",
        pairs.select("id_a", "id_b")), "survivors"))
    tr.span("operators.ann", "operators") {
      val emb = spark.read.parquet(new File(dir, "embeddings").getPath)
      val corpus = emb.join(survivors.select(col("doc_id").as("id")), "id")
      val qs = emb.filter(col("id").isin(queries: _*))
      commit(Similarity.ivfTopKTrained(qs, corpus, nCells = Topics,
        iters = 2, nprobe = 3, k = K), "ann")
    }
    ()
  }

  private def readBack(ctx: Ctx, dir: File, queries: Seq[Long]): PassOut = {
    val spark = ctx.spark
    def ids(stage: String): Set[Long] =
      spark.read.parquet(new File(dir, stage).getPath).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    PassOut(ids("quality"), ids("exact"),
      spark.read.parquet(new File(dir, "pairs").getPath).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      ids("survivors"), queries,
      spark.read.parquet(new File(dir, "ann").getPath).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSeq)
  }

  private def shingles(text: String): Set[String] =
    text.trim.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
  private def jaccard(a: String, b: String): Double = {
    val x = shingles(a); val y = shingles(b)
    (x & y).size.toDouble / (x | y).size
  }
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k by cosine over `corpus`, ties to the lower id. */
  def exactTopK(s: Shard, q: Long, corpus: Set[Long]): Seq[Long] =
    corpus.toSeq.filter(_ != q)
      .map(id => (id, cosine(s.vecs(q), s.vecs(id))))
      .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)

  /** Check one pass against an independent computation on the generated
    * shard; returns (planted near-dup pairs found, planted, ann hits,
    * ann expected).
    */
  def checkPass(ctx: Ctx, s: Shard, o: PassOut): (Int, Int, Int, Int) = {
    val byId = s.docs.map(d => d.id -> d).toMap
    val wantQuality = s.docs.filter(_.kind != "low").map(_.id).toSet
    ctx.check(o.quality == wantQuality, s"quality kept ${o.quality.size} " +
      s"docs, expected ${wantQuality.size}; first differences " +
      (o.quality diff wantQuality).take(3) + (wantQuality diff o.quality).take(3))
    val wantExact = wantQuality -- s.docs.filter(_.kind == "copy").map(_.id)
    ctx.check(o.exact == wantExact,
      s"exact dedup kept ${o.exact.size} docs, expected ${wantExact.size}")
    o.pairs.foreach { case (a, b, j) =>
      val want = jaccard(byId(a).text, byId(b).text)
      ctx.check(a < b && wantExact(a) && wantExact(b) &&
        math.abs(j - want) < 1e-9 && j >= Threshold,
        s"near-dup pair ($a, $b, $j): exact Jaccard is $want")
    }
    // connected components of the reported pairs, by union-find
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    o.pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantSurvivors = wantExact.filter(id => find(id) == id)
    ctx.check(o.survivors == wantSurvivors, s"survivors: ${o.survivors.size}," +
      s" expected ${wantSurvivors.size}")
    // planted near-duplicates that are near-duplicates by definition
    val planted = s.docs.filter(d => d.kind == "variant" &&
      wantExact(d.id) && wantExact(d.origin) &&
      jaccard(d.text, byId(d.origin).text) >= Threshold)
      .map(d => (math.min(d.id, d.origin), math.max(d.id, d.origin))).toSet
    val found = o.pairs.map(p => (p._1, p._2)).toSet
    // ANN: every reported neighbour carries its true cosine and rank order
    val annHits = o.queries.map { q =>
      val got = o.ann.filter(_._1 == q).sortBy(_._4)
      got.foreach { case (_, nb, c, _) =>
        ctx.check(o.survivors(nb) &&
          math.abs(c - cosine(s.vecs(q), s.vecs(nb))) < 1e-9,
          s"ann ($q, $nb): cosine $c is not the true cosine")
      }
      ctx.check(got.map(_._4) == (1 to got.size) && got.size <= K &&
        got.map(_._3).zip(got.map(_._3).drop(1)).forall(x => x._1 >= x._2),
        s"ann $q: ranks out of order")
      (got.map(_._2).toSet & exactTopK(s, q, o.survivors).toSet).size
    }.sum
    ((planted & found).size, planted.size, annHits, o.queries.size * K)
  }

  private var first: Shard = _

  def setupData(ctx: Ctx, dir: File): Unit = {
    first = shard(ctx.seed, 0, WarmDocs)
    writeShard(ctx, first, new File(dir, "p0"))
  }

  private var checked = (0, 0, 0, 0)
  private var lastPass: (Shard, PassOut) = _
  private var query: StreamingQuery = _

  /** Driver-side model of the curated hub: live doc → (n_chars, source),
    * and (count, Σn_chars) at every committed version.
    */
  private val live = mutable.LinkedHashMap.empty[Long, (Long, String)]
  private val versions = mutable.ArrayBuffer.empty[(Long, Long)]
  private def commitModel(): Unit =
    versions += ((live.size.toLong, live.valuesIterator.map(_._1).sum))

  /** Publish a pass's committed survivors into the curated hub through the
    * `graft-hub` streaming sink: link the stage's files into a new
    * directory, move it under the stream's glob in one rename (so the
    * stream sees the pass's files at once, as one micro-batch and one hub
    * version) and wait for the micro-batch commit.
    */
  private def publish(ctx: Ctx, pdir: File, p: Int): Unit =
    ctx.tracer.span("stream.upsert", "streaming") {
      val stage = ctx.dir(s"publish-stage/p$p")
      Fs.files(new File(pdir, "survivors")).filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.createLink(
          new File(stage, f.getName).toPath, f.toPath))
      java.nio.file.Files.move(stage.toPath, new File(drop, s"p$p").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }

  /** One SQL DML statement on the curated hub, UPDATE and DELETE in turn. */
  private def dml(ctx: Ctx, p: Int): Unit = {
    val r = new scala.util.Random(ctx.seed * 31 + p)
    val ids = live.keys.toIndexedSeq
    if (ids.isEmpty) return
    val ks = Seq.fill(16)(ids(r.nextInt(ids.size))).distinct
    val in = ks.mkString(",")
    ctx.op("dml") {
      if (p % 2 == 0) {
        ctx.tracer.span("sources.dml:update", "sources")(ctx.spark.sql(
          s"UPDATE $Table SET source = 'reviewed' WHERE doc_id IN ($in)"))
        ks.foreach(k => live(k) = (live(k)._1, "reviewed"))
      } else {
        ctx.tracer.span("sources.dml:delete", "sources")(ctx.spark.sql(
          s"DELETE FROM $Table WHERE doc_id IN ($in)"))
        ks.foreach(live.remove)
      }
      commitModel()
    }
  }

  /** Passes of the warm-up. */
  val WarmPasses = 1
  /** Reads of each kind after a pass (an assumed mix: no trace of graft's
    * users exists); five give each kind's median five samples in a run of
    * one timed pass.
    */
  val ReadsPerPass = 5
  private var drop: File = _

  /** Untimed: start the publishing stream and run the first `WarmPasses`
    * passes (the small set-up shard first) with their DML and reads, so
    * that the timed pass measures a JVM whose operators are compiled.
    */
  def warmup(ctx: Ctx, dir: File): Unit = {
    val hub = new File(dir, "hubs/curated").getAbsolutePath
    drop = ctx.dir("publish")
    Table = s"${Reads.register(ctx.spark, new File(dir, "hubs"))}.default.curated"
    query = ctx.spark.readStream.schema(docSchema)
      .parquet(new File(drop, "*").getPath)
      .writeStream.format("graft-hub").option("path", hub)
      .option("checkpointLocation", new File(dir, "ckpt").getPath).start()
    (0 until WarmPasses).foreach(cycle(ctx, dir, new Outcome, _))
    ctx.lat.clear()
    checked = (0, 0, 0, 0)
  }

  /** Curation pass `p` over a fresh shard and its publish, the read-back
    * checks, one DML and the checked reads of the curated hub.
    */
  private def cycle(ctx: Ctx, dir: File, out: Outcome, p: Int): Unit = {
    val tr = ctx.tracer
    tr.op = p
    val pdir = new File(dir, s"p$p")
    val s = if (p == 0) first else tr.span("bench.gen", "bench") {
      val sh = shard(ctx.seed, p, Docs)
      writeShard(ctx, sh, pdir)
      sh
    }
    out.batchBytes += Fs.sizeOf(new File(pdir, "documents"))
    val queries = {
      val r = new scala.util.Random(ctx.seed + p)
      val good = s.docs.filter(_.kind == "good")
      Seq.fill(Queries)(good(r.nextInt(good.size)).id).distinct
    }
    val ok = ctx.op("pass") {
      tr.span("bench.pass", "bench") {
        pass(ctx, pdir, queries)
        publish(ctx, pdir, p)
      }
    }
    out.commits += 1
    val back = ok.flatMap(_ => ctx.op("check.readback", timed = false)(
      tr.span("bench.check", "bench")(readBack(ctx, pdir, queries))))
    back.foreach { o =>
      lastPass = (s, o)
      val byId = s.docs.map(d => d.id -> d).toMap
      o.survivors.foreach(id => live(id) = (byId(id).text.length.toLong,
        s"src${id % 5}"))
      commitModel()
      ctx.op("check.pass", timed = false) {
        val c = tr.span("bench.check", "bench")(checkPass(ctx, s, o))
        checked = (checked._1 + c._1, checked._2 + c._2, checked._3 + c._3,
          checked._4 + c._4)
      }
    }
    dml(ctx, p)
    out.commits += 1
    Reads.probe(ctx, out)
    val (n, chars) = versions.last
    val probes = Option(lastPass).toSeq
      .flatMap(_._2.survivors.filter(live.contains).toSeq.sorted)
    (0 until ReadsPerPass).foreach { i =>
      Reads.scan(ctx, Table, "count(*), sum(n_chars)")(r => ctx.check(
        r.getLong(0) == n && r.getLong(1) == chars,
        s"scan: (${r.getLong(0)}, ${r.getLong(1)}), expected ($n, $chars)"))
      probes.lift(i * 97).foreach { id =>
        Reads.lookup(ctx, Table, s"doc_id = $id")(rs => ctx.check(
          rs.length == 1 && rs.head.getAs[Long]("n_chars") == live(id)._1 &&
            rs.head.getAs[String]("source") == live(id)._2,
          s"lookup $id: ${rs.length} rows, expected ${live(id)}"))
      }
      val v = math.max(1, versions.size - 1) // the previous version
      if (versions.nonEmpty) Reads.travel(ctx, Table, v,
          "count(*), sum(n_chars)")(r => ctx.check(
        (r.getLong(0), r.getLong(1)) == versions(v - 1),
        s"travel to v$v: (${r.getLong(0)}, ${r.getLong(1)}), expected " +
          versions(v - 1)))
    }
    if (p > 1) Fs.rm(new File(dir, s"p${p - 2}"))
  }

  def run(ctx: Ctx, dir: File, out: Outcome): Unit = {
    out.hubs = Seq(new File(dir, "hubs/curated").getAbsolutePath)
    Reads.probe(ctx, out)
    var p = WarmPasses
    var amp = Double.NaN
    val t0 = System.nanoTime()
    while (p - WarmPasses < minWrites ||
        System.nanoTime() - t0 < ctx.seconds * 1e9) {
      cycle(ctx, dir, out, p)
      p += 1
      if (p == WarmPasses + 1) amp = ctx.tracer.span("bench.probe", "bench")(
        Reads.spaceAmp(ctx.spark, out.hubs))
    }
    out.cycles = p - WarmPasses
    val passes = ctx.samples("pass").toSeq
    out.e2e("write_s_p50") = Stats.p50(passes)
    out.e2e("rows_per_s") = out.cycles.toLong * Docs / passes.sum
    out.e2e("space_amp") = amp
    out.named("curate_docs_per_s") = (out.e2e("rows_per_s"), "docs/s")
    out.named("pass_s_p50") = (Stats.p50(passes), "s")
    out.named("dml_s_p50") = (Stats.p50(ctx.samples("dml").toSeq), "s")
    Reads.named(ctx, out)
    out.layer("near_dup_recall") = checked._1.toDouble / math.max(1, checked._2)
    out.layer("ann_recall_at_k") = checked._3.toDouble / math.max(1, checked._4)
  }

  /** `Similarity.bruteForceTopK` on the last pass equals the exact top-k
    * the ANN recall is measured against.
    */
  def verify(ctx: Ctx, dir: File, out: Outcome): Unit = {
    query.stop()
    Option(lastPass).foreach { case (s, o) =>
    ctx.op("check.bruteforce", timed = false) {
      val spark = ctx.spark
      val emb = spark.createDataFrame(java.util.Arrays.asList(
        o.survivors.toSeq.map(id => Row(id, s.vecs(id).toSeq)): _*),
        StructType(Seq(StructField("id", LongType),
          StructField("vec", ArrayType(DoubleType, containsNull = false)))))
      val got = Similarity.bruteForceTopK(
        emb.filter(col("id").isin(o.queries: _*)), emb, K).collect()
        .groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
          q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id"))
            .toSeq }
      o.queries.foreach { q =>
        ctx.check(got.getOrElse(q, Nil) == exactTopK(s, q, o.survivors),
          s"bruteForceTopK($q) differs from the exact top-$K")
      }
    }
  }
}
}
