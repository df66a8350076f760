package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an `array<float>` embedding column.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * one scan of the corpus, per-query window top-k. Exact; work ∝ |Q|·|C|.
  *
  * Scale path: IVF (inverted-file) partitioning — assign every vector to its
  * nearest centroid once (write-time, amortized), then probe only the
  * `nprobe` closest cells per query: work ∝ |Q|·(C + nprobe·|cell|). On a
  * real deployment centroids come from k-means sampling; here they are
  * chosen deterministically (lowest-id vectors) so results are reproducible
  * and oracle-checkable. The same shape extends to LSH bucketing (random
  * hyperplanes) — SimHash over embedding sign bits.
  *
  * All scoring uses double LTR accumulation (VectorFunctions) so DuckDB
  * reproduces every score bit-for-bit.
  */
object Similarity {

  /** Run `body` with adaptive query execution disabled in the session,
    * restoring the prior setting after. Used around the SEEDING loops
    * only: their per-round frames are SAMPLE-bounded by contract (never
    * corpus-sized at any scale factor), so AQE's per-exchange stage
    * materialization buys nothing — it just turns each round's one
    * action into ~3 driver-scheduled jobs with a replan gap between
    * them. Result-identical by construction: AQE changes physical
    * scheduling, never values.
    */
  private def withAqeOff[T](df: DataFrame)(body: => T): T = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val prev = conf.getOption(key)
    conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }

  /** Per-row precomputed L2 norm — computed ONCE per vector instead of once
    * per pair. sqrt(dot(v,v)) is the same double either way, so pair scores
    * stay bit-identical to the naive per-pair formula (and the oracle).
    */
  private def withNorm(df: DataFrame, vecCol: String, normName: String): DataFrame =
    df.withColumn(normName,
      sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))))

  /** Exact brute-force cosine top-k for each query vector.
    * `queries`/`corpus`: (id, vec). Broadcast the query side; one codegen'd
    * dot product per pair (norms amortized per vector).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = withNorm(queries.select(col("id").as("query_id"),
      col("vec").cast("array<double>").as("qvec")), "qvec", "qnorm")
    val c = withNorm(corpus.select(col("id").as("neighbor_id"),
      col("vec").cast("array<double>").as("cvec")), "cvec", "cnorm")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        VectorFunctions.dot(col("qvec"), col("cvec")) /
          (col("qnorm") * col("cnorm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Contrastive hard negatives: for each query vector, the top-k corpus
    * vectors by cosine WITHIN [lo, hi) — similar enough to be confusable,
    * capped below the near-dup band so true duplicates (which would poison
    * a contrastive objective as false negatives) are excluded. The standard
    * negative-mining step for embedding-model training data.
    *
    * Same scale shape as [[bruteForceTopK]]: the (small) query set is
    * broadcast, the corpus never shuffles for scoring, and only in-band
    * rows reach the per-query rank window. At corpus scale swap the
    * broadcast scoring for IVF-cell candidates ([[ivfTopK]]) feeding the
    * same band filter and window.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, lo: Double,
      hi: Double, k: Int): DataFrame = {
    require(lo < hi, s"band must be non-empty: [$lo, $hi)")
    val q = withNorm(queries.select(col("id").as("query_id"),
      col("vec").cast("array<double>").as("qvec")), "qvec", "qnorm")
    val c = withNorm(corpus.select(col("id").as("neighbor_id"),
      col("vec").cast("array<double>").as("cvec")), "cvec", "cnorm")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        VectorFunctions.dot(col("qvec"), col("cvec")) /
          (col("qnorm") * col("cnorm")))
      .filter(col("cosine") >= lo && col("cosine") < hi)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Embedding near-duplicate pairs: all (a<b) pairs with cosine ≥ threshold.
    * Exact all-pairs — for corpora where |C|² is affordable; at scale feed
    * LSH/IVF candidates into the same scoring.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = withNorm(corpus.select(col("id").as("id_a"),
      col("vec").cast("array<double>").as("va")), "va", "na")
    val b = withNorm(corpus.select(col("id").as("id_b"),
      col("vec").cast("array<double>").as("vb")), "vb", "nb")
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        VectorFunctions.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Deterministic IVF index: centroids = the `nCells` lowest-id vectors;
    * each vector assigned to its max-cosine centroid (tie → lowest centroid
    * id). Returns corpus + `cell` column. At 100 TB the assignment is a
    * write-time partitioning (repartition by cell → cell-pruned reads).
    */
  def ivfAssign(corpus: DataFrame, nCells: Int): DataFrame = {
    val centroids = corpus.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cell"), col("vec").as("centroid"))
    // Argmax-cosine as a map-side `min(struct(-sim, cell, vec))` aggregate
    // (NOT a per-id window): negating the cosine turns max-sim into
    // min-struct, the trailing `cell` keeps the lowest-cell tie-break, and
    // the aggregate combines map-side so one candidate per id per partition
    // crosses the shuffle instead of all nCells — same bit-exact winner as
    // the old row_number() ranking FOR FINITE COSINES, minus the per-id
    // sort. NaN caveat: a zero-norm vector or centroid yields sim = NaN,
    // and the two formulations disagree there (desc ordering ranks NaN
    // first; min(struct) ranks NaN last) — zero-norm vectors are OUT OF
    // CONTRACT for ivfAssign (no direction → no meaningful cell), same as
    // the cosine operators above; filter them upstream.
    corpus.join(broadcast(centroids), lit(true))
      .withColumn("sim", VectorFunctions.cosine(col("vec"), col("centroid")))
      .groupBy(col("id"))
      .agg(min(struct(negate(col("sim")), col("cell"), col("vec"))).as("_m"))
      .select(col("id"), col("_m.vec").as("vec"), col("_m.cell").as("cell"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embeddings, then detect near-dups ONLY
    * within a cluster — the pair term drops from N² to Σ_c |c|², and at
    * 100 TB the cell id is a write-time partition key so each cell's pair
    * scan stays partition-local. Clustering is [[ivfAssign]]
    * (deterministic centroids = lowest-id vectors, so results are exactly
    * reproducible and SQL-expressible); returns within-cell pairs with
    * cosine ≥ threshold as (cell, id_a, id_b, cosine).
    */
  def semanticDedupPairs(corpus: DataFrame, nCells: Int,
      threshold: Double): DataFrame = {
    val cells = ivfAssign(corpus, nCells)
    val a = withNorm(cells.select(col("cell"), col("id").as("id_a"),
      col("vec").cast("array<double>").as("va")), "va", "na")
    val b = withNorm(cells.select(col("cell"), col("id").as("id_b"),
      col("vec").cast("array<double>").as("vb")), "vb", "nb")
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        VectorFunctions.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("cell"), col("id_a"), col("id_b"), col("cosine"))
  }

  /** Survivors under SemDeDup's greedy keep-one rule: a vector is dropped
    * iff it has a LOWER-id near-dup in its own cell (no transitive
    * closure — the published method keeps one exemplar per duplicate set
    * found within a cluster, and the greedy min-id rule makes that
    * deterministic). Unpaired vectors and vectors split across cells
    * survive; cross-cell near-dups are the recall cost of the blocking,
    * exactly as in the paper.
    */
  def semanticDedupSurvivors(corpus: DataFrame, nCells: Int,
      threshold: Double): DataFrame =
    corpus.join(
      semanticDedupPairs(corpus, nCells, threshold)
        .select(col("id_b").as("id")),
      Seq("id"), "left_anti")

  /** Lloyd's k-means over the corpus's `vec` column: deterministic init
    * (the k lowest-id vectors), then `iters` rounds of assign-to-nearest
    * (squared L2) + centroid recompute. Returns (id, vec, cluster).
    *
    * Each round is: broadcast k centroids → narrow assignment pass →
    * per-(cluster, dim) mean via posexplode + two-level aggregation — the
    * fully distributed formulation (no driver collect of the corpus; only
    * the k×dim centroid table returns to the driver per round, which is the
    * standard k-means control loop at any scale).
    *
    * Note: centroid means sum doubles in partition order, so cross-run
    * centroids can differ in final ulps (unlike the single assignment step
    * in `q_kmeans_assign`, which is bit-deterministic). Structural
    * properties (assignment completeness, WSS non-increase) are what specs
    * assert.
    */
  def kmeansLloyd(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, "k and iters must be positive")
    val base = corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
    var cents = base.orderBy(col("id")).limit(k)
      .select(col("id").as("cid"), col("vec").as("cvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    var assigned: DataFrame = null
    (1 to iters).foreach { _ =>
      val centDf = base.sparkSession.createDataFrame(
        cents.toSeq.map { case (cid, v) => (cid, v) }).toDF("cid", "cvec")
      val dist = (VectorFunctions.dot(col("vec"), col("vec")) +
        VectorFunctions.dot(col("cvec"), col("cvec"))) -
        lit(2.0) * VectorFunctions.dot(col("vec"), col("cvec"))
      // map-side-combining argmin (the assignToCentroids shape): struct
      // ordering is (dist ASC, cid ASC) — the same tie-break the former
      // per-id window used — and the partial aggregate ships one candidate
      // per id per partition instead of all k, with no per-id sort
      assigned = base.crossJoin(broadcast(centDf))
        .withColumn("dist", dist)
        .groupBy(col("id"))
        .agg(min(struct(col("dist"), col("cid"), col("vec"))).as("_m"))
        .select(col("id"), col("_m.vec").as("vec"),
          col("_m.cid").as("cluster"), col("_m.dist").as("dist"))
      // distributed centroid recompute: mean per (cluster, dimension)
      val dims = assigned
        .select(col("cluster"), posexplode(col("vec")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cluster"))
        .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cluster"),
          expr("transform(dm, s -> s.m)").as("cvec"))
      cents = dims.collect().map(r =>
        (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    }
    assigned.select(col("id"), col("vec"), col("cluster"))
  }

  /** Lloyd's k-means with QUANTIZED centroid recompute — the trainable,
    * oracle-replayable sibling of [[kmeansLloyd]]. Each of the `iters`
    * rounds assigns every vector to its nearest centroid (squared L2 via
    * the shared ‖a‖²+‖c‖²−2a·c double formulation, ties to the lower
    * cell id) and recomputes every touched centroid coordinate as
    * `sum(round(x·scale)) / (n·scale)`: the per-coordinate sums are exact
    * 64-bit integers, so — unlike [[kmeansLloyd]]'s floating `avg` whose
    * final ulps depend on partition order — the trained centroids are
    * BIT-DETERMINISTIC at any parallelism (the same scaled-integer trick
    * as the PageRank operator) and an external engine can replay the
    * identical recurrence. The ≤ 1/(2·scale) per-coordinate quantization
    * is noise at clustering granularity. Cells that lose every vector
    * keep their previous centroid (deterministic carry). Size `scale` so
    * `n·scale·max|x|` stays far under 2⁶³ at the target corpus.
    *
    * Per-round driver traffic is the k×dim centroid table only; the
    * corpus never leaves the executors. Returns (cell, centroid) —
    * cell = the seeding vector's id (the k lowest ids).
    */
  def kmeansQuantized(corpus: DataFrame, k: Int, iters: Int,
      scale: Long = 1L << 20): DataFrame = {
    require(k >= 1, "k must be positive")
    val base = corpus.select(col("id"),
      col("vec").cast("array<double>").as("vec"))
    val seeds: Seq[(Long, Seq[Double])] = base.orderBy(col("id")).limit(k)
      .select(col("id"), col("vec"))
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
    kmeansQuantizedFrom(corpus, seeds, iters, scale)
  }

  /** Deterministic k-means++-STYLE seeding: farthest-point (k-center
    * greedy — the deterministic member of the D² family; Arthur &
    * Vassilvitskii's sampled pick is replaced by the argmax so an
    * external engine replays it bit-for-bit). Seeds are chosen on the
    * [[Sampling.hashSample]] of the corpus (stable across retries,
    * partitionings, and engines; permille 1000 = no sampling): anchor =
    * the sample's lowest id, then k−1 rounds of "the sample point whose
    * squared L2 distance to its NEAREST chosen seed is largest, ties to
    * the lower id". Spread seeds escape the adversarial id orders that
    * strand lowest-id seeding — coincident or single-cluster heads —
    * and cut iterations-to-balance (SimilaritySpec measures it).
    *
    * Each round is one aggregate over the SAMPLE (argmax carried by a
    * map-side-combining max(struct)); exactly one (id, vec) row reaches
    * the driver per round.
    */
  def kmeansSeedsFarthest(corpus: DataFrame, k: Int,
      samplePermille: Int = 1000): Seq[(Long, Seq[Double])] = {
    require(k >= 1, "k must be positive")
    require(samplePermille >= 1 && samplePermille <= 1000,
      s"samplePermille must be in [1, 1000], got $samplePermille")
    val base = corpus.select(col("id"),
      col("vec").cast("array<double>").as("vec"))
    val smp = graft.GraftSession.persistForReuse(
      if (samplePermille >= 1000) base
      else Sampling.hashSample(base, col("id"), lit(samplePermille)))
    withAqeOff(corpus) {
    val first = smp.orderBy(col("id")).limit(1)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(first.nonEmpty, "seed sample is empty — raise samplePermille")
    var seeds: Seq[(Long, Seq[Double])] = first.toSeq
    // Running min-distance-to-chosen-seeds carried INCREMENTALLY as a
    // persisted column (the kmeansSeedsKpp discipline): each round adds ONE
    // sqDist against the newest seed and one least() against the carried
    // minimum — O(k) total distance work and constant-size codegen per
    // round, instead of rebuilding the whole k-term least chain (O(k²)
    // distance evaluations, linearly growing generated code). The chain was
    // a left-nested least fold; this IS that fold computed one layer at a
    // time, so every per-point min distance — and therefore every argmax
    // pick — is bit-identical. The pick job doubles as the materialize job
    // for the round's updated column; the previous round's frame is
    // released only after that materialization (`prevF`).
    var cur = graft.GraftSession.persistForReuse(
      smp.select(col("id"), col("vec"),
        sqDist(col("vec"), typedLit(first.head._2)).as("_md")))
    var prevF: Option[DataFrame] = None
    while (seeds.size < k) {
      val next = cur
        .agg(max(struct(col("_md"), (-col("id")).as("_nid"),
          col("id"), col("vec"))).as("_m"))
        .select(col("_m.id").as("id"), col("_m.vec").as("vec"),
          col("_m._md").as("_md"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      prevF.foreach(_.unpersist())
      prevF = None
      // farthest remaining distance 0 ⇒ every sample point coincides with a
      // chosen seed: the argmax would re-pick the lowest id and silently pad
      // the result with duplicate seeds (fewer effective clusters). Refuse
      // loudly, mirroring the empty-sample refusal above.
      require(next.head._3 > 0.0,
        s"seed sample has fewer than k=$k distinct vectors " +
          s"(${seeds.size} found) — lower k or raise samplePermille")
      seeds = seeds :+ ((next.head._1, next.head._2))
      if (seeds.size < k) {
        val upd = graft.GraftSession.persistForReuse(
          cur.select(col("id"), col("vec"),
            least(col("_md"),
              sqDist(col("vec"), typedLit(next.head._2))).as("_md")))
        prevF = Some(cur)
        cur = upd
      }
    }
    cur.unpersist()
    prevF.foreach(_.unpersist())
    smp.unpersist()
    seeds
    }
  }

  /** Driver-side twin of the md5-prefix 60-bit hash (Shingles.hash60 /
    * DuckDB `CAST(('0x' || substring(md5(s),1,15)) AS BIGINT)`) — the
    * deterministic "PRNG" the k-means++ race draws its per-round
    * thresholds from.
    */
  private def hash60Local(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8)
        .map("%02x".format(_)).mkString.take(15), 16)

  /** Deterministic k-means++ PROPER (Arthur & Vassilvitskii 2007):
    * D²-WEIGHTED seeding — each round samples the next seed with
    * probability ∝ its squared distance to the nearest chosen seed,
    * which preserves density where [[kmeansSeedsFarthest]]'s argmax
    * over-weights outliers. The random draw is replaced by exact
    * integer inverse-CDF sampling so an external engine replays it
    * bit-for-bit:
    *
    *   - weights w = round(D²·scale) as LONG — the scaled-integer trick;
    *     integer prefix sums over id order are exact and
    *     order-independent;
    *   - the round's threshold T = hash60("kpp:&lt;round&gt;") mod Σw — a
    *     fixed md5 draw both engines compute identically;
    *   - the pick is the first id (ascending) whose cumulative weight
    *     exceeds T: literal inverse-CDF sampling of the D²
    *     distribution (at 2^-20 quantization).
    *
    * A point coinciding with a chosen seed has w = 0 and can never be
    * picked (its cumulative sum never strictly crosses T), so duplicate
    * seeds are impossible by construction; an all-zero round means the
    * sample has fewer distinct vectors than k — refused loudly. Anchor =
    * the sample's lowest id (the uniform first draw, made deterministic
    * the same way [[kmeansSeedsFarthest]] does).
    *
    * Scale shape: seeding runs on the [[Sampling.hashSample]] of the
    * corpus; each round is one aggregate + one prefix-sum pass over the
    * SAMPLE with exactly one (id, vec) row reaching the driver. The
    * prefix sum is an unpartitioned window — bounded by the sample
    * contract, never corpus-sized. The min-distance-to-chosen-seeds
    * column is carried incrementally (one new sqDist + one least per
    * round, persisted) — O(k) total distance work and constant-size
    * codegen per round, bit-identical to the k-term least chain it
    * replaces (same left-nested fold).
    */
  def kmeansSeedsKpp(corpus: DataFrame, k: Int,
      samplePermille: Int = 1000,
      scale: Long = 1L << 20): Seq[(Long, Seq[Double])] = {
    require(k >= 1, "k must be positive")
    require(samplePermille >= 1 && samplePermille <= 1000,
      s"samplePermille must be in [1, 1000], got $samplePermille")
    require(scale >= 1L, "scale must be positive")
    val base = corpus.select(col("id"),
      col("vec").cast("array<double>").as("vec"))
    val smp = graft.GraftSession.persistForReuse(
      if (samplePermille >= 1000) base
      else Sampling.hashSample(base, col("id"), lit(samplePermille)))
    withAqeOff(corpus) {
    val first = smp.orderBy(col("id")).limit(1)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(first.nonEmpty, "seed sample is empty — raise samplePermille")
    var seeds: Seq[(Long, Seq[Double])] = first.toSeq
    // Running min-distance carried INCREMENTALLY as a persisted column:
    // each round adds ONE sqDist against the newest seed and one least()
    // against the carried minimum — O(k) total distance work — instead of
    // rebuilding the whole k-term least chain per round (O(k²) distance
    // evaluations, and a codegen expression that grows every round). The
    // chain was a left-nested least fold, and this IS that fold computed
    // one layer at a time, so every weight — and therefore every pick —
    // is bit-identical. Persisting each round's column keeps the executed
    // lineage one layer deep (the materialize job is sample-bounded).
    var cur = graft.GraftSession.persistForReuse(
      smp.select(col("id"), col("vec"),
        sqDist(col("vec"), typedLit(first.head._2)).as("_minD")))
    // the PREVIOUS round's frame: kept persisted until the pick job below
    // has materialized `cur` (computing it reads one least() layer over
    // `prev`), then released — so each round runs exactly ONE action (the
    // pick), with no separate count()-materialize job per round
    var prev: Option[DataFrame] = None
    while (seeds.size < k) {
      val weighted = cur.select(col("id"), col("vec"),
        round(col("_minD") * lit(scale.toDouble)).cast("long").as("_w"))
      // ONE pass per round: cumulative and total weights ride the same
      // window ordering, and the threshold h mod total is an exact
      // integer expression — no separate total-aggregate job. Bit-identical
      // to computing the total first: same Σw, same mod, same first
      // crossing.
      val h = hash60Local(s"kpp:${seeds.size}")
      val win = Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val winAll = Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val next = weighted
        .withColumn("_cum", sum(col("_w")).over(win))
        .withColumn("_tot", sum(col("_w")).over(winAll))
        .filter(col("_tot") > 0L && col("_cum") > lit(h) % col("_tot"))
        .orderBy(col("id")).limit(1)
        .select(col("id"), col("vec"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      // the pick job above materialized `cur`'s cache — its parent frame
      // is no longer read by anything
      prev.foreach(_.unpersist())
      prev = None
      // an empty pick means every weight was 0: the sample coincides with
      // the chosen seeds — fewer distinct vectors than k
      require(next.nonEmpty,
        s"seed sample has fewer than k=$k distinct vectors " +
          s"(${seeds.size} found) — lower k or raise samplePermille")
      seeds = seeds :+ next.head
      if (seeds.size < k) {
        val upd = graft.GraftSession.persistForReuse(
          cur.select(col("id"), col("vec"),
            least(col("_minD"),
              sqDist(col("vec"), typedLit(next.head._2))).as("_minD")))
        prev = Some(cur) // released after the next pick materializes upd
        cur = upd
      }
    }
    cur.unpersist()
    prev.foreach(_.unpersist())
    smp.unpersist()
    seeds
    }
  }

  /** [[kmeansQuantized]] from EXPLICIT seeds — the seam that lets the
    * seeding policy (lowest-id, [[kmeansSeedsFarthest]], or externally
    * supplied centroids) compose with the bit-deterministic quantized
    * training loop.
    */
  def kmeansQuantizedFrom(corpus: DataFrame,
      seeds: Seq[(Long, Seq[Double])], iters: Int,
      scale: Long = 1L << 20): DataFrame = {
    require(seeds.nonEmpty, "seeds must be non-empty")
    require(iters >= 1, "iters must be positive")
    require(scale >= 1L, "scale must be positive")
    val spark = corpus.sparkSession
    val base = corpus.select(col("id"),
      col("vec").cast("array<double>").as("vec"))
    var cents: Seq[(Long, Seq[Double])] = seeds
    (1 to iters).foreach { _ =>
      // same map-side-combining argmin shape as [[assignToCentroids]]
      val centDf = spark.createDataFrame(cents).toDF("cell", "cvec")
      val assigned = base.crossJoin(broadcast(centDf))
        .withColumn("dist", sqDist(col("vec"), col("cvec")))
        .groupBy(col("id"))
        .agg(min(struct(col("dist"), col("cell"), col("vec"))).as("_m"))
        .select(col("id"), col("_m.vec").as("vec"), col("_m.cell").as("cell"))
      val touched = assigned
        .select(col("cell"), posexplode(col("vec")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg((sum(round(col("x") * lit(scale.toDouble)).cast("long"))
            .cast("double") / (count(lit(1)) * lit(scale.toDouble))).as("m"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell"), expr("transform(dm, s -> s.m)").as("cvec"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      cents = cents.map { case (cell, old) =>
        (cell, touched.getOrElse(cell, old))
      }
    }
    spark.createDataFrame(cents).toDF("cell", "centroid")
  }

  /** [[ivfAssign]] with TRAINED centroids: cells come from
    * [[kmeansQuantized]] instead of the `nCells` lowest-id vectors, so
    * cell populations track the data's density — the lowest-id seeding
    * is deterministic but inherits whatever skew the id order carries,
    * and one hot cell is exactly what kills IVF probe cost at scale
    * (every probe that hits it scans the skewed bulk). Assignment uses
    * the TRAINING metric (squared L2, ties to the lower cell) so the
    * index is consistent with its own objective. Returns
    * (id, vec, cell). At 100 TB the cell is a write-time partition key,
    * exactly like [[ivfAssign]]'s.
    */
  def ivfAssignTrained(corpus: DataFrame, nCells: Int, iters: Int,
      scale: Long = 1L << 20): DataFrame =
    assignToCentroids(corpus, kmeansQuantized(corpus, nCells, iters, scale))
      .select(col("id"), col("vec"), col("cell"))

  /** Assign every corpus vector to its nearest (squared L2) centroid of
    * `centroids` (cell, centroid) — ties to the lower cell id. Returns
    * (id, vec, cell, dist) with dist = the winning squared distance.
    *
    * The argmin is a `min(struct(dist, cell, vec))` AGGREGATE, not a
    * per-id window: struct ordering compares (dist, cell) first — the
    * exact (dist ASC, cell ASC) tie-break, and (dist, cell) is unique
    * per id so the trailing vec never participates — and the aggregate
    * combines MAP-SIDE, so the shuffle carries one candidate per id per
    * partition instead of all k, with no per-id sort.
    */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val base = corpus.select(col("id"),
      col("vec").cast("array<double>").as("vec"))
    base.crossJoin(broadcast(
        centroids.select(col("cell"), col("centroid").as("cvec"))))
      .withColumn("dist", sqDist(col("vec"), col("cvec")))
      .groupBy(col("id"))
      .agg(min(struct(col("dist"), col("cell"), col("vec"))).as("_m"))
      .select(col("id"), col("_m.vec").as("vec"),
        col("_m.cell").as("cell"), col("_m.dist").as("dist"))
  }

  /** [[ivfTopK]] over a TRAINED index: probe the `nprobe` cells whose
    * trained centroids are L2-closest to the query (the training metric),
    * rank candidates inside by exact cosine (the interface's similarity).
    * Same scale shape as [[ivfTopK]]: the k×dim centroid table
    * broadcasts, candidates come only from the probed cells.
    */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, nCells: Int,
      iters: Int, nprobe: Int, k: Int,
      scale: Long = 1L << 20): DataFrame =
    ivfTopKWith(queries, corpus,
      kmeansQuantized(corpus, nCells, iters, scale), nprobe, k)

  /** [[ivfTopKTrained]] against ALREADY-TRAINED centroids — lets one
    * training pass serve both the index build and the probe gate.
    */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, nprobe: Int, k: Int): DataFrame =
    ivfProbe(queries, assignToCentroids(corpus, centroids), centroids,
      nprobe, k)

  /** Probe an ALREADY-ASSIGNED index (`assigned` = (id, vec, cell), e.g.
    * a persisted [[assignToCentroids]] result or an index hub): callers
    * that already hold the assignment avoid recomputing the corpus ×
    * centroids argmin — the most expensive stage of an IVF build.
    */
  def ivfProbe(queries: DataFrame, assigned: DataFrame,
      centroids: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    val qdist = sqDist(col("qvec"), col("centroid"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("cell"))
    val probed = q.join(broadcast(centroids), lit(true))
      .withColumn("cdist", qdist)
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cell"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probed.join(assigned.select(col("id").as("neighbor_id"),
        col("vec").as("cvec"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Random-hyperplane LSH bucketing (the sign-bit / SimHash-for-vectors
    * family): bucket(v) = the `nPlanes` sign bits of v·hᵢ packed into a long.
    * Hyperplanes are deterministic here (the lowest-id corpus vectors, like
    * the IVF centroids) so results are reproducible. Candidates = same
    * bucket; exact cosine rank inside. At scale the bucket column is a
    * write-time partition key, giving bucket-pruned reads like the IVF cells.
    */
  def lshBucket(df: DataFrame, vecCol: String, planes: Seq[Seq[Double]]): DataFrame = {
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      val arr = array(p.map(lit): _*)
      when(VectorFunctions.dot(col(vecCol), arr) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("bucket", bucket)
  }

  def lshPlanes(corpus: DataFrame, nPlanes: Int): Seq[Seq[Double]] =
    corpus.orderBy(col("id")).limit(nPlanes).select(col("vec").cast("array<double>"))
      .collect().toSeq.map(_.getSeq[Double](0))

  /** LSH-bucketed ANN top-k: candidates share the query's bucket; falls back
    * to fewer than k results when the bucket is small (recall/latency
    * trade-off measured in SimilaritySpec).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, nPlanes: Int, k: Int): DataFrame = {
    val planes = lshPlanes(corpus, nPlanes)
    val q = lshBucket(withNorm(queries.select(col("id").as("query_id"),
      col("vec").cast("array<double>").as("qvec")), "qvec", "qnorm"), "qvec", planes)
    val c = lshBucket(withNorm(corpus.select(col("id").as("neighbor_id"),
      col("vec").cast("array<double>").as("cvec")), "cvec", "cnorm"), "cvec", planes)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        VectorFunctions.dot(col("qvec"), col("cvec")) /
          (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Multi-probe LSH top-k: probe the query's own bucket plus every bucket
    * at Hamming distance 1 (one flipped hyperplane sign) — the standard
    * recall repair for sign-bit LSH: near neighbors that straddle ONE
    * hyperplane are recovered, at probe cost ×(nPlanes+1) on the (small)
    * query side only. Corpus-side work stays ∝ matched buckets.
    */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, nPlanes: Int,
      k: Int): DataFrame = {
    val planes = lshPlanes(corpus, nPlanes)
    val q0 = lshBucket(withNorm(queries.select(col("id").as("query_id"),
      col("vec").cast("array<double>").as("qvec")), "qvec", "qnorm"), "qvec", planes)
    val probes = array(lit(0L) +: (0 until nPlanes).map(i => lit(1L << i)): _*)
    val q = q0.withColumn("_flip", explode(probes))
      .withColumn("bucket", col("_flip").bitwiseXOR(col("bucket")))
      .drop("_flip")
    val c = lshBucket(withNorm(corpus.select(col("id").as("neighbor_id"),
      col("vec").cast("array<double>").as("cvec")), "cvec", "cnorm"), "cvec", planes)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qvec"), col("cvec"),
        col("qnorm"), col("cnorm"))
      .distinct() // a neighbor can match several probe buckets
      .withColumn("cosine",
        VectorFunctions.dot(col("qvec"), col("cvec")) /
          (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Blocked near-dup pairs — the scale path for [[cosineNearDupPairs]]:
    * candidates share an LSH bucket (optionally under any of the Hamming-1
    * probe buckets of either side via `probeFlips`), then exact cosine
    * verify. Work ∝ Σ bucket², not |C|²; recall < 1 by construction
    * (pairs straddling > probeFlips hyperplanes are missed) — measured
    * against the exact operator in SimilaritySpec.
    */
  def cosineNearDupPairsBlocked(corpus: DataFrame, threshold: Double,
      nPlanes: Int, probeFlips: Int = 1): DataFrame = {
    require(probeFlips >= 0 && probeFlips <= 1, "0 or 1 flips supported")
    val planes = lshPlanes(corpus, nPlanes)
    val base = lshBucket(withNorm(corpus.select(col("id"),
      col("vec").cast("array<double>").as("v")), "v", "n"), "v", planes)
    val probes =
      if (probeFlips == 0) array(lit(0L))
      else array(lit(0L) +: (0 until nPlanes).map(i => lit(1L << i)): _*)
    // probe side explodes its bucket neighborhood; index side keeps one
    // bucket per vector, so a pair straddling one plane still collides
    val l = base.withColumn("_flip", explode(probes))
      .withColumn("bucket", col("_flip").bitwiseXOR(col("bucket")))
      .select(col("bucket"), col("id").as("id_a"), col("v").as("va"), col("n").as("na"))
    val r = base.select(col("bucket"), col("id").as("id_b"),
      col("v").as("vb"), col("n").as("nb"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("va"), col("vb"), col("na"), col("nb"))
      .distinct()
      .withColumn("cosine",
        VectorFunctions.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** IVF probe: per query, rank cells by centroid cosine, search the top
    * `nprobe` cells exactly, return top-k. Recall < 1 by construction; the
    * companion spec measures it against bruteForceTopK.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, nCells: Int,
      nprobe: Int, k: Int): DataFrame = {
    val assigned = ivfAssign(corpus, nCells)
    val centroids = corpus.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cell"), col("vec").as("centroid"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probed = q.join(broadcast(centroids), lit(true))
      .withColumn("csim", VectorFunctions.cosine(col("qvec"), col("centroid")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cell"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probed.join(assigned.select(col("id").as("neighbor_id"),
        col("vec").as("cvec"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Product quantization encode (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): split each `dim`-dimensional
    * vector into `m` contiguous sub-blocks and assign every sub-block to its
    * nearest sub-centroid by squared L2 — the codebook compression step of
    * a PQ/IVF-ADC index (m bytes per vector at k ≤ 256 vs 4·dim raw: a
    * 100 TB embedding store becomes ~1.5 TB of codes that fit executor
    * memory for asymmetric-distance scans).
    *
    * Deterministic contract (oracle-checkable like the k-means assignment):
    * sub-centroids = sub-blocks of the k lowest-id vectors; distance =
    * ‖a‖²+‖c‖²−2a·c with left-to-right double dots; ties break on the
    * lower centroid id.
    *
    * Scale shape: the codebook (m·k rows) broadcasts; each vector fans out
    * to m block rows joined against it (narrow, equi-join on the block id);
    * the only shuffle is the m-row-per-vector regroup at the end.
    */
  def pqEncode(corpus: DataFrame, dim: Int, m: Int, k: Int): DataFrame = {
    val codes = pqAssign(corpus, dim, m, k)
    val aggs = (0 until m).map(j =>
      max(when(col("block") === j, col("cid"))).as(s"code$j"))
    codes.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** dim/m/k validation + the contiguous sub-block splitter. */
  private def pqBlocks(dim: Int, m: Int, k: Int): Column => Column = {
    require(m >= 1 && dim >= m && dim % m == 0,
      s"dim must be a positive multiple of m (got dim=$dim, m=$m)")
    require(k >= 1, s"k must be >= 1, got $k")
    val d = dim / m
    v => array((0 until m).map(j => slice(v, j * d + 1, d)): _*)
  }

  /** Squared L2 in the shared exact-double formulation. */
  private def sqDist(a: Column, b: Column): Column =
    (VectorFunctions.dot(a, a) + VectorFunctions.dot(b, b)) -
      lit(2.0) * VectorFunctions.dot(a, b)

  /** PQ codebook: one row (block, cid, csub) per sub-centroid — m·k rows. */
  private def pqCodebook(corpus: DataFrame, dim: Int, m: Int,
      k: Int): DataFrame =
    corpus.orderBy(col("id")).limit(k)
      .select(col("id").as("cid"), posexplode(pqBlocks(dim, m, k)(col("vec"))))
      .select(col("pos").as("block"), col("cid"), col("col").as("csub"))

  /** Long-form PQ assignment: (id, block, cid) — one row per sub-block.
    *
    * The per-(id, block) argmin is a map-side-combining
    * `min(struct(dist, cid))` aggregate, not a window: struct ordering
    * compares (dist ASC, cid ASC) — the exact tie-break — and the partial
    * aggregate collapses the k candidates per sub-block before the
    * shuffle, so one candidate per (id, block) per partition crosses the
    * wire and nothing is sorted (the [[assignToCentroids]] shape).
    */
  private def pqAssign(corpus: DataFrame, dim: Int, m: Int,
      k: Int): DataFrame =
    pqAssignWith(corpus, dim, m, pqCodebook(corpus, dim, m, k))

  /** PQ-encode against an EXTERNALLY-SUPPLIED codebook (block, cid,
    * csub) — the steady-state seam: a persisted codebook hub encodes
    * new batches at O(batch) cost with no retraining, exactly like
    * [[assignToCentroids]] against a persisted centroid hub. Returns
    * (id, code0..code{m-1}).
    */
  def pqEncodeWith(vectors: DataFrame, dim: Int, m: Int,
      codebook: DataFrame): DataFrame = {
    val asg = pqAssignWith(vectors, dim, m,
      codebook.select(col("block"), col("cid"), col("csub")))
    val aggs = (0 until m).map(j =>
      max(when(col("block") === j, col("cid"))).as(s"code$j"))
    asg.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** [[pqAssign]] against an externally-supplied codebook
    * (block, cid, csub) — the seam the trained-residual encoder shares.
    */
  private def pqAssignWith(corpus: DataFrame, dim: Int, m: Int,
      cents: DataFrame): DataFrame = {
    corpus
      .select(col("id"), posexplode(pqBlocks(dim, m, 1)(col("vec"))))
      .select(col("id"), col("pos").as("block"), col("col").as("sub"))
      .join(broadcast(cents), Seq("block"))
      .withColumn("dist", sqDist(col("sub"), col("csub")))
      .groupBy(col("id"), col("block"))
      .agg(min(struct(col("dist"), col("cid"))).as("_m"))
      .select(col("id"), col("block"), col("_m.cid").as("cid"))
  }

  /** TRAINED per-block PQ codebook: quantized Lloyd's k-means run
    * independently inside every sub-block, all m blocks trained in ONE
    * distributed pass per round (the rows carry their block id, so the
    * per-(block, cid) recompute is a single grouped aggregate — no
    * per-block jobs). Seeds per block = the k lowest-id vectors'
    * sub-blocks, i.e. exactly the untrained [[pqCodebook]]; `iters = 0`
    * therefore degrades to the untrained codebook bit-for-bit. Centroid
    * recompute is the [[kmeansQuantized]] scaled-integer mean, so the
    * trained sub-centroids are BIT-DETERMINISTIC at any parallelism and
    * an external engine replays the recurrence exactly. Sub-codebooks
    * that lose every vector in a round keep their previous sub-centroid
    * (deterministic carry).
    *
    * Scale shape: the m·k codebook broadcasts each round; the corpus
    * fans out to m block rows, partial-aggregates the per-(id, block)
    * argmin map-side, and only m·k·(dim/m) = m·k-row means reach the
    * driver per round. Input `vectors` = (id, vec) — pass RESIDUALS
    * (x − coarse centroid) for Jégou-style IVFADC training.
    */
  def pqCodebookTrained(vectors: DataFrame, dim: Int, m: Int, k: Int,
      iters: Int, scale: Long = 1L << 20): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(scale >= 1L, "scale must be positive")
    val spark = vectors.sparkSession
    val blocksOf = pqBlocks(dim, m, k)
    val d = dim / m
    var cents: Seq[(Int, Long, Seq[Double])] =
      vectors.orderBy(col("id")).limit(k)
        .select(col("id"), col("vec").cast("array<double>"))
        .collect().toSeq.flatMap { r =>
          val id = r.getLong(0)
          val v = r.getSeq[Double](1)
          (0 until m).map(j => (j, id, v.slice(j * d, j * d + d)))
        }
    lazy val longForm = {
      val lf = vectors
        .select(col("id"),
          posexplode(blocksOf(col("vec").cast("array<double>"))))
        .select(col("id"), col("pos").as("block"), col("col").as("sub"))
      if (iters > 1) graft.GraftSession.persistForReuse(lf) else lf
    }
    (1 to iters).foreach { _ =>
      val centDf = spark.createDataFrame(cents).toDF("block", "cid", "csub")
      val touched = longForm.join(broadcast(centDf), Seq("block"))
        .withColumn("dist", sqDist(col("sub"), col("csub")))
        .groupBy(col("id"), col("block"))
        .agg(min(struct(col("dist"), col("cid"), col("sub"))).as("_m"))
        .select(col("block"), col("_m.cid").as("cid"), col("_m.sub").as("sub"))
        .select(col("block"), col("cid"), posexplode(col("sub")).as(Seq("_i", "_x")))
        .groupBy(col("block"), col("cid"), col("_i"))
        .agg((sum(round(col("_x") * lit(scale.toDouble)).cast("long"))
            .cast("double") / (count(lit(1)) * lit(scale.toDouble))).as("_mm"))
        .groupBy(col("block"), col("cid"))
        .agg(sort_array(collect_list(struct(col("_i"), col("_mm")))).as("dm"))
        .select(col("block"), col("cid"),
          expr("transform(dm, s -> s._mm)").as("csub"))
        .collect().map(r =>
          (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
      cents = cents.map { case (b, cid, old) =>
        (b, cid, touched.getOrElse((b, cid), old))
      }
    }
    // the last training round was the cache's final consumer — release it
    // (callers encode against the RETURNED codebook, not longForm)
    if (iters > 1) longForm.unpersist()
    spark.createDataFrame(cents).toDF("block", "cid", "csub")
  }

  /** Coarse assignment + residuals: (id, cell, rvec) with
    * rvec = vec − centroid[cell] element-wise — the quantity IVFADC
    * encodes (Jégou §III-A: PQ on residuals concentrates the codes on
    * the within-cell displacement, which is where the recall at a given
    * code size comes from). Exact double subtraction, replayable.
    */
  def residualsFor(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignToCentroids(corpus, centroids)
      .join(broadcast(centroids.select(col("cell"),
        col("centroid").cast("array<double>").as("_cc"))), Seq("cell"))
      .withColumn("rvec", zip_with(col("vec"), col("_cc"), (a, b) => a - b))
      .select(col("id"), col("cell"), col("rvec"))

  /** Full residual IVFADC (Jégou et al., TPAMI 2011 §III — the trained
    * composition the paper actually benchmarks): a trained coarse
    * quantizer prunes each query to `nprobe` cells; every corpus vector
    * is PQ-encoded from its RESIDUAL against its own cell's centroid
    * using per-block sub-codebooks TRAINED on those residuals
    * ([[pqCodebookTrained]]); at query time the lookup table is built
    * per (query, probed cell) from the QUERY residual against that cell
    * — ADC then ranks candidates from their m-byte codes alone.
    *
    * Deterministic end-to-end (quantized coarse + sub-codebook training,
    * exact double residuals, fixed-order ADC sums, id tie-breaks), so
    * the entire train → residual → train-PQ → encode → probe → LUT →
    * rank pipeline is oracle-replayable. Scale shape: centroids and the
    * m·k codebook broadcast; candidates come only from probed cells;
    * LUT size is |Q|·nprobe·m·k rows (broadcast); the corpus is touched
    * once at build time and never at query time.
    */
  def ivfAdcResidualTopK(queries: DataFrame, corpus: DataFrame,
      nCells: Int, coarseIters: Int, nprobe: Int, dim: Int, m: Int,
      kSub: Int, pqIters: Int, k: Int,
      scale: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cents = kmeansQuantized(corpus, nCells, coarseIters, scale)
    val res = graft.GraftSession.persistForReuse(
      residualsFor(corpus, cents))
    val rvecs = res.select(col("id"), col("rvec").as("vec"))
    val cb = pqCodebookTrained(rvecs, dim, m, kSub, pqIters, scale)
    // Materialize the SMALL artifact (id, cell, m codes — the ~m bytes/row
    // the ADC story keeps resident) and release the big residual cache
    // before the query phase: res (dim doubles/row) served training and
    // this one encode pass, and nothing downstream touches raw residuals.
    val codes = graft.GraftSession.persistForReuse(
      res.select(col("id"), col("cell"))
        .join(pqEncodeWith(rvecs, dim, m, cb), Seq("id")))
    codes.count()
    res.unpersist()
    val q = queries.select(col("id").as("query_id"),
      col("vec").cast("array<double>").as("qvec"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("cell"))
    val probed = q.join(broadcast(cents), lit(true))
      .withColumn("cdist", sqDist(col("qvec"), col("centroid")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cell"))
    // per-(query, probed cell) LUT over the QUERY residual for that cell
    val lut = probed
      .join(broadcast(cents.select(col("cell"),
        col("centroid").cast("array<double>").as("_cc"))), Seq("cell"))
      .withColumn("qres", zip_with(col("qvec"), col("_cc"), (a, b) => a - b))
      .crossJoin(broadcast(cb))
      .select(col("query_id"), col("cell"), col("block"), col("cid"),
        sqDist(slice(col("qres"), col("block") * lit(dim / m) + lit(1),
          lit(dim / m)), col("csub")).as("d"))
    val cand = probed.select(col("query_id"), col("cell"))
      .join(codes, Seq("cell"))
    adcRankTopK(cand, lut, Seq("query_id", "cell"), m, k)
  }

  /** IVF-ADC top-k (Jégou et al., TPAMI 2011 §III — the billion-scale
    * composition): a TRAINED coarse quantizer ([[kmeansQuantized]])
    * prunes the corpus to the query's `nprobe` nearest cells, and PQ
    * asymmetric distances rank ONLY the surviving candidates from their
    * m-byte codes — neither the full corpus nor any raw candidate vector
    * is touched at query time. At 100 TB: cells are write-time
    * partitions (probe = partition-pruned scan), codes are ~1.5 TB of
    * in-memory residue, and the per-query cost is
    * O(nprobe/nCells × codes) table lookups. Deterministic end-to-end
    * (quantized training + fixed-order ADC sums + id tie-breaks), so the
    * whole pipeline is oracle-replayable.
    */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, nCells: Int,
      iters: Int, nprobe: Int, dim: Int, m: Int, kCentroids: Int, k: Int,
      scale: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cents = kmeansQuantized(corpus, nCells, iters, scale)
    val assigned = assignToCentroids(corpus, cents)
      .select(col("id"), col("cell"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    val qdist = sqDist(col("qvec"), col("centroid"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("cell"))
    val probed = q.join(broadcast(cents), lit(true))
      .withColumn("cdist", qdist)
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("cell"))
    val cand = probed.join(assigned, Seq("cell"))
      .select(col("query_id"), col("id"))
      .join(pqEncode(corpus, dim, m, kCentroids), Seq("id"))
    val cb = pqCodebook(corpus, dim, m, kCentroids)
    val lut = q.join(broadcast(cb), lit(true))
      .select(col("query_id"), col("block"), col("cid"),
        sqDist(slice(col("qvec"), col("block") * lit(dim / m) + lit(1),
          lit(dim / m)), col("csub")).as("d"))
    adcRankTopK(cand, lut, Seq("query_id"), m, k)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes — the query side of the
    * PQ index: each query builds an m×k lookup table of exact sub-distances
    * to the codebook, and every corpus vector's approximate distance is the
    * SUM of m table lookups selected by its codes — the corpus is never
    * touched beyond its m-byte codes (this is what makes a 100 TB embedding
    * store scannable from memory).
    *
    * Ranking via [[adcRankTopK]]: one broadcast join, fixed-order sums,
    * id tie-breaks — fully oracle-checkable.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, dim: Int, m: Int,
      kCentroids: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val codes = pqEncode(corpus, dim, m, kCentroids)
    val cents = pqCodebook(corpus, dim, m, kCentroids)
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    // per-query LUT: m·kCentroids exact sub-distances
    val lut = q.join(broadcast(cents), lit(true))
      .select(col("query_id"), col("block"), col("cid"),
        sqDist(slice(col("qvec"), col("block") * lit(dim / m) + lit(1),
          lit(dim / m)), col("csub")).as("d"))
    adcRankTopK(codes.crossJoin(broadcast(q.select(col("query_id")))), lut,
      Seq("query_id"), m, k)
  }

  /** One-join ADC ranking, shared by [[pqTopK]] / [[ivfAdcTopK]] /
    * [[ivfAdcResidualTopK]]: pivot the long-form LUT (keys…, block, cid, d)
    * into ONE row per key group — an m-slot array (dense in block) of
    * cid→distance maps — broadcast THAT, and rank the candidates
    * (keys…, id, code0..code{m-1}) with a single hash join plus m
    * codegen'd lookups.
    *
    * Determinism: each lookup returns the exact double the old per-block
    * join chain delivered, and the m lookups are summed in fixed block
    * order (((d₀+d₁)+d₂)+…) — never an aggregate over unordered rows,
    * whose accumulation order could flip ties — so results are
    * bit-identical to the m-chained-joins formulation. The pivot itself is
    * deterministic: sort_array orders the collected entries by their
    * (block, cid) struct prefix, unique per group. Ties break on neighbor
    * id.
    *
    * Scale shape: the candidate stream (the big side — nprobe/nCells ×
    * corpus) crosses ONE broadcast hash join instead of m, and the m
    * per-row lookups are array/map probes inside one codegen'd projection
    * (the HOFs below run only on the broadcast-sized LUT rows, never per
    * candidate). Plan depth is constant in m.
    */
  private def adcRankTopK(cand: DataFrame, lut: DataFrame,
      keys: Seq[String], m: Int, k: Int): DataFrame = {
    val lutRows = lut
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(
        struct(col("block"), col("cid"), col("d")))).as("_e"))
      .withColumn("_lut", expr(
        s"transform(sequence(0, ${m - 1}), b -> map_from_entries(" +
          "transform(filter(_e, s -> s.block = b), s -> struct(s.cid, s.d))))"))
      .drop("_e")
    val adc = (0 until m)
      .map(j => element_at(element_at(col("_lut"), lit(j + 1)),
        col(s"code$j")))
      .reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    cand.join(broadcast(lutRows), keys)
      .withColumn("adc_dist", adc)
      .withColumnRenamed("id", "neighbor_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"),
        col("rank"))
  }
}
