package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CmsSketch
import graft.operators.Dedup

/** Round-3 sketch + corpus-statistics batch: bloom-accelerated
  * decontamination (exact results), Count-Min frequency sketches
  * (contract-checked like the HLL/KMV distincts), global n-gram counts,
  * and int8 embedding quantization — each a first-class 100 TB pipeline
  * operation with a DuckDB oracle.
  */
object SketchQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Bloom-filter decontamination: same OUTPUT contract as q_decontaminate
    * (exact removal of holdout-leaked documents) but the scale plan — bloom
    * scan-filter + tiny verify join — instead of a full-corpus shuffle join.
    * The oracle is the plain NOT IN formulation: hash-equality proves the
    * bloom fast path is semantics-preserving.
    */
  val qBloomDecontaminate: Q = (spark, dir) => {
    val docs = Tables(spark, dir, "documents")
    val test = docs.filter(col("doc_id") % 7 === 0)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    Dedup.bloomDecontaminate(train, test, "text", expectedTestItems = 100000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("source"))
  }

  private val bloomDecontaminateOracle: String = {
    val norm = PipelineQueries.NORM
    s"""WITH f AS (SELECT doc_id, source, n_chars, md5($norm) AS fp FROM documents),
       |test AS (SELECT DISTINCT fp FROM f WHERE doc_id % 7 = 0)
       |SELECT source, count(*) AS n_train_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM f WHERE doc_id % 7 <> 0 AND fp NOT IN (SELECT fp FROM test)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** CMS depth/width for the frequency query: slack = e·N/width per probe,
    * failure prob (1/e)^depth per (group, probe) — deterministic for fixed
    * data, so a local pass reproduces exactly in the gate.
    */
  val CmsDepth = 5
  val CmsWidth = 2048
  private val CmsProbeKeys = Seq(1L, 2L, 3L, 4L, 5L, 6L)

  /** Count-Min frequency estimates next to exact counts, reduced to the
    * sketch CONTRACT (est ≥ exact, est ≤ exact + e·N/width) as booleans the
    * oracle emits as literal TRUE — the same within-tolerance pattern as
    * q_approx_distinct. The sketch column itself is the deliverable at
    * scale: constant-size per group, mergeable across partitions/days.
    */
  val qCmsFreq: Q = (spark, dir) => {
    val exacts = CmsProbeKeys.map(k =>
      sum(when(col("l_partkey") === k, 1L).otherwise(0L)).as(s"exact_$k"))
    val aggs = CmsSketch.cmsSketch(col("l_partkey"), CmsDepth, CmsWidth)
      .as("sk") +: count(lit(1)).as("n_items") +: exacts
    val slack = lit(math.E / CmsWidth) * col("n_items")
    val checks = CmsProbeKeys.map { k =>
      val est = CmsSketch.cmsEstimate(col("sk"), lit(k))
      (est >= col(s"exact_$k") &&
        est <= col(s"exact_$k") + slack).as(s"ok_$k")
    }
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("l_returnflag") +: col("n_items") +:
        (CmsProbeKeys.map(k => col(s"exact_$k")) ++ checks): _*)
      .orderBy(col("l_returnflag"))
  }

  private val cmsFreqOracle: String = {
    val exacts = CmsProbeKeys.map(k =>
      s"CAST(sum(CASE WHEN l_partkey = $k THEN 1 ELSE 0 END) AS BIGINT) AS exact_$k")
    val oks = CmsProbeKeys.map(k => s"TRUE AS ok_$k")
    s"""SELECT l_returnflag, count(*) AS n_items,
       |  ${(exacts ++ oks).mkString(",\n  ")}
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Global corpus bigram frequencies, top-20 with a total-order tie-break —
    * the building block of n-gram LM stats and stop-phrase mining. One
    * codegen'd shingle pass + one count shuffle; the top-k is a bounded
    * sort. At 100 TB the groupBy count is partial-aggregated map-side, so
    * the shuffle carries one row per DISTINCT bigram per partition.
    */
  val qBigramCounts: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(explode(graft.functions.WordShingles.wordShingles(col("text"), 2))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  private val bigramCountsOracle: String =
    s"""WITH t AS (SELECT ${PipelineQueries.WS} ws FROM documents),
       |bg AS (SELECT concat_ws(' ', ws[i], ws[i+1]) AS bigram
       |       FROM t, UNNEST(range(1, greatest(len(ws)-1, 1)+1)) AS u(i))
       |SELECT bigram, count(*) AS n FROM bg
       |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** Int8 scalar quantization of embeddings (the 4× storage cut every
    * 100 TB vector corpus takes before ANN): per-vector [min, max] range
    * mapped to 0..255 via exact floor arithmetic. Quantized codes are
    * integers — bit-exact across engines; reconstruction error is bounded
    * by (max−min)/255 BY CONSTRUCTION. Output flattened to scalar columns
    * (driver compare cannot hash arrays).
    */
  val qEmbeddingQuantize: Q = (spark, dir) => {
    val v = col("embedding").cast("array<double>")
    val mn = array_min(v)
    val mx = array_max(v)
    def qd(i: Int): Column =
      when(mx === mn, 0L)
        .otherwise(floor(((element_at(v, i + 1) - mn) * lit(255.0)) / (mx - mn)))
        .as(s"q$i")
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), size(v).as("dim"),
        mn.as("v_min"), mx.as("v_max"),
        qd(0), qd(1), qd(2), qd(3))
      .orderBy(col("vec_id"))
  }

  private val embeddingQuantizeOracle: String = {
    def qd(i: Int) =
      s"""CASE WHEN mx = mn THEN 0 ELSE
         |    CAST(floor((CAST(embedding[${i + 1}] AS DOUBLE) - mn) * 255.0 /
         |               (mx - mn)) AS BIGINT) END AS q$i""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding,
       |  CAST(list_min(embedding) AS DOUBLE) AS mn,
       |  CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings)
       |SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
       |  mn AS v_min, mx AS v_max,
       |  ${(0 until 4).map(qd).mkString(",\n  ")}
       |FROM e ORDER BY vec_id""".stripMargin
  }

  /** Mergeable quantile sketch (approx_percentile / KLL-family) next to the
    * exact percentile, reduced to the contract "approx p50 lies between the
    * exact 0.49 and 0.51 quantiles" — completing the sketch suite:
    * distinct (HLL/KMV) + frequency (CMS) + membership (bloom) + QUANTILE.
    * The sketch's rank-error bound is n/accuracy = n/1000 ≪ the ±0.01
    * quantile band checked here; like the others it is deterministic, so
    * the local pass reproduces exactly in the gate.
    */
  /** Exact ground truth via the BOUNDED-memory count-then-kth operator
    * (graft.operators.Percentiles) — the built-in `percentile` aggregate
    * buffers whole groups in executor memory, an OOM rather than a spill at
    * extreme group sizes. The approx sketch (fixed-size buffer) rides in the
    * same final aggregate.
    */
  val qApproxQuantile: Q = (spark, dir) =>
    graft.operators.Percentiles.exactPercentiles(
      Tables(spark, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      Seq(0.49, 0.5, 0.51),
      extraAggs = Seq(
        percentile_approx(col("_v"), lit(0.5), lit(1000)).as("approx_p50"),
        count(lit(1)).as("n_items")))
      .select(col("l_returnflag"), col("n_items"),
        round(col("p_1"), 4).as("exact_p50"),
        (col("approx_p50") >= col("p_0") &&
          col("approx_p50") <= col("p_2")).as("p50_ok"))
      .orderBy(col("l_returnflag"))

  private val approxQuantileOracle: String =
    """SELECT l_returnflag, count(*) AS n_items,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
      |  TRUE AS p50_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // DuckDB twin of VectorFunctions.dot: left-to-right double accumulation
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  val KmeansK = 8

  /** One deterministic k-means assignment step (the oracle-checkable core of
    * Lloyd's — see `Similarity.kmeansLloyd` for the iterating operator):
    * centroids = the k lowest-id vectors, every vector assigned to its
    * nearest centroid by squared L2, computed as ‖a‖²+‖c‖²−2a·c with the
    * shared left-to-right dot products so both engines see bit-identical
    * doubles. Per-cluster count and distance extrema (min/max select
    * EXISTING doubles — no order-dependent accumulation across rows).
    *
    * Scale shape: centroids broadcast (k rows), assignment is a narrow
    * k-way fan-out per vector — no shuffle until the k-sized final groupBy.
    */
  val qKmeansAssign: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val cents = emb.orderBy(col("vec_id")).limit(KmeansK)
      .select(col("vec_id").as("cid"), col("vec").as("cvec"))
    val dist = (VectorFunctions.dot(col("vec"), col("vec")) +
      VectorFunctions.dot(col("cvec"), col("cvec"))) -
      lit(2.0) * VectorFunctions.dot(col("vec"), col("cvec"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
    emb.crossJoin(broadcast(cents))
      .withColumn("dist", dist)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("dist")).as("min_dist"),
        max(col("dist")).as("max_dist"))
      .orderBy(col("cid"))
  }

  private val kmeansAssignOracle: String =
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec
       |           FROM embeddings ORDER BY vec_id LIMIT $KmeansK),
       |d AS (SELECT e.vec_id, c.cid,
       |        (${dotSql("e.embedding", "e.embedding")} +
       |         ${dotSql("c.cvec", "c.cvec")}) -
       |        2 * ${dotSql("e.embedding", "c.cvec")} AS dist
       |      FROM embeddings e CROSS JOIN c),
       |a AS (SELECT * FROM d
       |      QUALIFY row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY dist, cid) = 1)
       |SELECT cid, count(*) AS n_vectors,
       |  min(dist) AS min_dist, max(dist) AS max_dist
       |FROM a GROUP BY cid ORDER BY cid""".stripMargin

  val PqBlocks = 4
  val PqK = 16
  val EmbeddingDim = 64

  /** Product-quantization codes for every embedding (PQ encode — see
    * Similarity.pqEncode): 4 sub-blocks × 16 deterministic sub-centroids,
    * code columns code0..code3. Distance arithmetic is the shared
    * ‖a‖²+‖c‖²−2a·c double formulation, bit-identical in DuckDB.
    */
  val qPqEncode: Q = (spark, dir) => {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    graft.operators.Similarity.pqEncode(emb, EmbeddingDim, PqBlocks, PqK)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"))
  }

  private val pqEncodeOracle: String = {
    val d = EmbeddingDim / PqBlocks
    def sub(l: String) = s"$l[j*$d+1 : j*$d+$d]"
    val dist = s"(${dotSql(sub("e.embedding"), sub("e.embedding"))} + " +
      s"${dotSql(sub("c.cvec"), sub("c.cvec"))}) - " +
      s"2 * ${dotSql(sub("e.embedding"), sub("c.cvec"))}"
    val codeCols = (0 until PqBlocks)
      .map(j => s"max(CASE WHEN j = $j THEN cid END) AS code$j").mkString(", ")
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec
       |           FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |d AS (SELECT e.vec_id, u.j, c.cid, $dist AS dist
       |      FROM embeddings e CROSS JOIN c,
       |           UNNEST(range(0, $PqBlocks)) AS u(j)),
       |a AS (SELECT vec_id, j, cid FROM d
       |      QUALIFY row_number() OVER (PARTITION BY vec_id, j
       |                                 ORDER BY dist, cid) = 1)
       |SELECT vec_id, $codeCols
       |FROM a GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  val PqTopK = 5
  val PqNQueries = 20

  /** ADC top-k over the PQ codes (Similarity.pqTopK): each query's
    * approximate neighbor ranking from m lookup-table reads per corpus
    * vector — deterministic given the codes, so the oracle checks it
    * EXACTLY (not just a recall bound).
    */
  val qPqTopK: Q = (spark, dir) => {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    graft.operators.Similarity.pqTopK(emb.filter(col("id") < PqNQueries),
      emb, EmbeddingDim, PqBlocks, PqK, PqTopK)
      .orderBy(col("query_id"), col("rank"))
  }

  val AdcCells = 16
  val AdcProbe = 4
  val AdcIters = 1
  val AdcScale = 1L << 20

  /** IVF-ADC (Similarity.ivfAdcTopK — Jégou et al. §III): a trained
    * coarse quantizer prunes each query to 4 of 16 cells, then PQ
    * asymmetric distances rank only those cells' candidates from their
    * codes. Every stage is deterministic (quantized training,
    * fixed-order ADC sums, id tie-breaks), so the oracle replays the
    * ENTIRE pipeline — train → assign → probe → encode → ADC → rank —
    * exactly, not as a recall bound.
    */
  val qIvfAdcTopK: Q = (spark, dir) => {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    graft.operators.Similarity.ivfAdcTopK(emb.filter(col("id") < PqNQueries),
      emb, AdcCells, AdcIters, AdcProbe, EmbeddingDim, PqBlocks, PqK,
      PqTopK, AdcScale)
      .orderBy(col("query_id"), col("rank"))
  }

  private val ivfAdcTopKOracle: String = {
    val d = EmbeddingDim / PqBlocks
    def sub(l: String) = s"$l[j*$d+1 : j*$d+$d]"
    val dist = s"(${dotSql(sub("e.embedding"), sub("e.embedding"))} + " +
      s"${dotSql(sub("c.cvec"), sub("c.cvec"))}) - " +
      s"2 * ${dotSql(sub("e.embedding"), sub("c.cvec"))}"
    val lutDist = s"(${dotSql(sub("q.qvec"), sub("q.qvec"))} + " +
      s"${dotSql(sub("c.cvec"), sub("c.cvec"))}) - " +
      s"2 * ${dotSql(sub("q.qvec"), sub("c.cvec"))}"
    def l2(a: String, b: String) =
      s"(${dotSql(a, a)} + ${dotSql(b, b)} - 2 * ${dotSql(a, b)})"
    val codeCols = (0 until PqBlocks)
      .map(j => s"max(CASE WHEN j = $j THEN cid END) AS code$j").mkString(", ")
    val lutJoins = (0 until PqBlocks).map(j =>
      s"JOIN lut l$j ON l$j.query_id = cand.query_id AND l$j.j = $j " +
        s"AND l$j.cid = codes.code$j").mkString("\n      ")
    val adc = (0 until PqBlocks).map(j => s"l$j.d").mkString(" + ")
    s"""WITH ev AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |ivf0 AS (SELECT id AS cell, vec AS ivfc FROM ev ORDER BY id LIMIT $AdcCells),
       |ia1 AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT ev.id, ev.vec, c.cell, row_number() OVER (PARTITION BY ev.id
       |      ORDER BY ${l2("ev.vec", "c.ivfc")}, c.cell) AS rn
       |    FROM ev CROSS JOIN ivf0 c(cell, ivfc)) WHERE rn = 1),
       |im AS (
       |  SELECT cell, i AS dim,
       |    CAST(sum(CAST(round(CAST(vec[i] AS DOUBLE) * ${AdcScale}.0) AS BIGINT))
       |      AS DOUBLE) / (count(*) * ${AdcScale}.0) AS m
       |  FROM ia1, range(1, ${EmbeddingDim + 1}) t(i) GROUP BY cell, i),
       |ivf1 AS (
       |  SELECT ivf0.cell, COALESCE(mv.ivfc, ivf0.ivfc) AS ivfc
       |  FROM ivf0 LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS ivfc
       |                       FROM im GROUP BY cell) mv USING (cell)),
       |asg AS (
       |  SELECT id, cell FROM (
       |    SELECT ev.id, c.cell, row_number() OVER (PARTITION BY ev.id
       |      ORDER BY ${l2("ev.vec", "c.ivfc")}, c.cell) AS rn
       |    FROM ev CROSS JOIN ivf1 c) WHERE rn = 1),
       |qv AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
       |       WHERE vec_id < $PqNQueries),
       |probed AS (
       |  SELECT query_id, cell FROM (
       |    SELECT qv.query_id, c.cell, row_number() OVER (PARTITION BY qv.query_id
       |      ORDER BY ${l2("qv.qvec", "c.ivfc")}, c.cell) AS rn
       |    FROM qv CROSS JOIN ivf1 c) WHERE rn <= $AdcProbe),
       |cand AS (
       |  SELECT probed.query_id, asg.id FROM probed JOIN asg USING (cell)),
       |c AS (SELECT vec_id AS cid, embedding AS cvec
       |      FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |dd AS (SELECT e.vec_id, u.j, c.cid, $dist AS dist
       |       FROM embeddings e CROSS JOIN c,
       |            UNNEST(range(0, $PqBlocks)) AS u(j)),
       |a AS (SELECT vec_id, j, cid FROM dd
       |      QUALIFY row_number() OVER (PARTITION BY vec_id, j
       |                                 ORDER BY dist, cid) = 1),
       |codes AS (SELECT vec_id, $codeCols FROM a GROUP BY vec_id),
       |lut AS (SELECT q.query_id, u.j, c.cid, $lutDist AS d
       |        FROM qv q CROSS JOIN c, UNNEST(range(0, $PqBlocks)) AS u(j)),
       |s AS (SELECT cand.query_id, codes.vec_id AS neighbor_id, $adc AS adc_dist
       |      FROM cand JOIN codes ON codes.vec_id = cand.id
       |      $lutJoins
       |      WHERE codes.vec_id <> cand.query_id),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $PqTopK ORDER BY query_id, rank""".stripMargin
  }

  /** Sub-block count for the RESIDUAL pipeline: 8 blocks of 8 dims (vs
    * the raw pipeline's 4×16) — at 16 sub-centroids a 16-dim block is
    * too coarse for training to show; 8-dim blocks are where the trained
    * codebook separates from the seed codebook on this fixture
    * (measured: trained 0.37 vs raw-code composition 0.28 recall at
    * verify SF).
    */
  val ResPqM = 8
  /** Quantized-Lloyd's rounds for the per-block sub-codebooks. */
  val ResPqIters = 2
  /** ADC recall floor vs exact cosine top-k: well above the ~0.003
    * chance level at every SF, below the measured 0.37 (sf0.01) / 0.17
    * (sf0.1) — the structureless synthetic corpus at bench SF gives PQ
    * training nothing to exploit, so the trained-beats-untrained
    * CONTRAST is asserted on a clustered fixture in SimilaritySpec,
    * not here.
    */
  val ResAdcRecallFloor = 0.1

  /** Residual IVFADC (Similarity.ivfAdcResidualTopK — Jégou §III in
    * full): trained coarse quantizer, PQ sub-codebooks TRAINED on the
    * residuals x − centroid(cell), codes encode residuals, and the
    * query-side LUT is built per (query, probed cell) from the QUERY
    * residual. The oracle replays the ENTIRE pipeline — coarse train →
    * residuals → 2 rounds of per-block quantized k-means → encode →
    * probe → per-cell LUT → ADC → rank — hash-exactly. In-query gate:
    * recall vs bruteForceTopK ≥ [[ResAdcRecallFloor]].
    */
  val qIvfAdcResidual: Q = (spark, dir) => {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val queries = emb.filter(col("id") < PqNQueries)
    val topk = graft.operators.Similarity.ivfAdcResidualTopK(queries, emb,
      AdcCells, AdcIters, AdcProbe, EmbeddingDim, ResPqM, PqK, ResPqIters,
      PqTopK, AdcScale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = graft.operators.Similarity.bruteForceTopK(queries, emb, PqTopK)
      .select(col("query_id"), col("neighbor_id"))
    val counts = exact.agg(count(lit(1)).as("n_exact")).crossJoin(
      exact.join(topk.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))).head()
    require(counts.getLong(1) >= ResAdcRecallFloor * counts.getLong(0),
      s"residual IVFADC recall ${counts.getLong(1)}/${counts.getLong(0)} " +
        s"under floor $ResAdcRecallFloor")
    val out = topk.orderBy(col("query_id"), col("rank"))
    val materialized = out.collect()
    topk.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(materialized.toIndexedSeq, 1), out.schema)
  }

  private val ivfAdcResidualOracle: String = {
    val d = EmbeddingDim / ResPqM
    def l2(a: String, b: String) =
      s"(${dotSql(a, a)} + ${dotSql(b, b)} - 2 * ${dotSql(a, b)})"
    def blk(l: String) = s"$l[c.j*$d+1 : c.j*$d+$d]"
    // one quantized-Lloyd's round over the per-block residual codebook:
    // assign every (id, block) sub-residual to its nearest sub-centroid
    // of `prev`, recompute touched sub-centroids as scaled-integer means
    def pqRound(prev: String, pa: String, pm: String, next: String) =
      s"""$pa AS MATERIALIZED (
         |  SELECT id, j, cid FROM (
         |    SELECT r.id, c.j, c.cid, row_number() OVER (
         |      PARTITION BY r.id, c.j
         |      ORDER BY ${l2(blk("r.rv"), "c.csub")}, c.cid) AS rn
         |    FROM res r CROSS JOIN $prev c) WHERE rn = 1),
         |$pm AS (
         |  SELECT a.j, a.cid, t.i,
         |    CAST(sum(CAST(round(r.rv[a.j*$d + t.i] * ${AdcScale}.0) AS BIGINT))
         |      AS DOUBLE) / (count(*) * ${AdcScale}.0) AS m
         |  FROM $pa a JOIN res r USING (id), range(1, ${d + 1}) t(i)
         |  GROUP BY a.j, a.cid, t.i),
         |$next AS MATERIALIZED (
         |  SELECT c.j, c.cid, COALESCE(mv.csub, c.csub) AS csub
         |  FROM $prev c LEFT JOIN (SELECT j, cid, list(m ORDER BY i) AS csub
         |                          FROM $pm GROUP BY j, cid) mv
         |    USING (j, cid))""".stripMargin
    val cbFinal = s"cbr$ResPqIters"
    val rounds = (1 to ResPqIters).map(r =>
      pqRound(s"cbr${r - 1}", s"par$r", s"pmr$r", s"cbr$r")).mkString(",\n")
    val codeCols = (0 until ResPqM)
      .map(j => s"max(CASE WHEN j = $j THEN cid END) AS code$j").mkString(", ")
    val lutJoins = (0 until ResPqM).map(j =>
      s"JOIN lut l$j ON l$j.query_id = cand.query_id AND l$j.cell = cand.cell " +
        s"AND l$j.j = $j AND l$j.cid = codes.id_code$j").mkString("\n      ")
    val adc = (0 until ResPqM).map(j => s"l$j.dd").mkString(" + ")
    val codeAlias = (0 until ResPqM)
      .map(j => s"code$j AS id_code$j").mkString(", ")
    s"""WITH ev AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |ivf0 AS (SELECT id AS cell, vec AS ivfc FROM ev ORDER BY id LIMIT $AdcCells),
       |ia1 AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT ev.id, ev.vec, c.cell, row_number() OVER (PARTITION BY ev.id
       |      ORDER BY ${l2("ev.vec", "c.ivfc")}, c.cell) AS rn
       |    FROM ev CROSS JOIN ivf0 c(cell, ivfc)) WHERE rn = 1),
       |im AS (
       |  SELECT cell, i AS dim,
       |    CAST(sum(CAST(round(CAST(vec[i] AS DOUBLE) * ${AdcScale}.0) AS BIGINT))
       |      AS DOUBLE) / (count(*) * ${AdcScale}.0) AS m
       |  FROM ia1, range(1, ${EmbeddingDim + 1}) t(i) GROUP BY cell, i),
       |ivf1 AS MATERIALIZED (
       |  SELECT ivf0.cell, COALESCE(mv.ivfc, ivf0.ivfc) AS ivfc
       |  FROM ivf0 LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS ivfc
       |                       FROM im GROUP BY cell) mv USING (cell)),
       |asgv AS MATERIALIZED (
       |  SELECT id, vec, cell FROM (
       |    SELECT ev.id, ev.vec, c.cell, row_number() OVER (PARTITION BY ev.id
       |      ORDER BY ${l2("ev.vec", "c.ivfc")}, c.cell) AS rn
       |    FROM ev CROSS JOIN ivf1 c) WHERE rn = 1),
       |res AS MATERIALIZED (
       |  SELECT a.id, a.cell,
       |    list_transform(range(1, ${EmbeddingDim + 1}),
       |      i -> CAST(a.vec[i] AS DOUBLE) - CAST(c.ivfc[i] AS DOUBLE)) AS rv
       |  FROM asgv a JOIN ivf1 c USING (cell)),
       |sidx AS (SELECT id FROM ev ORDER BY id LIMIT $PqK),
       |cbr0 AS MATERIALIZED (SELECT u.j, r.id AS cid, r.rv[u.j*$d+1 : u.j*$d+$d] AS csub
       |         FROM res r JOIN sidx USING (id),
       |              UNNEST(range(0, $ResPqM)) AS u(j)),
       |$rounds,
       |ca AS MATERIALIZED (
       |  SELECT id, j, cid FROM (
       |    SELECT r.id, c.j, c.cid, row_number() OVER (
       |      PARTITION BY r.id, c.j
       |      ORDER BY ${l2(blk("r.rv"), "c.csub")}, c.cid) AS rn
       |    FROM res r CROSS JOIN $cbFinal c) WHERE rn = 1),
       |codes AS MATERIALIZED (SELECT id, $codeCols FROM ca GROUP BY id),
       |codesr AS (SELECT id, $codeAlias FROM codes),
       |qv AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
       |       WHERE vec_id < $PqNQueries),
       |probed AS (
       |  SELECT query_id, cell FROM (
       |    SELECT qv.query_id, c.cell, row_number() OVER (PARTITION BY qv.query_id
       |      ORDER BY ${l2("qv.qvec", "c.ivfc")}, c.cell) AS rn
       |    FROM qv CROSS JOIN ivf1 c) WHERE rn <= $AdcProbe),
       |qr AS (
       |  SELECT p.query_id, p.cell,
       |    list_transform(range(1, ${EmbeddingDim + 1}),
       |      i -> CAST(q.qvec[i] AS DOUBLE) - CAST(c.ivfc[i] AS DOUBLE)) AS qrv
       |  FROM probed p JOIN qv q USING (query_id) JOIN ivf1 c USING (cell)),
       |lut AS MATERIALIZED (SELECT qr.query_id, qr.cell, c.j, c.cid,
       |          ${l2(blk("qr.qrv"), "c.csub")} AS dd
       |        FROM qr CROSS JOIN $cbFinal c),
       |cand AS (SELECT p.query_id, p.cell, a.id FROM probed p
       |         JOIN res a USING (cell)),
       |s AS (SELECT cand.query_id, codes.id AS neighbor_id, $adc AS adc_dist
       |      FROM cand JOIN codesr codes ON codes.id = cand.id
       |      $lutJoins
       |      WHERE codes.id <> cand.query_id),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $PqTopK ORDER BY query_id, rank""".stripMargin
  }

  /** Residual-PQ codes AS versioned hubs — the steady-state ADC
    * maintenance lifecycle (the codes sibling of `q_ivf_index_hub`):
    * train the coarse quantizer AND the per-block residual sub-codebooks
    * ONCE on the standing corpus, persist centroids / codebook / codes
    * as ACID hub tables, then encode each NEW batch at O(batch) — the
    * (tiny) centroid and codebook hubs are read back, the batch assigns
    * its OWN vectors, encodes their residuals against the PERSISTED
    * codebook (no retraining, standing corpus never re-read), and lands
    * one keyed upsert; a replayed batch is absorbed (idempotence gate).
    * Because the codebook is fixed at training time, the incremental
    * result equals the one-shot encode — which is exactly what the
    * DuckDB oracle computes, making the whole lifecycle hash-exact.
    */
  /** One sub-codebook training round for the HUB lifecycle — the
    * 2-round trained-ness proof lives in `q_ivf_adc_residual`; this
    * query proves the PERSIST/incremental-encode lifecycle, so it takes
    * the cheaper single round.
    */
  val AdcHubPqIters = 1

  val qAdcIndexHub: Q = (spark, dir) => {
    import graft.writers.VersionedHub
    import graft.operators.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft_adc_hub")
      .toFile.getAbsolutePath
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val standing = emb.filter(col("id") % 4 =!= 0)
    val batch = emb.filter(col("id") % 4 === 0)
    val cents = Similarity.kmeansQuantized(standing, AdcCells, AdcIters,
      AdcScale)
    // standing residuals feed codebook TRAINING, the standing encode, and
    // the cell join — one assignment+subtraction pass, not three
    val res = Similarity.residualsFor(standing, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rvecs = res.select(col("id"), col("rvec").as("vec"))
    val cb = Similarity.pqCodebookTrained(rvecs, EmbeddingDim, ResPqM, PqK,
      AdcHubPqIters, AdcScale)
    VersionedHub.write(spark, cents, s"$tmp/centroids", Seq("cell"))
    VersionedHub.write(spark, cb, s"$tmp/codebook", Seq("block", "cid"))
    VersionedHub.writeBucketed(spark,
      Similarity.pqEncodeWith(rvecs, EmbeddingDim, ResPqM, cb)
        .join(res.select(col("id"), col("cell")), Seq("id")),
      s"$tmp/codes", Seq("id"), 4)
    // incremental: EVERYTHING the batch needs comes back from the hubs
    val hubCents = VersionedHub.read(spark, s"$tmp/centroids")
      .select(col("cell"), col("centroid"))
    val hubCb = VersionedHub.read(spark, s"$tmp/codebook")
      .select(col("block"), col("cid"), col("csub"))
    val bres = Similarity.residualsFor(batch, hubCents)
    // persisted across the commit AND its idempotence replay: each
    // writeBucketed call otherwise re-runs the batch residual+PQ encode
    // (its own stamped persist is call-scoped) — one encode pass instead
    // of two, result unchanged
    val batchCodes = graft.GraftSession.persistForReuse(
      Similarity.pqEncodeWith(
        bres.select(col("id"), col("rvec").as("vec")), EmbeddingDim, ResPqM,
        hubCb).join(bres.select(col("id"), col("cell")), Seq("id")))
    VersionedHub.writeBucketed(spark, batchCodes, s"$tmp/codes", Seq("id"), 4)
    // a replayed batch must be absorbed, not duplicated
    VersionedHub.writeBucketed(spark, batchCodes, s"$tmp/codes", Seq("id"), 4)
    batchCodes.unpersist()
    val hist = VersionedHub.history(spark, s"$tmp/codes").sortBy(_.version)
    // both lifecycle row counts from ONE aggregate pass over the
    // embeddings (was total.count() + standing.count() = two full scans)
    val cnts = emb.agg(count(lit(1)).as("n"),
      count(when(col("id") % 4 =!= 0, 1)).as("n_st")).head()
    val (total, nStanding) = (cnts.getLong(0), cnts.getLong(1))
    require(hist.size == 3 && hist(0).rows == nStanding &&
      hist(1).rows == total && hist(2).rows == total,
      s"codes hub lifecycle drifted: ${hist.map(h => (h.version, h.rows))}")
    res.unpersist()
    val sumCodes = (0 until ResPqM).map(j => col(s"code$j"))
      .reduce(_ + _)
    VersionedHub.read(spark, s"$tmp/codes")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(sumCodes).cast("long").as("sum_codes"))
      .orderBy(col("cell"))
  }

  private val adcIndexHubOracle: String = {
    val d = EmbeddingDim / ResPqM
    def l2(a: String, b: String) =
      s"(${dotSql(a, a)} + ${dotSql(b, b)} - 2 * ${dotSql(a, b)})"
    def blk(l: String) = s"$l[c.j*$d+1 : c.j*$d+$d]"
    // per-block quantized-Lloyd's round over the STANDING residuals
    def pqRound(prev: String, pa: String, pm: String, next: String) =
      s"""$pa AS MATERIALIZED (
         |  SELECT id, j, cid FROM (
         |    SELECT r.id, c.j, c.cid, row_number() OVER (
         |      PARTITION BY r.id, c.j
         |      ORDER BY ${l2(blk("r.rv"), "c.csub")}, c.cid) AS rn
         |    FROM resst r CROSS JOIN $prev c) WHERE rn = 1),
         |$pm AS (
         |  SELECT a.j, a.cid, t.i,
         |    CAST(sum(CAST(round(r.rv[a.j*$d + t.i] * ${AdcScale}.0) AS BIGINT))
         |      AS DOUBLE) / (count(*) * ${AdcScale}.0) AS m
         |  FROM $pa a JOIN resst r USING (id), range(1, ${d + 1}) t(i)
         |  GROUP BY a.j, a.cid, t.i),
         |$next AS MATERIALIZED (
         |  SELECT c.j, c.cid, COALESCE(mv.csub, c.csub) AS csub
         |  FROM $prev c LEFT JOIN (SELECT j, cid, list(m ORDER BY i) AS csub
         |                          FROM $pm GROUP BY j, cid) mv
         |    USING (j, cid))""".stripMargin
    val cbFinal = s"cbr$AdcHubPqIters"
    val rounds = (1 to AdcHubPqIters).map(r =>
      pqRound(s"cbr${r - 1}", s"par$r", s"pmr$r", s"cbr$r")).mkString(",\n")
    val codeSum = (0 until ResPqM)
      .map(j => s"max(CASE WHEN j = $j THEN cid END)").mkString(" + ")
    s"""WITH ev AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |st AS (SELECT * FROM ev WHERE id % 4 <> 0),
       |ivf0 AS (SELECT id AS cell, vec AS ivfc FROM st ORDER BY id LIMIT $AdcCells),
       |ia1 AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT st.id, st.vec, c.cell, row_number() OVER (PARTITION BY st.id
       |      ORDER BY ${l2("st.vec", "c.ivfc")}, c.cell) AS rn
       |    FROM st CROSS JOIN ivf0 c(cell, ivfc)) WHERE rn = 1),
       |im AS (
       |  SELECT cell, i AS dim,
       |    CAST(sum(CAST(round(CAST(vec[i] AS DOUBLE) * ${AdcScale}.0) AS BIGINT))
       |      AS DOUBLE) / (count(*) * ${AdcScale}.0) AS m
       |  FROM ia1, range(1, ${EmbeddingDim + 1}) t(i) GROUP BY cell, i),
       |ivf1 AS (
       |  SELECT ivf0.cell, COALESCE(mv.ivfc, ivf0.ivfc) AS ivfc
       |  FROM ivf0 LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS ivfc
       |                       FROM im GROUP BY cell) mv USING (cell)),
       |asgv AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT ev.id, ev.vec, c.cell, row_number() OVER (PARTITION BY ev.id
       |      ORDER BY ${l2("ev.vec", "c.ivfc")}, c.cell) AS rn
       |    FROM ev CROSS JOIN ivf1 c) WHERE rn = 1),
       |res AS MATERIALIZED (
       |  SELECT a.id, a.cell,
       |    list_transform(range(1, ${EmbeddingDim + 1}),
       |      i -> CAST(a.vec[i] AS DOUBLE) - CAST(c.ivfc[i] AS DOUBLE)) AS rv
       |  FROM asgv a JOIN ivf1 c USING (cell)),
       |resst AS MATERIALIZED (SELECT * FROM res WHERE id % 4 <> 0),
       |sidx AS (SELECT id FROM st ORDER BY id LIMIT $PqK),
       |cbr0 AS MATERIALIZED (
       |  SELECT u.j, r.id AS cid, r.rv[u.j*$d+1 : u.j*$d+$d] AS csub
       |  FROM resst r JOIN sidx USING (id),
       |       UNNEST(range(0, $ResPqM)) AS u(j)),
       |$rounds,
       |ca AS MATERIALIZED (
       |  SELECT id, j, cid FROM (
       |    SELECT r.id, c.j, c.cid, row_number() OVER (
       |      PARTITION BY r.id, c.j
       |      ORDER BY ${l2(blk("r.rv"), "c.csub")}, c.cid) AS rn
       |    FROM res r CROSS JOIN $cbFinal c) WHERE rn = 1),
       |codes AS (SELECT id, $codeSum AS code_sum FROM ca GROUP BY id)
       |SELECT r.cell, count(*) AS n_vectors,
       |  CAST(sum(codes.code_sum) AS BIGINT) AS sum_codes
       |FROM codes JOIN res r USING (id)
       |GROUP BY r.cell ORDER BY r.cell""".stripMargin
  }

  private val pqTopKOracle: String = {
    val d = EmbeddingDim / PqBlocks
    def sub(l: String) = s"$l[j*$d+1 : j*$d+$d]"
    val dist = s"(${dotSql(sub("e.embedding"), sub("e.embedding"))} + " +
      s"${dotSql(sub("c.cvec"), sub("c.cvec"))}) - " +
      s"2 * ${dotSql(sub("e.embedding"), sub("c.cvec"))}"
    val lutDist = s"(${dotSql(sub("q.qvec"), sub("q.qvec"))} + " +
      s"${dotSql(sub("c.cvec"), sub("c.cvec"))}) - " +
      s"2 * ${dotSql(sub("q.qvec"), sub("c.cvec"))}"
    val codeCols = (0 until PqBlocks)
      .map(j => s"max(CASE WHEN j = $j THEN cid END) AS code$j").mkString(", ")
    val lutJoins = (0 until PqBlocks).map(j =>
      s"JOIN lut l$j ON l$j.query_id = q.query_id AND l$j.j = $j " +
        s"AND l$j.cid = codes.code$j").mkString("\n      ")
    val adc = (0 until PqBlocks).map(j => s"l$j.d").mkString(" + ")
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec
       |           FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |dd AS (SELECT e.vec_id, u.j, c.cid, $dist AS dist
       |       FROM embeddings e CROSS JOIN c,
       |            UNNEST(range(0, $PqBlocks)) AS u(j)),
       |a AS (SELECT vec_id, j, cid FROM dd
       |      QUALIFY row_number() OVER (PARTITION BY vec_id, j
       |                                 ORDER BY dist, cid) = 1),
       |codes AS (SELECT vec_id, $codeCols FROM a GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
       |      WHERE vec_id < $PqNQueries),
       |lut AS (SELECT q.query_id, u.j, c.cid, $lutDist AS d
       |        FROM q CROSS JOIN c, UNNEST(range(0, $PqBlocks)) AS u(j)),
       |s AS (SELECT q.query_id, codes.vec_id AS neighbor_id, $adc AS adc_dist
       |      FROM codes CROSS JOIN q
       |      $lutJoins
       |      WHERE codes.vec_id <> q.query_id),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $PqTopK ORDER BY query_id, rank""".stripMargin
  }

  /** Equi-join row-count estimation from two CMS sketches WITHOUT running
    * the join (Cormode & Muthukrishnan inner-product estimator) — the
    * pre-flight "how big does events ⋈ events on user_id blow up" check,
    * costing two constant-size sketches instead of the join's shuffle.
    * Contract oracle: est ≥ exact (collision terms are non-negative) and
    * est ≤ exact + (e/width)·N² (the CM inner-product slack); exact
    * self-join size Σ c_u² is emitted for the hash.
    */
  val qJoinSizeEstimate: Q = (spark, dir) => {
    val ev = Tables(spark, dir, "events")
    val sk = ev.agg(
      CmsSketch.cmsSketch(col("user_id"), CmsDepth, CmsWidth).as("sk"),
      count(lit(1)).as("n"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_join_rows"))
    val est = CmsSketch.cmsJoinSize(col("sk"), col("sk"))
    val slack = ceil(lit(math.E / CmsWidth) * col("n") * col("n")).cast("long")
    sk.crossJoin(exact).select(
      col("exact_join_rows"),
      (est >= col("exact_join_rows")).as("est_upper_ok"),
      (est <= col("exact_join_rows") + slack).as("est_tolerance_ok"))
  }

  private val joinSizeEstimateOracle: String =
    """WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1)
      |SELECT CAST(sum(c * c) AS BIGINT) AS exact_join_rows,
      |  TRUE AS est_upper_ok, TRUE AS est_tolerance_ok
      |FROM c""".stripMargin

  val all: Map[String, Q] = Map(
    "q_join_size_estimate" -> qJoinSizeEstimate,
    "q_bloom_decontaminate" -> qBloomDecontaminate,
    "q_cms_freq" -> qCmsFreq,
    "q_bigram_counts" -> qBigramCounts,
    "q_embedding_quantize" -> qEmbeddingQuantize,
    "q_approx_quantile" -> qApproxQuantile,
    "q_kmeans_assign" -> qKmeansAssign,
    "q_pq_encode" -> qPqEncode,
    "q_pq_topk" -> qPqTopK,
    "q_ivf_adc_topk" -> qIvfAdcTopK,
    "q_ivf_adc_residual" -> qIvfAdcResidual,
    "q_adc_index_hub" -> qAdcIndexHub
  )

  val oracles: Map[String, String] = Map(
    "q_join_size_estimate" -> joinSizeEstimateOracle,
    "q_bloom_decontaminate" -> bloomDecontaminateOracle,
    "q_cms_freq" -> cmsFreqOracle,
    "q_bigram_counts" -> bigramCountsOracle,
    "q_embedding_quantize" -> embeddingQuantizeOracle,
    "q_approx_quantile" -> approxQuantileOracle,
    "q_kmeans_assign" -> kmeansAssignOracle,
    "q_pq_encode" -> pqEncodeOracle,
    "q_pq_topk" -> pqTopKOracle,
    "q_ivf_adc_topk" -> ivfAdcTopKOracle,
    "q_ivf_adc_residual" -> ivfAdcResidualOracle,
    "q_adc_index_hub" -> adcIndexHubOracle
  )
}
