package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession.{fanOutNarrow, materialize, persistForReuse}

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard (inverted index — exact), MinHash+LSH (approximate candidate
  * generation + exact verify), SimHash (bitwise near-dup).
  *
  * Scale design (the point of each algorithm):
  *   - exact / decontamination: one hash-shuffle (or anti-join) on the
  *     fingerprint — embarrassingly parallel;
  *   - ngram Jaccard: explode to (shingle, doc) postings and self-join on
  *     shingle — work ∝ Σ df(shingle)²; any pair with J ≥ t > 0 shares a
  *     shingle, so candidate generation is lossless. For Zipfian corpora
  *     (hot shingles) use [[ngramJaccardPairsPrefix]] — AllPairs prefix
  *     filtering drops the quadratic term to Σ df·df_prefix, losslessly;
  *   - MinHash LSH: constant-size signature per doc (k=16 mins), banded
  *     (4×4) bucket join — work ∝ collisions, not pairs. The s-curve
  *     1-(1-j⁴)⁴ makes J≥0.8 pairs collide w.p. ≥0.88 per band set;
  *     candidates are then verified with EXACT Jaccard (or estimated from
  *     signatures alone via [[jaccardEstimateOfPairs]]);
  *   - SimHash: 32/60-bit weighted-bit signature; near-dups = small Hamming
  *     distance; candidate blocking on maxHamming+1 bit chunks (pigeonhole
  *     ⇒ lossless at any budget below the signature width).
  *
  * All arithmetic is integer/exact (md5-derived 60-bit hashes, 31-bit modular
  * permutations) so the DuckDB oracles reproduce results bit-for-bit.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per normalized-content fingerprint.
    *
    * NOT a per-fingerprint `row_number` window: a window partitioned by the
    * fingerprint does no partial aggregation, so a viral exact-duplicate
    * cluster (one document duplicated 1e7×) concentrates on a single task.
    * `groupBy(fp).agg(min(id))` map-side-combines the hot fingerprint down
    * to one row per input partition; the surviving ids then select their
    * rows back with a semi-join on the (unique, uniformly distributed) id
    * key — every stage is skew-free. Costs one extra shuffle vs the window
    * form; buys survival on the corpora exact dedup actually targets.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val survivors = df
      .select(TextAnalysis.fingerprint(col(textCol)).as("_fp"), col(idCol))
      .groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(survivors, Seq(idCol), "left_semi")
  }

  /** LINE-level exact dedup across the corpus (the C4 §2.2 / Lee et al.
    * boilerplate-removal step between doc-level [[exact]] and
    * substring-level span trim): every newline-split line with at least
    * `minTokens` whitespace tokens is a dedup candidate, and of all
    * identical candidate lines CORPUS-WIDE only the first occurrence —
    * lowest (doc id, line position) — survives; shorter lines (headers,
    * braces, blanks) are never candidates and always kept. Returns
    * (idCol, n_lines, n_lines_kept, text_deduped) with surviving lines
    * rejoined by '\n' in original order.
    *
    * Scale shape — the [[exact]] discipline at line grain: the keeper is
    * a map-side `min(struct(id, pos))` partial aggregate on the 60-bit
    * line fingerprint, so a viral boilerplate line (one cookie banner
    * duplicated 1e8×) combines inside each input partition instead of
    * concentrating on a task; survivors select back with one equi-join
    * on the fingerprint. No window touches the hot key. Reassembly
    * groups by the (unique) doc id.
    */
  def lineDedupKeepFirst(df: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 3): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
    val cand = lines
      .withColumn("_h", Shingles.hash60(col("_line")))
      .withColumn("_cand",
        size(TextAnalysis.tokens(col("_line"))) >= minTokens)
    val keep = cand.filter(col("_cand"))
      .groupBy(col("_h"))
      .agg(min(struct(col(idCol).as("_kid"), col("_pos").as("_kpos")))
        .as("_k"))
      .select(col("_h"), col("_k._kid").as("_kid"),
        col("_k._kpos").as("_kpos"))
    // identical content ⇒ identical token count, so a non-candidate can
    // never share a fingerprint with a candidate: the left join misses
    // exactly on non-candidates (and no hash collisions by the 60-bit
    // fingerprint contract)
    val flagged = cand.join(keep, Seq("_h"), "left_outer")
      .withColumn("_keep", !col("_cand") ||
        (col(idCol) === col("_kid") && col("_pos") === col("_kpos")))
    flagged.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("_keep").cast("long")).as("n_lines_kept"),
        concat_ws("\n", expr(
          "transform(sort_array(collect_list(CASE WHEN _keep THEN " +
            "struct(_pos, _line) END)), s -> s._line)")).as("text_deduped"))
      .withColumn("n_lines", col("n_lines").cast("long"))
  }

  /** Decontamination: drop every `train` row whose normalized-content
    * fingerprint appears in `test` (benchmark/holdout leakage removal).
    * One left-anti join on the md5 key — the test side is typically tiny
    * relative to 100 TB of training data, so AQE broadcasts it and the
    * operation costs one training-corpus scan.
    */
  def crossDedup(train: DataFrame, test: DataFrame, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    train.withColumn("_fp", fp)
      .join(test.select(fp.as("_fp")).distinct(), Seq("_fp"), "left_anti")
      .drop("_fp")
  }

  /** Bloom-accelerated decontamination — EXACT results, sketch-speed scan.
    *
    * Two phases: (1) the holdout fingerprints aggregate into one bloom
    * filter (distributed build, driver-held binary); the training corpus is
    * filtered by `might_contain` at scan speed — a pure narrow projection,
    * NO shuffle of the 100 TB side. (2) only the flagged rows (true leaks +
    * the filter's ~fpp false positives, a vanishing fraction) pay the exact
    * anti-join against the holdout set. Output ≡ [[crossDedup]] row-for-row;
    * the plan replaces a full-corpus shuffle join with scan + tiny join.
    *
    * `expectedTestItems` sizes the filter (Spark's default fpp 3% at the
    * given capacity; ~1.2 bytes/item): size it at or above the holdout's
    * distinct-fingerprint count.
    */
  def bloomDecontaminate(train: DataFrame, test: DataFrame, textCol: String,
      expectedTestItems: Long = 1000000L): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val bloomRow = test
      .select(graft.functions.BloomFunctions.bloomAgg(fp, expectedTestItems)
        .as("bf"))
      .head()
    if (bloomRow.isNullAt(0)) train // empty holdout: nothing to remove
    else {
      val bloom = bloomRow.getAs[Array[Byte]](0)
      val might = graft.functions.BloomFunctions.mightContain(bloom, fp)
      val clean = train.filter(!might)
      val verified = train.filter(might)
        .join(test.select(fp.as("_fp")).distinct(), fp === col("_fp"), "left_anti")
      clean.unionByName(verified)
    }
  }

  /** (a, b) pairs from the shared deterministic MinHash permutation table
    * ([[graft.functions.MinHashParams]]): 16 permutations
    * h → (a·h31 + b) mod (2³¹−1), constants from a fixed LCG seed so the SQL
    * oracle can embed the same numbers.
    */
  val minhashParams: Seq[(Long, Long)] = graft.functions.MinHashParams.pairs
  val MinhashPrime = 2147483647L // 2^31 - 1

  /** doc → exploded distinct shingle hashes (h31), the input to both the
    * signature aggregation and exact-Jaccard verification.
    *
    * The whole doc → distinct-h31-set step runs inside the codegen'd
    * [[graft.functions.WordShingleHash31Set]] expression (shingle + md5 over
    * raw bytes + in-memory dedup per document), so the postings build is ONE
    * narrow pass — no per-shingle string rows, no md5-hex `conv` parse, and
    * no (id, h) distinct shuffle.
    */
  def shingleHashes(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.TextHashExprs.wordShingleHash31Set(col(textCol), n))
        .as("h"))

  /** (id, shingle) rows (duplicates kept — dedupe downstream if needed). */
  def shingleStrings(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.WordShingles.wordShingles(col(textCol), n))
        .as("shingle"))

  /** MinHash signature: 16 `min((aᵢ·h+bᵢ) mod p)` aggregates in ONE pass
    * over the postings (map-side partial min — no extra shuffle beyond the
    * groupBy on the doc id). Prefer [[minhashSignatureFromText]] when the
    * text column is at hand — it skips this shuffle entirely.
    */
  def minhashSignature(postings: DataFrame, idCol: String): DataFrame = {
    val aggs = minhashParams.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * lit(a) + lit(b)) % lit(MinhashPrime)).as(s"mh$i")
    }
    postings.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signature computed directly from the text as a narrow
    * projection (codegen'd [[graft.functions.MinHashSignature]]): a per-doc
    * signature is a pure function of one row, so there is nothing to
    * shuffle — at 100 TB this runs at scan speed where the postings
    * formulation pays explode + groupBy. Output schema matches
    * [[minhashSignature]]: (idCol, mh0..mh15).
    */
  def minhashSignatureFromText(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    val sig = graft.functions.TextHashExprs.minHashSignature(col(textCol), n)
    df.select(col(idCol) +:
      minhashParams.indices.map(i => sig.getItem(i).as(s"mh$i")): _*)
  }

  /** LSH banding: 4 bands × 4 rows; band key = "mh₀_mh₁_mh₂_mh₃". Returns
    * (band, key, id) postings for the bucket join.
    */
  def lshBands(sig: DataFrame, idCol: String): DataFrame = {
    val bands = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until 4).map(r => col(s"mh${b * 4 + r}")): _*).as("bkey"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Candidate pairs = docs sharing any band bucket (distinct). */
  def lshCandidates(bands: DataFrame, idCol: String): DataFrame = {
    val l = bands.select(col("band"), col("bkey"), col(idCol).as("id_a"))
    val r = bands.select(col("band"), col("bkey"), col(idCol).as("id_b"))
    l.join(r, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact Jaccard for given pairs via the postings inverted index:
    * |A∩B| from the shingle join, |A∪B| = |A|+|B|−|A∩B|.
    */
  def jaccardOfPairs(pairs: DataFrame, postings: DataFrame, idCol: String): DataFrame = {
    val sizes = postings.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    // NOTE: unlike ngramJaccardPairs, sz is NOT carried through the h-join
    // here — the semi-join on `pairs` prunes candidates before aggregation,
    // so the post-group size joins touch a tiny table, while widening the
    // full h-join rows measurably regresses (A/B'd at sf0.1).
    val common = postings.select(col(idCol).as("id_a"), col("h"))
      .join(postings.select(col(idCol).as("id_b"), col("h")), Seq("h"))
      .join(pairs, Seq("id_a", "id_b"), "left_semi")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Sketch-only Jaccard ESTIMATE for candidate pairs: the fraction of equal
    * minhash coordinates is an unbiased estimator of J (σ = √(J(1−J)/k)).
    * Joins two 16-long signatures per pair instead of the full postings —
    * the verify path when even the candidate-restricted postings join is too
    * large, trading exactness for O(pairs·k) work. Pair with
    * [[jaccardOfPairs]] when exact values are required.
    */
  def jaccardEstimateOfPairs(pairs: DataFrame, signatures: DataFrame,
      idCol: String): DataFrame = {
    // k derives from the shared permutation table — the single source of
    // truth for the mh* signature schema
    val k = minhashParams.size
    val sigCols = (0 until k).map(i => s"mh$i")
    def side(as: String) = signatures.select(
      col(idCol).as(as) +: sigCols.map(c => col(c).as(s"${c}_$as")): _*)
    val matches = sigCols.map(c =>
      when(col(s"${c}_id_a") === col(s"${c}_id_b"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(side("id_a"), Seq("id_a"))
      .join(side("id_b"), Seq("id_b"))
      .withColumn("jaccard_est", matches.cast("double") / k.toDouble)
      .select(col("id_a"), col("id_b"), col("jaccard_est"))
  }

  /** Exact Jaccard for candidate pairs WITHOUT a postings self-join: each
    * doc's distinct-shingle set is materialized once as a sorted array (a
    * narrow codegen'd projection — no shuffle), candidates join their two
    * arrays and intersect in-memory. Work ∝ |pairs| · |doc| instead of
    * Σ df(h)² — the verify path of choice when candidates are already known
    * (LSH output), leaving the postings join to candidate GENERATION only.
    * Values are bit-identical to [[jaccardOfPairs]] (same integer counts).
    */
  def jaccardOfPairsByDocset(pairs: DataFrame, df: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame = {
    val docsets = df.select(col(idCol),
      sort_array(graft.functions.TextHashExprs.wordShingleHash31Set(
        col(textCol), n)).as("hs"))
      .withColumn("sz", size(col("hs")))
    pairs
      .join(docsets.select(col(idCol).as("id_a"), col("hs").as("hs_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(docsets.select(col(idCol).as("id_b"), col("hs").as("hs_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("common", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---------- incremental dedup against a persisted LSH index ----------

  /** LSH index entries for a corpus slice: one row per (band, bkey) per
    * doc with the full minhash signature carried inline —
    * (idCol, mh0..mh15, band, bkey). Denormalized so the incremental
    * verify step needs no join back to a separate signatures table. A pure
    * narrow projection + 4-way explode: runs at scan speed, and appends
    * cheaply to a persisted index table (e.g. a VersionedHub bucketed by
    * bkey, so probe joins shuffle only the incoming batch).
    */
  def lshIndexEntries(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    val sig = minhashSignatureFromText(df, textCol, idCol, n)
    val sigCols = minhashParams.indices.map(i => col(s"mh$i"))
    val bands = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until 4).map(r => col(s"mh${b * 4 + r}")): _*)
          .as("bkey"))
    }
    sig.select(col(idCol) +: sigCols :+ explode(array(bands: _*)).as("_bb"): _*)
      .select(col(idCol) +: sigCols :+
        col("_bb.band").as("band") :+ col("_bb.bkey").as("bkey"): _*)
  }

  /** Incremental near-dup detection — the 100 TB shape of dedup: a NEW
    * batch probes an EXISTING corpus index (rows from [[lshIndexEntries]])
    * without ever touching corpus text. The batch computes its own entries
    * (scan speed), equi-joins the index on (band, bkey) — hash-partitioned,
    * never all-pairs — and verifies candidates by minhash coordinate
    * agreement (an unbiased Jaccard estimate, σ = √(J(1−J)/16)) using the
    * signatures both entry sets carry. Returns one (new_id, old_id,
    * jaccard_est) row per matching pair with est ≥ threshold. Id spaces of
    * index and batch must be disjoint (equal ids are treated as the same
    * document and skipped).
    */
  def incrementalNearDups(index: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      n: Int = 3): DataFrame = {
    val k = minhashParams.size
    val probe = lshIndexEntries(batch, textCol, idCol, n).select(
      Seq(col(idCol).as("new_id"), col("band"), col("bkey")) ++
        (0 until k).map(i => col(s"mh$i").as(s"_n$i")): _*)
    val idx = index.select(
      Seq(col(idCol).as("old_id"), col("band"), col("bkey")) ++
        (0 until k).map(i => col(s"mh$i").as(s"_o$i")): _*)
    val agree = (0 until k)
      .map(i => when(col(s"_n$i") === col(s"_o$i"), 1).otherwise(0))
      .reduce(_ + _)
    probe.join(idx, Seq("band", "bkey"))
      .filter(col("new_id") =!= col("old_id"))
      .select(col("new_id"), col("old_id"),
        (agree.cast("double") / k.toDouble).as("jaccard_est"))
      .filter(col("jaccard_est") >= threshold)
      // a pair colliding in several bands reports once; est is a pure
      // function of the pair, so pair-distinct == row-distinct
      .distinct()
  }

  /** Batch rows that match nothing in the index — the rows whose content
    * actually enters the corpus. Append [[lshIndexEntries]] of exactly
    * these rows to the index table to keep it current for the next batch.
    */
  def incrementalSurvivors(index: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      n: Int = 3): DataFrame =
    batch.join(
      incrementalNearDups(index, batch, textCol, idCol, threshold, n)
        .select(col("new_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Full MinHash-LSH near-dup pipeline: signatures → bands → candidates →
    * exact-Jaccard verify ≥ threshold (array-intersect verify — see
    * [[jaccardOfPairsByDocset]]).
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val cands = lshCandidates(
      lshBands(minhashSignatureFromText(df, textCol, idCol), idCol), idCol)
    jaccardOfPairsByDocset(cands, df, textCol, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT n-gram Jaccard near-dup pairs via PREFIX FILTERING (the AllPairs/
    * PPJoin family, Bayardo et al., WWW'07) — lossless, and the web-scale
    * formulation of the all-pairs similarity join:
    *
    *   1. global shingle order by (document frequency, hash) — rarest first;
    *   2. each doc indexes only its PREFIX: the first |A| − ⌈t·|A|⌉ + 1
    *      shingles in that order. Any pair with J ≥ t has overlap
    *      ≥ ⌈t·max(|A|,|B|)⌉, which cannot fit entirely in the suffix, so a
    *      qualifying pair always collides on (full probe ⋈ prefix index);
    *   3. candidates are verified EXACTLY with `array_intersect` over the
    *      per-doc sorted hash-set arrays — O(candidates · |doc|), no second
    *      postings self-join.
    *
    * The quadratic term drops from Σ_h df(h)² to Σ_h df(h)·df_prefix(h),
    * and prefix postings concentrate on RARE shingles (low df) by
    * construction — at web scale this is the difference between a feasible
    * join and a stop-word-driven blowup. Results are bit-identical to the
    * naive inverted-index join (same pairs, same jaccard doubles).
    */
  def ngramJaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    // postings feed FOUR consumers (docsets, document frequencies, the
    // prefix rank, the full probe) — materialize the shingle+hash pass once
    // (at scale you'd persist this table anyway; recomputing the codegen'd
    // explode per consumer triples the dominant scan cost)
    val postings = materialize(shingleHashes(df, textCol, idCol, n))
    // per-doc sorted hash-set array + size (postings are already distinct);
    // persisted because THREE consumers read it (the two size lookups and
    // the double verify join) — otherwise the collect_list shuffle reruns
    // per consumer
    val docsets = persistForReuse(postings.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
      .withColumn("sz", size(col("hs"))))
    val prefix = prefixPostings(postings, idCol, threshold)
    // probe = FULL postings (re-exploded from the persisted docsets, which
    // carry the size inline); index = prefix postings; length-ratio
    // prefilter (J ≤ min/max of sizes) prunes before the distinct
    val full = docsets.select(col(idCol), col("sz"),
      explode(col("hs")).as("h"))
    val cands = full.select(col(idCol).as("id_a"), col("h"), col("sz").as("sz_a"))
      .join(prefix.select(col(idCol).as("id_b"), col("h"), col("sz").as("sz_b")),
        Seq("h"))
      .filter(col("id_a") =!= col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          greatest(col("sz_a"), col("sz_b")) * threshold - 1)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    cands
      .join(docsets.select(col(idCol).as("id_a"), col("hs").as("hs_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(docsets.select(col(idCol).as("id_b"), col("hs").as("hs_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("common", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-doc rarest-first prefix postings — the AllPairs (Bayardo et al.,
    * WWW'07) candidate index. For each doc, the sz − ⌈t·sz⌉ + 1 shingles
    * with the LOWEST document frequency: two docs with Jaccard ≥ t MUST
    * share at least one of either's prefix entries, so probing the full
    * postings against only these is lossless.
    *
    * Built WITHOUT a window: collect each doc's (df, h) pairs once and sort
    * the ~|doc|-element array in memory — sort_array on the struct orders by
    * (df asc, h asc), exactly the rarest-first AllPairs order — then slice.
    * Replaces the window formulation's full partition sort and both size
    * join-backs with one groupBy; the array length IS sz (postings are
    * distinct), so no size table is touched.
    */
  private[graft] def prefixPostings(postings: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val dfreq = postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
    postings.join(dfreq, Seq("h"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("_a"))
      .select(col(idCol), size(col("_a")).as("sz"),
        explode(expr(
          "transform(slice(_a, 1, cast(size(_a) - ceil(size(_a) * " +
            s"$threshold) + 1 as int)), s -> s.h)")).as("h"))
  }

  /** Candidate-generation workload A/B of the two exact AllPairs
    * formulations, measured — not timed — so the comparison is
    * deterministic and scale-explainable:
    *
    *   - `index_workload`  = Σ_h df(h)·(df(h)−1): cross-doc posting matches
    *     the inverted-index self-join ([[ngramJaccardPairs]]) generates.
    *     The Σdf² term that explodes on Zipfian corpora (stop-shingles).
    *   - `prefix_workload` = Σ_h df(h)·pdf(h) − pdf(h): matches the
    *     full-probe × prefix-index join ([[ngramJaccardPairsPrefix]])
    *     generates, where pdf is the PREFIX document frequency. Prefix
    *     entries are rarest-first by construction, so hot shingles — the
    *     ones with quadratic df — almost never appear in the index side.
    *
    * Both are computed EXACTLY from the two (small) frequency tables, no
    * explosive join executed; the distinct candidate-pair counts (what
    * survives to verification) come from the real joins. One row out.
    */
  def prefixVsIndexCandidateStats(df: DataFrame, textCol: String,
      idCol: String, threshold: Double, n: Int = 3): DataFrame = {
    val postings = materialize(shingleHashes(df, textCol, idCol, n))
    val prefix = materialize(prefixPostings(postings, idCol, threshold))
    val dfreq = postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val pdf = prefix.groupBy(col("h")).agg(count(lit(1)).as("pdf"))
    val work = dfreq.join(pdf, Seq("h"), "left")
      .agg(
        sum(expr("df * (df - 1)")).as("index_workload"),
        sum(expr("df * coalesce(pdf, 0) - coalesce(pdf, 0)"))
          .as("prefix_workload"))
    val ipairs = postings.select(col(idCol).as("a"), col("h"))
      .join(postings.select(col(idCol).as("b"), col("h")), Seq("h"))
      .filter(col("a") < col("b")).select(col("a"), col("b")).distinct()
      .agg(count(lit(1)).as("index_cand_pairs"))
    val ppairs = postings.select(col(idCol).as("a"), col("h"))
      .join(prefix.select(col(idCol).as("b"), col("h")), Seq("h"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct()
      .agg(count(lit(1)).as("prefix_cand_pairs"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    nDocs.crossJoin(work).crossJoin(ipairs).crossJoin(ppairs)
  }

  /** The inverted-index formulation (postings self-join) — the DEFAULT:
    * on corpora with near-uniform shingle frequencies (like the synthetic
    * test corpus) it beats the prefix-filter variant, whose df-ranking
    * stages only pay off under a Zipfian shingle distribution (real text).
    * Lossless for threshold > 0; fine while Σdf² stays tractable — switch
    * to [[ngramJaccardPairsPrefix]] when hot shingles dominate.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, n: Int = 3): DataFrame =
    jaccardPairsFromSizedPostings(
      sizedPostings(df, idCol,
        graft.functions.TextHashExprs.wordShingleHash31Set(col(textCol), n)),
      idCol, threshold)

  /** Asymmetric containment pairs: ordered (id_a, id_b) where at least
    * `num/den` of doc a's distinct shingles also appear in doc b —
    * C(A,B) = |A∩B| / |A|. The signal Jaccard misses: a short document
    * quoted verbatim inside a much longer one scores tiny Jaccard (union
    * is dominated by the long doc) but containment ≈ 1. Training pipelines
    * use it to catch quote-embedding, boilerplate wrapping, and test-set
    * passages pasted into larger pages.
    *
    * Same scale shape as [[ngramJaccardPairs]]: one codegen'd postings
    * pass, hash-partitioned equi-join on the shingle hash (never
    * all-pairs), count per ordered pair. The threshold is a RATIONAL
    * num/den compared in exact integer arithmetic (`common·den ≥ num·sz_a`)
    * so engine float rounding can never flip a boundary pair; the reported
    * score is then one IEEE division. The only extra cost vs Jaccard is
    * emitting both orders of each qualifying pair (containment is not
    * symmetric). At 100 TB apply the same df-cap escape hatch as
    * [[ngramJaccardPairsCapped]] before the self-join.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      num: Int, den: Int, n: Int = 3): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"threshold must be a rational in (0, 1]: $num/$den")
    val withSz = sizedPostings(df, idCol,
      graft.functions.TextHashExprs.wordShingleHash31Set(col(textCol), n))
    withSz.select(col(idCol).as("id_a"), col("h"), col("sz").as("sz_a"))
      .join(withSz.select(col(idCol).as("id_b"), col("h"),
        col("sz").as("sz_b")), Seq("h"))
      .filter(col("id_a") =!= col("id_b") &&
        // b must hold at least ceil(num/den · sz_a) shingles to contain a
        col("sz_b") * den >= col("sz_a") * num)
      .groupBy(col("id_a"), col("id_b"), col("sz_a"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") * den >= col("sz_a") * num)
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") / col("sz_a").cast("double"))
          .as("containment"))
  }

  /** The web-scale escape hatch for the postings self-join: drop shingles
    * whose document frequency exceeds `dfCap` BEFORE the join, bounding the
    * quadratic term at Σ_h min(df, cap)² — on a Zipfian corpus this removes
    * the stop-shingle blowup that makes Σdf² infeasible. APPROXIMATE:
    * a pair's common/union counts are computed over surviving shingles
    * only, so reported jaccard drifts for pairs dominated by hot shingles
    * (boilerplate), while pairs sharing RARE shingles — the ones near-dup
    * detection is for — keep their scores (measured in DedupSpec). Use the
    * exact operators when the corpus fits them.
    */
  def ngramJaccardPairsCapped(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, dfCap: Long, n: Int = 3): DataFrame = {
    require(dfCap >= 2, s"dfCap must be >= 2 (a df-1 shingle pairs nothing), got $dfCap")
    val posts = sizedPostings(df, idCol,
      graft.functions.TextHashExprs.wordShingleHash31Set(col(textCol), n))
    // Document frequency must NOT be a window partitioned by h: an
    // unordered window does no partial aggregation, so every posting of a
    // shingle lands on ONE task before the cap filter runs — on the
    // Zipfian corpora this operator targets, the hottest shingle
    // (df ~ 1e8+ at 100 TB) is exactly the stop-shingle blowup the cap is
    // meant to remove, paid inside the cap's own computation. Instead:
    // groupBy(h).count map-side-combines the hot key down to one row per
    // partition, and only the HOT set (df > cap) is kept — its cardinality
    // is bounded by totalPostings/dfCap and in a Zipf head it is tiny, so
    // dropping hot postings is a broadcast ANTI-join: scan-speed, no
    // posting-scale shuffle at all for the df filter. (The hint is left to
    // AQE rather than forced: if a pathological cap makes the hot set
    // large, a shuffled anti-join with AQE skew-split is still safe,
    // unlike the window.) The per-doc SURVIVING size stays a window —
    // jaccard denominators must not count dropped shingles, and that
    // partition is bounded by a single document's shingle count. Persisted
    // because the downstream self-join reads the sized postings TWICE.
    val hot = posts.groupBy(col("h")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > dfCap)
      .select(col("h"))
    val kept = posts.join(hot, Seq("h"), "left_anti")
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .select(col(idCol), col("sz"), col("h"))
    jaccardPairsFromSizedPostings(persistForReuse(kept), idCol, threshold)
  }

  /** (id, sz, h) postings from a hash-SET column, with the set size computed
    * INLINE (the array length is free once the set is in hand) — replaces
    * the groupBy-count + join-back over the exploded rows, which
    * re-evaluated the whole shingle+md5 pass once more per use. Shared by
    * the word- and char-shingle pipelines.
    */
  private[graft] def sizedPostings(df: DataFrame, idCol: String,
      hashSet: Column): DataFrame =
    fanOutNarrow(df).select(col(idCol), hashSet.as("_hs"))
      .select(col(idCol), size(col("_hs")).as("sz"),
        explode(col("_hs")).as("h"))
      // the pair pipeline self-joins these postings: materialize the
      // shingle+hash pass once instead of recomputing it per join branch
      .transform(materialize)

  /** Exact shared-window detection — the "exact substring duplication"
    * signal of Lee et al., Deduplicating Training Data Makes Language Models
    * Better (ACL 2022), at window granularity: document pairs sharing at
    * least `minShared` DISTINCT exact k-token windows. Unlike the Jaccard
    * pipeline this reports absolute overlap mass (a 50-token boilerplate
    * header shared by two otherwise-different docs scores 41 windows but a
    * tiny Jaccard), which is the signal used to cut exact-duplicated spans.
    *
    * Same inverted-index shape as [[ngramJaccardPairs]]: one codegen'd
    * postings pass, equi-join on the window hash (hash-partitioned — never
    * a cartesian), count per pair. Window identity is at the 31-bit hash
    * level, like every postings op here (the oracle hashes identically).
    * At 100 TB, windows with document frequency above a cap carry no pair
    * information and should be dropped before the self-join.
    */
  def sharedWindowPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 10, minShared: Long = 1L): DataFrame = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // self-joined below — materialize the window-hash pass once
    val posts = materialize(shingleHashes(df, textCol, idCol, k))
    val a = posts.select(col(idCol).as("id_a"), col("h"))
    val b = posts.select(col(idCol).as("id_b"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= minShared)
  }

  /** N-gram-level decontamination — the benchmark-overlap rule used for
    * LLM training sets: drop a training document iff it shares ANY k-token
    * window with the held-out set. Stricter than whole-document
    * [[decontaminate]]: it catches verbatim test items embedded inside
    * otherwise-novel documents. Shape: the train side's window hashes are
    * a codegen'd scan-speed pass; the test side collapses to its DISTINCT
    * window hashes (bounded by the held-out set, so AQE broadcasts it);
    * flagged ids come from one hash semi-join, survivors from one
    * anti-join. No all-pairs term anywhere — at 100 TB this is two
    * scan-shaped passes and a broadcast.
    */
  def decontaminateNgram(train: DataFrame, test: DataFrame, textCol: String,
      idCol: String, k: Int = 13): DataFrame = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    val testW = test.select(
      explode(graft.functions.TextHashExprs.wordShingleHash31Set(
        col(textCol), k)).as("h")).distinct()
    val flagged = shingleHashes(train, textCol, idCol, k)
      .join(testW, Seq("h"), "left_semi")
      .select(col(idCol)).distinct()
    train.join(flagged, Seq(idCol), "left_anti")
  }

  /** Character-shingle variant for unsegmented scripts (CJK, no word
    * boundaries): same inverted-index pipeline over distinct char n-gram
    * hashes of the normalized text. Use n ≈ 5 for the usual precision/recall
    * balance (char 5-grams ≈ word bigrams on English).
    */
  def charNgramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, n: Int = 5): DataFrame =
    // normalization stays on composed codegen'd built-ins; the codegen'd
    // set expression handles shingle + hash + per-doc dedup in one pass
    jaccardPairsFromSizedPostings(
      sizedPostings(df, idCol,
        graft.functions.TextHashExprs.charShingleHash31Set(
          TextAnalysis.normalize(col(textCol)), n)),
      idCol, threshold)

  /** Core inverted-index pair pipeline over (id, sz, h) rows.
    *
    * The length-ratio prefilter — J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so
    * pairs whose set sizes differ by more than the threshold ratio can't
    * qualify — uses the inline sz columns; slack of 1 keeps the bound safely
    * conservative under float rounding. A pure pruning condition: results
    * (and the oracle) are unchanged.
    */
  private[graft] def jaccardPairsFromSizedPostings(withSz: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    // sz_a/sz_b are functionally dependent on id_a/id_b and already ride
    // through the h-join for the prefilter — grouping by them too makes the
    // union size available at aggregation time with NO re-join of `sizes`
    // (saves two joins over the candidate-pair table)
    withSz.select(col(idCol).as("id_a"), col("h"), col("sz").as("sz_a"))
      .join(withSz.select(col(idCol).as("id_b"), col("h"), col("sz").as("sz_b")), Seq("h"))
      .filter(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          greatest(col("sz_a"), col("sz_b")) * threshold - 1)
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over near-dup pairs by iterative min-label
    * propagation (the dataframe formulation of large-star/small-star CC):
    * each node repeatedly adopts the smallest label among itself and its
    * neighbors until fixpoint. Iterations ≤ graph diameter ≤ O(log n) for
    * near-dup clusters (which are small and dense in practice); each
    * iteration is one join + one aggregate — fully distributed, the only
    * driver-side work is the convergence check.
    *
    * Returns (id, root) for every node that appears in `pairs`, where root =
    * the minimum id of its component.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // materialize the (small) edge list ONCE — every iteration would
    // otherwise recompute the full upstream pair pipeline
    val edges = materialize(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    // fold the first neighbor-min round into initialization: root₀ =
    // min(id, min neighbor) costs the same single shuffle as building the
    // distinct node set, and for the dominant case (tiny components that
    // settle in one round) it saves an entire join+aggregate+jump iteration
    var labels = materialize(
      edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("_mn"))
        .select(col("id"), least(col("id"), col("_mn")).as("root")))
    // neighbor-min + pointer jumping per round (diameter halves each round →
    // O(log d) rounds); materializing each round truncates/pins lineage so
    // the plan stays bounded (a fully lazy formulation doubles the plan per
    // round via the self-join) and each round's job touches only the tiny
    // materialized label/edge tables. Strategy per [[materialize]].
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .select(col("src").as("id"), col("root"))
      val m = labels.unionByName(viaNeighbors)
        .groupBy(col("id")).agg(min(col("root")).as("root"))
      // pointer jump + carry the previous label so the convergence check is
      // a filter over the SAME checkpointed rows — one job per round instead
      // of a second join pipeline just to compare labels
      val next = m
        .join(m.select(col("id").as("r2"), col("root").as("rootRoot")),
          col("root") === col("r2"))
        .select(col("id"), col("rootRoot").as("root"))
        .join(labels.select(col("id"), col("root").as("_old")), Seq("id"))
        .transform(materialize)
      // ONE full-scan aggregate instead of isEmpty: take(1) on the filtered
      // frame needs a second, growing partition sweep exactly on the
      // CONVERGED round (no changed row exists, so it scans everything
      // anyway) — the count touches the same checkpointed rows once and
      // always costs one job
      converged = next
        .agg(count(when(col("root") =!= col("_old"), 1)).as("_c"))
        .head().getLong(0) == 0L
      labels = next.select(col("id"), col("root"))
      i += 1
    }
    // Unconverged labels are silently WRONG (a near-dup doc could survive
    // dedup with no signal) — fail loudly instead. Pointer jumping halves the
    // diameter each round, so 25 rounds covers components of diameter ~2^25.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter iterations; " +
          "raise maxIter (diameter handled grows as 2^maxIter)")
    labels
  }

  /** End-to-end near-dup dedup: compute pairs (exact n-gram Jaccard), cluster
    * them, keep each component's minimum id plus every unpaired doc.
    */
  def dedupNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, n: Int = 3): DataFrame =
    survivorsFromPairs(df, idCol,
      ngramJaccardPairs(df, textCol, idCol, threshold, n))

  /** Survivors from ANY (id_a, id_b) near-dup pair source: cluster, keep
    * each component's minimum id plus every unpaired doc. This is the seam
    * that makes the SCALE-PATH candidate generators ([[minhashLshPairs]],
    * [[ngramJaccardPairsCapped]], [[ngramJaccardPairsPrefix]],
    * [[simhashPairs]]) drop-in survivor sources: at 100 TB the exact Σdf²
    * postings self-join is the one stage that cannot run, and the dedup
    * decision layer must not be welded to it.
    */
  def survivorsFromPairs(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("id") =!= col("root"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Survivor selection by QUALITY: keep each near-dup component's
    * best-`score` member (ties to the lowest id) instead of its lowest id
    * — the policy real curation pipelines run ("keep the longest/highest-
    * quality duplicate"), on the same clustering seam as
    * [[survivorsFromPairs]]. `score` must be a deterministic expression
    * over `df`'s columns (both engines must rank identically).
    *
    * The winner is one partial+final `max(struct(score, -id))` per
    * component — no per-component window, so a viral mega-cluster
    * collapses map-side like everything else in this family.
    */
  def survivorsFromPairsBy(df: DataFrame, idCol: String,
      pairs: DataFrame, score: Column): DataFrame = {
    val comps = connectedComponents(pairs) // (id, root)
    val members = comps.join(
      df.select(col(idCol).as("id"), score.as("_q")), Seq("id"))
    val winners = members.groupBy(col("root"))
      .agg(max(struct(col("_q"), (-col("id")).as("_nid"))).as("_w"))
      .select((-col("_w._nid")).as("_keep"))
    val losers = comps.join(winners, comps("id") === winners("_keep"),
        "left_anti")
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** 32-bit SimHash over term-frequency-weighted token hashes: bit i is set
    * iff Σ_tokens (2·bitᵢ(h) − 1) ≥ 0. Single groupBy pass with 32 partial
    * sums.
    */
  def simhash32(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashN(df, textCol, idCol, 32)

  /** 60-bit variant (the md5-derived hash's full width — bits above 59 are
    * never set, so don't assign them to blocking chunks): nearly halves the
    * per-chunk random-collision rate vs 32 bits; prefer it for corpora
    * beyond ~10⁸ documents where 32-bit signatures collide by birthday
    * alone.
    */
  def simhash60(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashN(df, textCol, idCol, 60)

  private def simhashN(df: DataFrame, textCol: String, idCol: String,
      bits: Int): DataFrame =
    // pure per-row function of the text (codegen'd graft.functions.SimHash):
    // a narrow projection at scan speed, where the explode + 32-sum groupBy
    // formulation shuffled every (doc, token) row
    df.select(col(idCol),
      graft.functions.TextHashExprs.simHash(col(textCol), bits).as("simhash"))

  /** SimHash near-dup pairs: block on `maxHamming + 1` bit chunks —
    * pigeonhole guarantees a pair within the Hamming budget agrees on at
    * least one full chunk, so the blocking is lossless for ANY budget < 32.
    * Chunk count adapts to the budget: a small budget gets few, wide chunks
    * (longer keys → fewer spurious collisions); verification is exact
    * (`bit_count(xor) <= maxHamming`).
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32) (got $maxHamming)")
    val k = maxHamming + 1
    // nearly-equal bit ranges covering all 32 bits: chunk c = bits
    // [32c/k, 32(c+1)/k)
    val ranges = (0 until k).map { c =>
      val start = 32 * c / k
      val width = 32 * (c + 1) / k - start
      (c, start, width)
    }
    val sig = simhash32(df, textCol, idCol)
    val chunks = sig.select(col(idCol), col("simhash"),
      explode(array(ranges.map { case (c, start, width) =>
        struct(lit(c).as("chunk"),
          (shiftright(col("simhash"), start) % (1L << width)).as("ckey"))
      }: _*)).as("cc"))
      .select(col(idCol), col("simhash"),
        col("cc.chunk").as("chunk"), col("cc.ckey").as("ckey"))
    val l = chunks.select(col("chunk"), col("ckey"),
      col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val r = chunks.select(col("chunk"), col("ckey"),
      col(idCol).as("id_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact duplicated-SUBSTRING spans — the ExactSubstr signal of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"
    * (ACL 2022), re-expressed distributed. Their suffix array finds
    * verbatim ≥50-token overlaps anywhere in the corpus; a suffix array
    * does not distribute, but the same signal falls out of POSITIONAL
    * k-token windows: a window position is duplicated iff its k-token
    * sequence occurs anywhere else in the corpus (another document, or
    * another offset of the same one), and any verbatim overlap of
    * length L ≥ k is exactly a run of L − k + 1 consecutive duplicated
    * positions. Runs whose position gap ≤ k cover a contiguous token
    * range, so merging them yields disjoint maximal SPANS with exact
    * token coverage `min(p2 − p1 + k, n_tokens − p1 + 1)` (the `min`
    * clamps the single sub-k-token-document window).
    *
    * Returns one row per document that contains at least one span:
    * (id, n_dup_spans, dup_tokens, max_span_tokens) — the per-doc signal
    * a cut-or-trim policy consumes (Lee et al. REMOVE the span, keeping
    * one copy; emitting the aggregate keeps the operator policy-neutral).
    *
    * 100 TB shape: the positional postings pass is one codegen'd
    * projection (O(total tokens), no distinct); occurrence counts are a
    * partial+final `groupBy(h)` (the hottest boilerplate shingle
    * collapses map-side, never on one task); the join-back is a hash
    * equi-join on the 60-bit window hash; the run-merge is one window
    * over doc id — bounded by document length, never corpus-wide. No
    * all-pairs anywhere. Collisions of the 60-bit hash conflate two
    * windows (~n²/2⁶¹) — the price of not shipping the strings twice.
    */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 4): DataFrame = {
    require(k >= 2, s"window size k must be >= 2 (got $k)")
    val pos = positionalWindowHashes(df, textCol, idCol, k)
    val occ = pos.groupBy(col("h")).agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") > 1)
    mergeRuns(pos.join(occ, Seq("h")), idCol, k)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("_span_tokens")).as("dup_tokens"),
        max(col("_span_tokens")).cast("long").as("max_span_tokens"))
  }

  /** (id, _nt, p, h): the 60-bit hash of the k-token window starting at
    * 1-based token position p, for every position. NOT distinct — the
    * positional index the span operators run on.
    *
    * The `id*1e6+p` keeper encoding every downstream consumer builds
    * (trim keeper min-agg, [[spanIndexEntriesFromPos]]'s persisted `keep`
    * field) is only injective while p < 1e6 — enforce the bound HERE, at
    * the single producer of positions, so an oversized document fails
    * loudly in every pipeline instead of silently corrupting whichever
    * index/keeper field it reaches first.
    */
  private[graft] def positionalWindowHashes(df: DataFrame, textCol: String,
      idCol: String, k: Int): DataFrame = {
    val toks = graft.operators.TextAnalysis.tokens(col(textCol))
    materialize(fanOutNarrow(df)
      .select(col(idCol),
        when(size(toks) >= 1000000, raise_error(lit(
          "span dedup: document exceeds 1e6 tokens — the id*1e6+p keeper " +
            "encoding would collide; split the document or raise the base")))
          .otherwise(size(toks)).as("_nt"),
        posexplode(graft.functions.TextHashExprs
          .wordWindowHash60Array(col(textCol), k)))
      .select(col(idCol), col("_nt"), (col("pos") + 1).as("p"),
        col("col").as("h")))
  }

  /** Merge a set of flagged positions into maximal spans: runs whose
    * position gap ≤ k cover a contiguous token range, so each output row
    * is a disjoint span with exact coverage `_span_tokens` starting at
    * `_p1`. One window over the doc id — bounded by document length.
    */
  private def mergeRuns(flagged: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("p"))
    flagged
      .withColumn("_new",
        when(col("p") - lag(col("p"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("_run", sum(col("_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_run"))
      .agg(min(col("p")).as("_p1"), max(col("p")).as("_p2"),
        first(col("_nt")).as("_nt"))
      .withColumn("_span_tokens",
        least(col("_p2") - col("_p1") + k, col("_nt") - col("_p1") + 1))
  }

  /** APPLY the ExactSubstr policy ([[duplicatedSpans]] is the signal;
    * this is the cut): every k-token window occurrence EXCEPT the
    * corpus-global first one (lowest (id, position), encoded as
    * `id * 1e6 + p` so the keeper survives a partial-agg `min` — no
    * per-hash window, no hot-key task) is REMOVABLE; removable positions
    * merge into spans exactly like the signal operator, and the covered
    * tokens are cut from the document. Returns every document with
    * (n_tokens, n_tokens_kept, text_trimmed) — `text_trimmed` is the
    * surviving tokens space-joined in order, possibly empty for a
    * document that is verbatim duplicate material end to end.
    *
    * Token positions are capped at 1e6 per document by the keeper
    * encoding (`require`d) — generous for any training document.
    *
    * Policy note (shared by Lee et al.'s range cutting): a token covered
    * by both a keeper window and a removable one is still cut; the
    * keeper's content survives at its own first-occurrence site.
    */
  def trimDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 4): DataFrame = {
    require(k >= 2, s"window size k must be >= 2 (got $k)")
    val pos = positionalWindowHashes(df, textCol, idCol, k)
    val firsts = pos.groupBy(col("h")).agg(
      count(lit(1)).as("_occ"),
      min(col(idCol) * 1000000L + col("p")).as("_keep"))
    val removable = pos.join(firsts, Seq("h"))
      .filter(col("_occ") > 1 &&
        col(idCol) * 1000000L + col("p") =!= col("_keep"))
    cutSpans(df, removable, textCol, idCol, k)
  }

  /** Shared tail of the cut operators: merge `removable` positions into
    * spans, cut the covered tokens out of each document's text, and emit
    * (id, n_tokens, n_tokens_kept, text_trimmed) for EVERY document.
    */
  private def cutSpans(df: DataFrame, removable: DataFrame, textCol: String,
      idCol: String, k: Int): DataFrame = {
    val spans = mergeRuns(removable, idCol, k)
      .withColumn("_pe", col("_p1") + col("_span_tokens") - 1)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("_p1"), col("_pe"))).as("_spans"))
    val toks = graft.operators.TextAnalysis.tokens(col(textCol))
    // fan the single-file scan out: the span-containment filter below runs
    // as interpreted HOF lambdas — parallelism, not codegen, bounds it
    fanOutNarrow(df).select(col(idCol), toks.as("_toks"), size(toks).as("_nt"))
      .join(spans, Seq(idCol), "left")
      .withColumn("_kept",
        when(col("_spans").isNull, col("_toks"))
          .otherwise(filter(col("_toks"), (x, i) =>
            !exists(col("_spans"),
              sp => (i + 1) >= sp("_p1") && (i + 1) <= sp("_pe")))))
      .select(col(idCol),
        when(col("_nt") >= 1000000, raise_error(lit(
          "span trim: document exceeds 1e6 tokens")))
          .otherwise(col("_nt")).cast("long").as("n_tokens"),
        size(col("_kept")).cast("long").as("n_tokens_kept"),
        concat_ws(" ", col("_kept")).as("text_trimmed"))
  }

  /** The persisted INDEX for steady-state span dedup: one row per distinct
    * k-token window hash in the corpus, with its occurrence count and its
    * keeper encoding (`min(id·1e6 + p)`). Size = O(distinct windows);
    * probe-able by equi-join — the batch never re-reads corpus text.
    */
  def spanIndexEntries(df: DataFrame, textCol: String, idCol: String,
      k: Int = 4): DataFrame =
    spanIndexEntriesFromPos(positionalWindowHashes(df, textCol, idCol, k),
      idCol)

  private[graft] def spanIndexEntriesFromPos(pos: DataFrame,
      idCol: String): DataFrame =
    pos.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"),
        min(col(idCol) * 1000000L + col("p")).as("keep"))

  /** STEADY-STATE span trim: cut an incoming batch against a persisted
    * [[spanIndexEntries]] index without re-reading the corpus. A batch
    * window is removable iff its hash exists in the index (the corpus
    * already holds that content — the corpus keeper wins uncondition-
    * ally), or it duplicates within the batch and is not the batch's own
    * first occurrence. When every corpus id precedes every batch id, the
    * result is row-identical to [[trimDuplicatedSpans]] over corpus ∪
    * batch restricted to batch documents (spec-proven); under id
    * interleaving the policies differ only in WHICH copy survives —
    * steady-state ingestion wants exactly this corpus-wins rule.
    *
    * 100 TB shape: positional postings of the BATCH only; one partial-agg
    * groupBy over batch hashes; one equi-join probe into the index — the
    * same probe-the-index discipline as [[incrementalNearDups]].
    */
  def incrementalSpanTrim(index: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, k: Int = 4): DataFrame =
    incrementalSpanTrimFromPos(index, batch,
      positionalWindowHashes(batch, textCol, idCol, k), textCol, idCol, k)

  /** [[incrementalSpanTrim]] with the batch's positional postings supplied
    * by the caller — lets a streaming composition compute them ONCE per
    * micro-batch and share them between the trim and the index commit.
    */
  private[graft] def incrementalSpanTrimFromPos(index: DataFrame,
      batch: DataFrame, pos: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    incrementalSpanTrimFromParts(index, batch, pos,
      batchWindowFirsts(pos, idCol), textCol, idCol, k)

  /** The batch's per-hash occurrence count + first-occurrence keeper — the
    * ONE aggregate the streaming composition shares between the trim, the
    * index probe, and the index commit (it IS [[spanIndexEntriesFromPos]]
    * under the `_bocc/_bkeep` names).
    */
  private[graft] def batchWindowFirsts(pos: DataFrame,
      idCol: String): DataFrame =
    pos.groupBy(col("h")).agg(
      count(lit(1)).as("_bocc"),
      min(col(idCol) * 1000000L + col("p")).as("_bkeep"))

  /** [[incrementalSpanTrimFromPos]] with the per-hash aggregate supplied by
    * the caller too — lets [[graft.streaming.StreamingIngest.spanTrimStream]]
    * compute it once per micro-batch and reuse it three ways.
    */
  private[graft] def incrementalSpanTrimFromParts(index: DataFrame,
      batch: DataFrame, pos: DataFrame, bf: DataFrame, textCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 2, s"window size k must be >= 2 (got $k)")
    val removable = pos
      .join(bf, Seq("h"))
      .join(index.select(col("h"), lit(true).as("_inIdx")), Seq("h"), "left")
      .filter(col("_inIdx").isNotNull ||
        (col("_bocc") > 1 &&
          col(idCol) * 1000000L + col("p") =!= col("_bkeep")))
    cutSpans(batch, removable, textCol, idCol, k)
  }
}
