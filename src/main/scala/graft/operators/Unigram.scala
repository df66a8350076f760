package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** SentencePiece-style UNIGRAM-LM tokenizer (Kudo 2018, "Subword
  * Regularization") — the second tokenizer family next to BPE
  * ([[Bpe]]): start from a large substring candidate vocabulary, and
  * iterate (segment the corpus under current piece scores → re-estimate
  * scores from usage → prune pieces the segmentation stopped using).
  * This implementation is the HARD-EM (Viterbi) variant with exact
  * integer likelihood proxies, so the DuckDB oracle replays every
  * training round bit-for-bit — the published algorithm's soft-EM
  * E-step sums float probabilities over all segmentations, which no
  * cross-engine hash could survive (documented deviation; hard-EM is
  * the standard deterministic simplification).
  *
  * Exactness contract (the bits-proxy discipline of
  * [[NgramLm]]/[[QualityModel]]):
  *
  *   - piece score = surprisal proxy `bits(total) − bits(count)`
  *     (integers; bits(x) = ⌊log2 x⌋ = length(bin(x)) − 1 in both
  *     engines); smaller = more likely;
  *   - Viterbi DP per DISTINCT word minimizes Σ piece-surprisal with a
  *     TOTAL tie-break: dp states are strings
  *     `zero-padded-cost ":" pieces-so-far` and each step takes the
  *     lexicographic MIN over candidate extensions — (cost, path)
  *     ordering, identical under Spark's and DuckDB's binary string
  *     comparison, so the chosen segmentation (not just its cost) is
  *     engine-identical;
  *   - re-estimation uses add-one-smoothed usage over survivors
  *     (`usage + 1`, exact integers) so never-used singles keep a
  *     finite score;
  *   - pruning drops multi-char pieces with usage < [[PruneMin]];
  *     single chars are never pruned (coverage guarantee — the DP is
  *     always feasible on the training alphabet).
  *
  * Scale shape: everything heavy runs at the DISTINCT-WORD grain (Zipf:
  * thousands of distinct words per billions of tokens) — one explode +
  * partial-agg groupBy for word counts, then per-round one narrow DP
  * projection over the words table with the piece table riding as a
  * PLAN-LITERAL map (the broadcast-lookup shape; capped at
  * [[CandidateCap]] with a loud refusal — SentencePiece itself caps its
  * seed vocabulary the same way). Only vocab-bounded usage tables reach
  * the driver. Document assembly is one broadcast join from corpus
  * words to the segmented distinct words.
  */
object Unigram {

  val MaxPieceLen = 4
  val MinFreq = 2L
  val Rounds = 2
  val PruneMin = 2L
  val PadW = 6
  val CandidateCap = 20000

  private def bitsOf(n: Long): Long = {
    require(n >= 1, "bits of non-positive count")
    63L - java.lang.Long.numberOfLeadingZeros(n)
  }

  /** (word, cnt) — distinct corpus words with occurrence counts. */
  def distinctWords(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** The Viterbi DP over a words DataFrame: one NAMED column per
    * position (`_k0.._kN`) chained with withColumn, so each level is a
    * shared node in the expression DAG — inlining dp(i−1..i−4) into
    * dp(i) as subtrees would duplicate every level up to 8× and the
    * tree (and its generated code) would grow exponentially in
    * `maxWordLen`. State strings are "padded-cost : pieces… ";
    * lexicographic least() over ≤ [[MaxPieceLen]] candidate extensions
    * is the (cost, path) argmin. Adds `_k` = the final state; words
    * longer than `maxWordLen` must be refused by the caller.
    */
  private[graft] def segmented(words: DataFrame, wordCol: String,
      vocab: Map[String, Long], maxWordLen: Int): DataFrame = {
    val vLit = typedLit(vocab)
    val word = col(wordCol)
    val len = length(word)
    var cur = words.withColumn("_k0",
      concat(lpad(lit("0"), PadW, "0"), lit(":")))
    for (i <- 1 to maxWordLen) {
      val cands = (1 to math.min(MaxPieceLen, i)).map { l =>
        val j = i - l
        val piece = substring(word, j + 1, l)
        val s = try_element_at(vLit, piece)
        val prev = col(s"_k$j")
        val prevCost = substring(prev, 1, PadW).cast("long")
        when(len >= i && s.isNotNull,
          concat(lpad((prevCost + s).cast("string"), PadW, "0"), lit(":"),
            substring(prev, PadW + 2, Int.MaxValue - PadW - 2),
            piece, lit(" ")))
          .otherwise(lit(null).cast("string"))
      }
      cur = cur.withColumn(s"_k$i",
        if (cands.size == 1) cands.head else least(cands: _*))
    }
    cur.withColumn("_k",
        (1 to maxWordLen).foldLeft(lit(null).cast("string")) { (acc, i) =>
          when(len === i, col(s"_k$i")).otherwise(acc)
        })
      .drop((0 to maxWordLen).map(i => s"_k$i"): _*)
  }

  /** The trained tokenizer: final piece scores + the rounds' vocabulary
    * sizes (for inspection/specs).
    */
  final case class Trained(scores: Map[String, Long],
      roundSizes: Seq[Int], maxWordLen: Int)

  /** Learn the unigram vocabulary on `df`'s text column. */
  def learn(df: DataFrame, textCol: String, maxWordLen: Int = 16): Trained = {
    val words = GraftSession.persistForReuse(distinctWords(df, textCol))
    val tooLong = words.filter(length(col("word")) > maxWordLen).count()
    require(tooLong == 0L,
      s"$tooLong distinct words exceed maxWordLen=$maxWordLen — raise it " +
        "(the DP unroll is maxWordLen columns)")
    // candidate substrings, frequency-weighted by word occurrence counts
    val cands = words
      .select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
           |  i -> transform(sequence(1, least($MaxPieceLen,
           |         length(word) - i + 1)),
           |    l -> substring(word, i, l))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("freq"))
      .filter(length(col("piece")) === 1 || col("freq") >= MinFreq)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(cands.length <= CandidateCap,
      s"${cands.length} candidate pieces exceed CandidateCap=$CandidateCap " +
        "— raise MinFreq or the cap")
    val total0 = cands.map(_._2).sum
    var vocab: Map[String, Long] =
      cands.map { case (p, f) => p -> (bitsOf(total0) - bitsOf(f)) }.toMap
    val sizes = scala.collection.mutable.ArrayBuffer[Int](vocab.size)
    for (_ <- 1 to Rounds) {
      val seg = segmented(words, "word", vocab, maxWordLen)
        .select(col("cnt"), col("_k"))
      val usage = seg
        .select(col("cnt"), explode(filter(
          split(substring(col("_k"), PadW + 2, Int.MaxValue - PadW - 2), " "),
          p => p =!= "")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("u"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val survivors = vocab.keys.filter(p =>
        p.length == 1 || usage.getOrElse(p, 0L) >= PruneMin).toSeq
      val u1 = survivors.map(p => p -> (usage.getOrElse(p, 0L) + 1L))
      val total = u1.map(_._2).sum
      vocab = u1.map { case (p, u) => p -> (bitsOf(total) - bitsOf(u)) }.toMap
      sizes += vocab.size
    }
    words.unpersist()
    Trained(vocab, sizes.toSeq, maxWordLen)
  }

  /** Tokenize every document under a trained vocabulary: per doc the
    * word count, total piece count, and the order-free Σ hash60(piece)
    * checksum (the BPE-index reporting shape). One DP projection over
    * distinct words + one broadcast join back to the corpus words.
    */
  def tokenize(df: DataFrame, textCol: String, idCol: String,
      m: Trained): DataFrame = {
    val words = distinctWords(df, textCol)
    val seg = segmented(words, "word", m.scores, m.maxWordLen)
      .select(col("word"), filter(
        split(substring(col("_k"), PadW + 2, Int.MaxValue - PadW - 2), " "),
        p => p =!= "").as("_pieces"))
      .select(col("word"),
        size(col("_pieces")).cast("long").as("_np"),
        // hash60 is reduced mod 1000003 BEFORE summing: raw 60-bit hashes
        // summed over a document's pieces would wrap a Long
        aggregate(col("_pieces"), lit(0L),
          (acc, p) => acc + Shingles.hash60(p) % 1000003L).as("_hs"))
    df.select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .join(broadcast(seg), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_np")).as("n_pieces"),
        sum(col("_hs")).as("piece_hash_sum"))
  }
}
