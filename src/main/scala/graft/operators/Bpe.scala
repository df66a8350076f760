package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Byte-pair-encoding tokenizer APPLY (Sennrich, Haddow & Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016 — the
  * public algorithm every modern LLM tokenizer descends from): words start
  * as character-symbol sequences and a learned MERGES table is applied in
  * rank order, each merge rewriting every left-to-right non-overlapping
  * occurrence of its symbol pair into one new symbol.
  *
  * Design for exactness and scale:
  *
  *   - merge OUTPUTS are single private-use-area codepoints (U+E000 + rank),
  *     so a symbol sequence is always literally a string with one char per
  *     symbol. Applying merge i is then EXACTLY a leftmost-non-overlapping
  *     string `replace` — which is how the DuckDB oracle reproduces the
  *     whole encoder as a replace chain, hash-identically, with the merges
  *     table as the single source of truth for both engines;
  *   - merge pairs never contain whitespace, so word boundaries need no
  *     special-casing: a pair cannot match across a space;
  *   - the encode runs as ONE mapPartitions pass (narrow, fused with the
  *     scan, no shuffle, no UDF registry) with the merges table in the task
  *     closure — the 100 TB shape is "tokenize at scan speed, aggregate
  *     counts after".
  *
  * Token IDS are the symbol codepoints themselves (base char → its
  * codepoint, merge i → 0xE000+i): stable, engine-reproducible integers.
  */
object Bpe {

  /** Merge output symbol for rank i. */
  val MergeBase = 0xE000

  /** The in-repo merges table, rank order = application order. Later pairs
    * reference earlier outputs by their U+E000+rank symbol (e.g. rank 1
    * merges rank 0's "th" with "e" into "the"). Chosen for the bench
    * corpus's vocabulary, but the operator is table-generic.
    */
  val DefaultMergePairs: IndexedSeq[(String, String)] = IndexedSeq(
    "t" -> "h", // 0: th
    "\uE000" -> "e", // 1: the
    "e" -> "r", // 2: er (order, merge, filter, customer)
    "i" -> "n", // 3: in (window, join, line)
    "\uE003" -> "e", // 4: ine (line)
    "a" -> "t", // 5: at (data, batch)
    "s" -> "t", // 6: st (stream, fast)
    "o" -> "w", // 7: ow (window, row, slow)
    "a" -> "n", // 8: an (scan)
    "q" -> "u") // 9: qu (query)

  /** (left, right, output) codepoint triples in rank order. */
  val DefaultMerges: IndexedSeq[(Int, Int, Int)] =
    DefaultMergePairs.zipWithIndex.map { case ((l, r), i) =>
      require(l.codePointCount(0, l.length) == 1 &&
        r.codePointCount(0, r.length) == 1,
        s"merge pair ($l, $r) must be single-codepoint symbols")
      require(!l.exists(_.isWhitespace) && !r.exists(_.isWhitespace),
        "merge pairs must not contain whitespace")
      (l.codePointAt(0), r.codePointAt(0), MergeBase + i)
    }

  /** Reference apply — the literal Sennrich formulation: one left-to-right
    * non-overlapping rewrite pass PER MERGE, in rank order. O(V·len) per
    * word: correct at any table size but the wrong asymptotic regime at a
    * 32k-merge production vocabulary. Kept as the executable spec the fast
    * apply is property-checked against (BpeSpec).
    */
  def encodeWordRankOrder(word: String,
      merges: IndexedSeq[(Int, Int, Int)] = DefaultMerges): Array[Int] = {
    var syms = word.codePoints().toArray
    merges.foreach { case (l, r, o) =>
      if (syms.length >= 2) {
        val out = new Array[Int](syms.length)
        var i = 0
        var j = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out(j) = o
            i += 2
          } else {
            out(j) = syms(i)
            i += 1
          }
          j += 1
        }
        syms = java.util.Arrays.copyOf(out, j)
      }
    }
    syms
  }

  /** Pair → (rank, output) lookup for the fast apply, built once per table
    * (per task, not per word). Key packs the two symbol codepoints into one
    * Long, value packs rank and output — zero boxing on the hot path.
    */
  final class MergeTable private (
      private val pairs: java.util.HashMap[java.lang.Long, java.lang.Long],
      val size: Int,
      lookupCounter: java.util.concurrent.atomic.AtomicLong) {
    /** rank<<32 | output for the pair (l, r), or -1 when not a merge.
      * Values stay BOXED in the map: an unboxed-typed get would turn the
      * null miss into 0 — a phantom rank-0 merge for every absent pair.
      */
    @inline def lookup(l: Int, r: Int): Long = {
      if (lookupCounter ne null) lookupCounter.incrementAndGet()
      val v = pairs.get((l.toLong << 32) | (r.toLong & 0xffffffffL))
      if (v eq null) -1L else v.longValue()
    }
  }

  object MergeTable {
    /** Total tables ever built in this JVM — the instrumentation the memo
      * contract is asserted on (one build per distinct table instance, not
      * per word).
      */
    private[graft] val builds = new java.util.concurrent.atomic.AtomicLong

    def apply(merges: IndexedSeq[(Int, Int, Int)]): MergeTable =
      build(merges, null)

    /** Test-only: a table whose every [[MergeTable.lookup]] bumps `counter`
      * — the V-independence of the heap apply is asserted as an
      * OPERATION-COUNT bound, not a wall-clock ratio (which flakes under
      * load).
      */
    private[graft] def counting(merges: IndexedSeq[(Int, Int, Int)],
        counter: java.util.concurrent.atomic.AtomicLong): MergeTable =
      build(merges, counter)

    private def build(merges: IndexedSeq[(Int, Int, Int)],
        counter: java.util.concurrent.atomic.AtomicLong): MergeTable = {
      builds.incrementAndGet()
      val m = new java.util.HashMap[java.lang.Long, java.lang.Long](merges.size * 2)
      merges.zipWithIndex.foreach { case ((l, r, o), rank) =>
        // first (lowest) rank wins on duplicate pairs — the rank-order pass
        // would have consumed every occurrence at the earlier rank already
        m.putIfAbsent((l.toLong << 32) | (r.toLong & 0xffffffffL),
          (rank.toLong << 32) | (o.toLong & 0xffffffffL))
      }
      new MergeTable(m, merges.size, counter)
    }
  }

  private val DefaultTable = MergeTable(DefaultMerges)

  /** Single-slot identity memo for CUSTOM tables: the common shape is one
    * `merges` value captured by a task closure and applied to every word of
    * the partition — without the memo each word rebuilt the O(V) hashmap,
    * silently reintroducing the table-proportional cost the heap apply
    * exists to kill. One slot (not an unbounded cache) because each Spark
    * task deserializes its own `merges` instance: an identity-keyed MAP
    * would grow per task for the life of the executor. The slot is
    * PER-THREAD (a Spark task runs on one executor thread): a shared
    * `@volatile` slot would ping-pong between concurrent tasks' distinct
    * deserialized instances on the same executor, rebuilding the O(V)
    * hashmap per word again — the exact cost the memo exists to kill.
    */
  private val memoTable =
    new ThreadLocal[(IndexedSeq[(Int, Int, Int)], MergeTable)] {
      override def initialValue(): (IndexedSeq[(Int, Int, Int)], MergeTable) =
        (DefaultMerges, DefaultTable)
    }

  private def tableFor(merges: IndexedSeq[(Int, Int, Int)]): MergeTable = {
    if (merges eq DefaultMerges) return DefaultTable
    val m = memoTable.get()
    if (m._1 eq merges) m._2
    else {
      val t = MergeTable(merges)
      memoTable.set((merges, t))
      t
    }
  }

  /** Greedy BPE encode of ONE word — the pair-indexed HEAP apply (the
    * standard production formulation, e.g. the original GPT-2 encoder):
    * repeatedly merge the lowest-ranked pair PRESENT in the word,
    * left-to-right within a rank, maintaining a doubly-linked symbol list
    * and a lazy-deletion min-heap of candidate pairs. Only merges whose
    * pair actually occurs are ever touched, so the cost is
    * O(len·log len) INDEPENDENT of the table size V — at a 32k-merge
    * vocabulary this is the difference between tokenizing at scan speed
    * and scanning the merges table per word.
    *
    * Equivalent to [[encodeWordRankOrder]] for every WELL-FORMED table
    * (each pair references only base characters or earlier merge outputs —
    * true of any learned BPE table, enforced for [[DefaultMerges]]):
    * merging rank k can only create pairs containing k's output symbol,
    * whose ranks are all > k, so no lower-ranked pair ever (re)appears
    * after its turn — the iterative lowest-rank-first order visits exactly
    * the rank-order pass's rewrites. Property-checked in BpeSpec over
    * random valid tables and words.
    */
  def encodeWord(word: String,
      merges: IndexedSeq[(Int, Int, Int)] = DefaultMerges): Array[Int] =
    encodeWordWith(word, tableFor(merges))

  def encodeWordWith(word: String, table: MergeTable): Array[Int] = {
    val syms = word.codePoints().toArray
    val n = syms.length
    if (n < 2 || table.size == 0) return syms
    // doubly-linked list over the symbol array; -1 = end, dead nodes have
    // next(i) = -2
    val next = new Array[Int](n)
    val prev = new Array[Int](n)
    var i = 0
    while (i < n) { next(i) = i + 1; prev(i) = i - 1; i += 1 }
    next(n - 1) = -1
    // lazy-deletion min-heap of rank<<32|pos (both non-negative, so Long
    // order = (rank, pos) lexicographic = lowest rank first, leftmost first)
    var heap = new Array[Long](math.max(8, n))
    var heapN = 0
    def push(v: Long): Unit = {
      if (heapN == heap.length) heap = java.util.Arrays.copyOf(heap, heapN * 2)
      var c = heapN; heapN += 1; heap(c) = v
      while (c > 0 && heap((c - 1) >> 1) > heap(c)) {
        val p = (c - 1) >> 1
        val t = heap(p); heap(p) = heap(c); heap(c) = t; c = p
      }
    }
    def pop(): Long = {
      val top = heap(0); heapN -= 1; heap(0) = heap(heapN)
      var c = 0
      while (true) {
        val l = 2 * c + 1
        if (l >= heapN) return top
        val s = if (l + 1 < heapN && heap(l + 1) < heap(l)) l + 1 else l
        if (heap(c) <= heap(s)) return top
        val t = heap(c); heap(c) = heap(s); heap(s) = t; c = s
      }
      top
    }
    def offer(pos: Int): Unit = {
      val nx = next(pos)
      if (nx >= 0) {
        val ro = table.lookup(syms(pos), syms(nx))
        if (ro >= 0)
          push(((ro >>> 32) << 32) | pos.toLong)
      }
    }
    i = 0
    while (i < n - 1) { offer(i); i += 1 }
    var alive = n
    while (heapN > 0 && alive >= 2) {
      val top = pop()
      val pos = (top & 0xffffffffL).toInt
      val nx = next(pos)
      if (nx >= -1) { // node still alive
        if (nx >= 0) {
          val ro = table.lookup(syms(pos), syms(nx))
          // stale entries (symbols changed since push) re-validate here
          if (ro >= 0 && (ro >>> 32) == (top >>> 32)) {
            syms(pos) = (ro & 0xffffffffL).toInt
            // unlink nx
            val nnx = next(nx)
            next(nx) = -2
            next(pos) = nnx
            if (nnx >= 0) prev(nnx) = pos
            alive -= 1
            // the merged symbol forms two fresh candidate pairs
            val pv = prev(pos)
            if (pv >= 0) offer(pv)
            offer(pos)
          }
        }
      }
    }
    val out = new Array[Int](alive)
    var p = 0
    var j = 0
    while (p >= 0) { out(j) = syms(p); j += 1; p = next(p) }
    out
  }

  /** One-pass (n_words, n_tokens_bpe, sum_token_ids) for a document under
    * `merges` — the static helper both [[tokenStats]] paths share. Word
    * split follows [[TextAnalysis.tokens]]: empty text yields one empty
    * token, which encodes to zero symbols.
    */
  // precompiled whitespace splitter (String.split("\\s+") recompiles the
  // Pattern on every call); Pattern.split is semantically identical
  private val WsPat = java.util.regex.Pattern.compile("\\s+")

  def statsOf(text: String,
      merges: IndexedSeq[(Int, Int, Int)]): (Long, Long, Long) = {
    val words = WsPat.split(Option(text).getOrElse("").trim)
    var nTok = 0L
    var sumIds = 0L
    words.foreach { w =>
      val syms = encodeWord(w, merges)
      nTok += syms.length
      var i = 0
      while (i < syms.length) { sumIds += syms(i); i += 1 }
    }
    (words.length.toLong, nTok, sumIds)
  }

  /** [[statsOf]] under the DEFAULT table as an InternalRow — the entry the
    * codegen'd [[graft.functions.BpeStats]] expression calls from generated
    * code (a custom table cannot ride a static call; use the mapPartitions
    * path for those).
    */
  def statsDefault(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val (nw, nt, sum) = statsOf(if (s == null) "" else s.toString, DefaultMerges)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nw, nt, sum))
  }

  /** Per-document BPE token statistics: word count (whitespace split, same
    * contract as [[TextAnalysis.tokens]]), total BPE token count, and the
    * exact integer sum of token ids — the aggregate that proves the id
    * assignment end to end under the oracle.
    *
    * Default table → ONE codegen'd expression fused into the scan
    * ([[graft.functions.BpeStats]] — no Dataset encode/decode, no shuffle);
    * a custom table falls back to the closure-carrying mapPartitions pass.
    */
  def tokenStats(df: DataFrame, textCol: String, idCol: String,
      merges: IndexedSeq[(Int, Int, Int)] = DefaultMerges): DataFrame =
    if (merges eq DefaultMerges) {
      df.select(col(idCol).cast("long").as(idCol),
          graft.functions.TextHashExprs.bpeStats(col(textCol)).as("_s"))
        .select(col(idCol), col("_s.n_words").as("n_words"),
          col("_s.n_tokens_bpe").as("n_tokens_bpe"),
          col("_s.sum_token_ids").as("sum_token_ids"))
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col(idCol).cast("long"), col(textCol))
        .as[(Long, String)]
        .mapPartitions { rows =>
          rows.map { case (id, text) =>
            val (nw, nt, sum) = statsOf(text, merges)
            (id, nw, nt, sum)
          }
        }
        .toDF(idCol, "n_words", "n_tokens_bpe", "sum_token_ids")
    }

  /** The DuckDB expression computing the encoded symbol STRING of
    * `textExpr` under `merges` — the oracle side of the exactness contract
    * (each merge = one `replace` with single-char output).
    */
  def replaceChainSql(textExpr: String,
      merges: IndexedSeq[(Int, Int, Int)] = DefaultMerges): String =
    merges.foldLeft(textExpr) { case (acc, (l, r, o)) =>
      s"replace($acc, chr($l) || chr($r), chr($o))"
    }

  // ------------------------------------------------------------------
  // MERGE-TABLE LEARNING (Sennrich §3.2's learner, distributed)
  // ------------------------------------------------------------------

  /** Adjacent-codepoint pairs of one symbol string — Sennrich's
    * `get_stats` adjacency: OVERLAPPING (a word "aaa" contributes (a,a)
    * twice), while the APPLY is leftmost non-overlapping. Both engines
    * (this learner and the DuckDB oracle's substring walk) count the same
    * way.
    */
  private def adjacentPairs(w: String): Array[(Int, Int)] = {
    val cps = w.codePoints().toArray
    if (cps.length < 2) Array.empty
    else Array.tabulate(cps.length - 1)(i => (cps(i), cps(i + 1)))
  }

  private def cpStr(cp: Int): String = new String(Character.toChars(cp))

  /** Select the longest batch of merges provably equal to applying the
    * sequential greedy recurrence one merge at a time. `cand` is the
    * round's pair counts in greedy order — (count DESC, left ASC, right
    * ASC), the tie-break both engines share — and `complete` says whether
    * `cand` is the FULL candidate list or a top-K truncation.
    *
    * The batch is the contiguous prefix of `cand` up to (exclusive) the
    * first candidate q sharing a symbol with an earlier-accepted pair,
    * further truncated to counts STRICTLY above a bound B, where B =
    * count(q) (or, for a truncated list with no in-prefix conflict, the
    * last collected count; for a complete conflict-free list, no bound).
    * The head is always safe alone — it IS the sequential argmax.
    *
    * Why this equals one-at-a-time greedy:
    *   - accepted pairs are pairwise symbol-disjoint, so applying any of
    *     them leaves the others' occurrence counts untouched (a merge
    *     only consumes adjacencies overlapping its own occurrences);
    *   - applying a merge (x,y)→o can INCREASE no existing pair — every
    *     new adjacency involves the fresh symbol o — and each new pair's
    *     count is bounded by an existing NEIGHBOR pair's count: every
    *     (w,o) occurrence was a (w,x,y) triple, i.e. a distinct (w,x)
    *     occurrence (leftmost non-overlapping application makes the
    *     mapping injective), so count(w,o) ≤ count(w,x); likewise
    *     (o,z) ≤ count(y,z) and (o,o') ≤ count(y,x'). Each such neighbor
    *     shares a symbol with an accepted pair, so it either IS q (count
    *     = B) or sorts at/after q or beyond the collected list (count ≤
    *     B). Accepted counts are > B, so at every intermediate step the
    *     next accepted pair still beats every pair a prior application
    *     created, and ties among surviving originals resolve in list
    *     order — exactly the sequential pick.
    */
  private[graft] def selectBatch(cand: IndexedSeq[(Int, Int, Long)],
      complete: Boolean, maxBatch: Int): IndexedSeq[(Int, Int, Long)] = {
    if (cand.isEmpty || maxBatch <= 0) return IndexedSeq.empty
    val used = scala.collection.mutable.HashSet.empty[Int]
    val prefix = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    var qi = -1
    var i = 0
    while (qi < 0 && i < cand.length) {
      val (l, r, _) = cand(i)
      if (used.contains(l) || used.contains(r)) qi = i
      else { prefix += cand(i); used += l; used += r; i += 1 }
    }
    val bound: Long =
      if (qi >= 0) cand(qi)._3
      else if (!complete) cand.last._3
      else Long.MinValue
    val strict = prefix.takeWhile(_._3 > bound)
    val base = if (strict.isEmpty) prefix.take(1) else strict
    // A SELF-pair (x,x) ends the batch: applied to a run "xxx…" it creates
    // (o,x)/(o,o) adjacencies whose counts are bounded only by count(x,x)
    // itself — the one case where a new pair's neighbor bound is the
    // ACCEPTED pair rather than a conflict candidate, so the `bound`
    // argument above cannot protect anything accepted after it. (A
    // non-self pair (x,y) can't hit this: its new pairs' neighbors (w,x)/
    // (y,z) always share exactly one symbol with it and would have
    // terminated the conflict walk.) Alone, or last, a self-pair is safe —
    // everything before it was picked under the intact bound.
    val selfIdx = base.indexWhere(p => p._1 == p._2)
    val batch = if (selfIdx >= 0) base.take(selfIdx + 1) else base
    batch.take(maxBatch).toIndexedSeq
  }

  /** Sequential single-node Sennrich learner over a (word → freq) vocab —
    * the executable SPEC the distributed/batched learners are
    * property-checked against (BpeSpec), and the literal recurrence the
    * DuckDB oracle replays CTE-by-CTE. One merge per iteration: count all
    * adjacent pairs weighted by freq, take the (count DESC, left ASC,
    * right ASC) argmax, rewrite leftmost-non-overlapping, repeat.
    */
  def learnLocal(vocab0: Iterable[(String, Long)],
      nMerges: Int): IndexedSeq[(Int, Int, Int)] = {
    var vocab = vocab0.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var exhausted = false
    while (!exhausted && out.size < nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
      vocab.foreach { case (w, f) =>
        adjacentPairs(w).foreach(p =>
          counts.update(p, counts.getOrElse(p, 0L) + f))
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), _) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        val o = MergeBase + out.size
        out += ((l, r, o))
        val (ps, os) = (cpStr(l) + cpStr(r), cpStr(o))
        vocab = vocab.map { case (w, f) => (w.replace(ps, os), f) }
      }
    }
    out.toIndexedSeq
  }

  /** Local learner running the SAME batched recurrence as [[learn]] —
    * identical candidate sort, top-K truncation, [[selectBatch]] call, and
    * rewrite — so selectBatch's sequential-equivalence argument is
    * property-checkable against [[learnLocal]] over thousands of random
    * corpora/batch widths/truncations without a Spark round per case
    * (BpeSpec).
    */
  private[graft] def learnLocalBatched(vocab0: Iterable[(String, Long)],
      nMerges: Int, maxBatch: Int, topK: Int): IndexedSeq[(Int, Int, Int)] = {
    var vocab = vocab0.toSeq
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var exhausted = false
    while (!exhausted && merges.size < nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
      vocab.foreach { case (w, f) =>
        adjacentPairs(w).foreach(p =>
          counts.update(p, counts.getOrElse(p, 0L) + f))
      }
      if (counts.isEmpty) exhausted = true
      else {
        val sorted = counts.iterator
          .map { case ((l, r), c) => (l, r, c) }.toIndexedSeq
          .sortBy { case (l, r, c) => (-c, l, r) }
        val cand = sorted.take(topK)
        val batch = selectBatch(cand, cand.size < topK,
          math.min(maxBatch, nMerges - merges.size))
        val base = merges.size // capture BEFORE appending: size grows below
        val reps = batch.zipWithIndex.map { case ((l, r, _), i) =>
          val o = MergeBase + base + i
          merges += ((l, r, o))
          (cpStr(l) + cpStr(r), cpStr(o))
        }
        vocab = vocab.map { case (w, f) =>
          (reps.foldLeft(w)((acc, p) => acc.replace(p._1, p._2)), f)
        }
      }
    }
    merges.toIndexedSeq
  }

  /** Distributed merge-table learning over a text corpus — the missing
    * first step of the tokenizer workflow (the apply half is
    * [[encodeWord]]): learn `nMerges` merges from `df`'s `textCol`,
    * whitespace-split into words exactly like [[statsOf]]/the oracle's
    * `string_split_regex(trim(text), '\\s+')`.
    *
    * 100 TB shape: the corpus collapses to a (word, freq) vocab in ONE
    * partial-agg shuffle (unique words, orders of magnitude smaller than
    * the corpus — the corpus itself is never read again); each round is
    * one partial-agg pair count over the vocab with a driver collect
    * bounded at `topK` rows, and [[selectBatch]] accepts up to `maxBatch`
    * provably-sequential merges per round, dividing the number of Spark
    * rounds by the batch width. Vocab lineage is truncated per round via
    * [[GraftSession.materialize]] (the CC-round pattern); driver state is
    * the merge table itself — O(nMerges), never corpus- or vocab-sized.
    *
    * Symbols must stay single codepoints, so input text must not contain
    * the private-use outputs [U+E000, U+E000+nMerges) — the same PUA
    * convention [[DefaultMerges]] documents for the apply side.
    *
    * Returns (left, right, output) codepoint triples in rank order —
    * directly usable by [[encodeWord]]/[[tokenStats]], well-formed by
    * construction (every pair references base chars or earlier outputs).
    */
  def learn(df: DataFrame, textCol: String, nMerges: Int,
      maxBatch: Int = 64, topK: Int = 256): IndexedSeq[(Int, Int, Int)] =
    learnWithCounts(df, textCol, nMerges, maxBatch, topK)
      .map { case (l, r, o, _) => (l, r, o) }

  /** [[learn]] plus each merge's pair count AT SELECTION TIME — for a
    * batched round this equals the count the sequential recurrence would
    * have seen (batch members are symbol-disjoint from every earlier batch
    * member, so earlier applications leave their counts untouched). The
    * oracle pins these counts rank by rank.
    */
  def learnWithCounts(df: DataFrame, textCol: String, nMerges: Int,
      maxBatch: Int = 64, topK: Int = 256)
      : IndexedSeq[(Int, Int, Int, Long)] = {
    require(maxBatch >= 1, "maxBatch must be >= 1")
    require(topK >= 2, "topK must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    // single-symbol words can never participate in a merge — drop them
    // here and after every rewrite (pure pruning: they contribute no pairs)
    var vocab = GraftSession.materialize(
      df.select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).cast("long").as("freq")))
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Long)]
    var exhausted = false
    while (!exhausted && merges.size < nMerges) {
      val cand = vocab.as[(String, Long)]
        .flatMap { case (w, f) =>
          adjacentPairs(w).iterator.map(p => (p._1, p._2, f))
        }
        .toDF("l", "r", "freq")
        .groupBy("l", "r").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(topK)
        .as[(Int, Int, Long)].collect().toIndexedSeq
      if (cand.isEmpty) exhausted = true
      else {
        val batch = selectBatch(cand, cand.size < topK,
          math.min(maxBatch, nMerges - merges.size))
        val base = merges.size // capture BEFORE appending: size grows below
        val reps = batch.zipWithIndex.map { case ((l, r, c), i) =>
          val o = MergeBase + base + i
          merges += ((l, r, o, c))
          (cpStr(l) + cpStr(r), cpStr(o))
        }
        vocab = GraftSession.materialize(
          vocab.as[(String, Long)]
            .map { case (w, f) =>
              (reps.foldLeft(w)((acc, p) => acc.replace(p._1, p._2)), f)
            }
            .filter(_._1.length >= 2)
            .toDF("word", "freq"))
      }
    }
    merges.toIndexedSeq
  }
}
