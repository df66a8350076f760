package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization
  * counts, quality scoring, language-ID heuristic, document fingerprints.
  *
  * All are single-pass narrow projections (no shuffle) built from codegen'd
  * built-in functions — at 100 TB they run at scan speed and pipeline into
  * whatever aggregation follows. Every function has an exact SQL equivalent
  * used by the DuckDB oracles (graft.queries.PipelineQueries): deterministic
  * per-row double arithmetic with a fixed evaluation order.
  *
  * North-star extension (SURVEY.md §7.3 step 5); the reference has no text
  * operators.
  */
object TextAnalysis {

  /** Whitespace tokens (trimmed first — leading whitespace would otherwise
    * yield a phantom empty token; DuckDB's string_split_regex agrees).
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Quoted-attribute-aware tag interior: consumes attribute text where a
    * literal '>' may hide inside quotes (`<div data-note="a>b">`), so the
    * tag ends at the REAL closing bracket. Kept to the regex subset Java
    * and RE2 share — the DuckDB oracle replays the identical pattern.
    */
  private[graft] val TagAttrs = """(?:[^>"']|"[^"]*"|'[^']*')*"""

  /** The extraction chain's regexes, shared verbatim with the DuckDB
    * oracle (Java/RE2 common subset: no backreferences, no lookaround,
    * explicit whitespace classes).
    */
  private[graft] val CommentRe = "(?s)<!--.*?-->"
  private[graft] val ScriptRe =
    s"(?is)<script\\b$TagAttrs>.*?</script[ \\t\\n\\r\\f]*>"
  private[graft] val StyleRe =
    s"(?is)<style\\b$TagAttrs>.*?</style[ \\t\\n\\r\\f]*>"
  private[graft] val TagRe =
    s"(?s)</?[a-zA-Z]$TagAttrs>|<![a-zA-Z]$TagAttrs>|<\\?$TagAttrs\\?>"
  private[graft] val WsRunRe = "[ \\t\\n\\r\\f]+"

  /** Entity decode shared by operator and oracle: the common named set,
    * decoded AFTER tag-stripping (so `&lt;script&gt;` in text can never
    * become live markup) with `&amp;` LAST — `&amp;lt;` therefore decodes
    * to the literal text `&lt;`, exactly the single-decode the HTML spec
    * prescribes. Pairs of (entity, replacement), in application order.
    */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&apos;" -> "'",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Gopher quality-rule word lists/bounds (Rae et al. 2021, "Scaling
    * Language Models: … Gopher", Appendix A.1.1 — the published
    * heuristic filter most open pipelines reuse). Doc-level rules only:
    * the line-level ones (bullet starts, ellipsis ends) belong after a
    * line split.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinWords = 50
  val GopherMaxWords = 100000

  /** Gopher rules as per-document boolean columns over a token-array
    * column — every comparison INTEGER-RATIONAL (cross-multiplied, never
    * a float ratio) so both engines decide identically:
    *
    *   - `r_words`:   50 ≤ word count ≤ 100 000;
    *   - `r_meanlen`: mean word length in [3, 10] chars ⟺
    *                  3·n ≤ Σlen ≤ 10·n (exact integer sums);
    *   - `r_symbols`: (# + …) symbol-to-word ratio ≤ 0.1 ⟺
    *                  10·symbols ≤ n. DELIBERATE DEVIATION from the
    *                  paper: Rae et al. gate hash and ellipsis ratios
    *                  SEPARATELY ("either … greater than 0.1"); this
    *                  combined ratio is strictly tighter (a doc with
    *                  0.06 hash + 0.06 ellipsis fails here, passes
    *                  there). One regexp pass instead of three, and the
    *                  oracle replays the same combined rule;
    *   - `r_alpha`:   ≥ 80% of words contain an alphabetic char ⟺
    *                  5·alphaWords ≥ 4·n;
    *   - `r_stop`:    at least 2 DISTINCT of the 8 Gopher stopwords.
    *
    * `keep` = all five. One narrow codegen'd projection — at 100 TB the
    * filter runs at scan speed like the rest of the text suite.
    */
  def gopherRules(toks: Column, text: Column): Column = {
    // The five integers come from ONE codegen'd pass over the text
    // ([[graft.functions.GopherQuality]] — property-gated bit-identical to
    // the builtin chain this replaced: split/size, concat_ws length sum,
    // three regexp_counts, two array filters — each of which re-walked or
    // re-allocated the document). `toks` MUST equal `tokens(text)`; every
    // caller passes exactly that (the parameter stays for source
    // compatibility and as documentation of the token contract). The five
    // getFields share one evaluation via whole-stage codegen's
    // subexpression elimination.
    val st = graft.functions.GopherQuality.gopherQuality(text)
    val n = st.getField("n_words")
    val sumLen = st.getField("sum_len")
    val symbols = st.getField("n_sym")
    val alphaWords = st.getField("n_alpha")
    val stopHits = st.getField("n_stop")
    val rWords = n >= GopherMinWords && n <= GopherMaxWords
    val rMeanLen = sumLen >= lit(3L) * n && sumLen <= lit(10L) * n
    val rSymbols = lit(10L) * symbols <= n
    val rAlpha = lit(5L) * alphaWords >= lit(4L) * n
    val rStop = stopHits >= 2L
    struct(rWords.as("r_words"), rMeanLen.as("r_meanlen"),
      rSymbols.as("r_symbols"), rAlpha.as("r_alpha"), rStop.as("r_stop"),
      (rWords && rMeanLen && rSymbols && rAlpha && rStop).as("keep"))
  }

  /** Gopher A.1.2 repetition thresholds (Rae et al. 2021, Table A1):
    * `(signalName, numeratorFactor, denominatorFactor)` encoding
    * "fraction ≤ den/num" as the integer-rational gate
    * `num·signal ≤ den·denominatorColumn` — shared verbatim with the
    * oracle generator so both engines compare the same integers.
    * Fractions: dup lines/paras 0.30 of their count, 0.20 of their
    * chars; top-{2,3,4}-gram char mass 0.20/0.18/0.16 of word chars;
    * dup-{5..10}-gram covered chars 0.15/0.14/0.13/0.12/0.11/0.10.
    */
  val GopherRepThresholds: Seq[(String, Long, Long, String)] = Seq(
    ("dup_lines", 10L, 3L, "n_lines"),
    ("dup_paras", 10L, 3L, "n_paras"),
    ("dup_line_chars", 5L, 1L, "line_chars"),
    ("dup_para_chars", 5L, 1L, "para_chars"),
    ("top2_chars", 5L, 1L, "word_chars"),
    ("top3_chars", 50L, 9L, "word_chars"),
    ("top4_chars", 25L, 4L, "word_chars"),
    ("dup5_chars", 20L, 3L, "word_chars"),
    ("dup6_chars", 50L, 7L, "word_chars"),
    ("dup7_chars", 100L, 13L, "word_chars"),
    ("dup8_chars", 25L, 3L, "word_chars"),
    ("dup9_chars", 100L, 11L, "word_chars"),
    ("dup10_chars", 10L, 1L, "word_chars"))

  /** Gopher A.1.2 repetition gates over a MATERIALIZED
    * [[graft.functions.GopherRepetition]] stats struct (materialize the
    * struct in its own projection first — the stats pass should run once
    * per document, not once per rule). Thirteen integer-rational
    * comparisons ([[GopherRepThresholds]]) + `keep` = all thirteen; a
    * document passes a rule iff its repetition fraction is ≤ the paper's
    * threshold, with 0/0 (empty grain) vacuously kept — the A.1.1
    * minimum-word gate owns degenerate documents. Composed with
    * [[gopherRules]] this is the COMPLETE published Gopher filter:
    * `keep = gopherRules(…).keep && gopherRepetitionRules(…).keep`
    * (see [[gopherGate]]).
    */
  def gopherRepetitionRules(st: Column): Column = {
    val rules = GopherRepThresholds.map { case (sig, num, den, denCol) =>
      (s"r_$sig", lit(num) * st.getField(sig) <= lit(den) * st.getField(denCol))
    }
    val keep = rules.map(_._2).reduce(_ && _)
    struct(rules.map { case (n, c) => c.as(n) } :+ keep.as("keep"): _*)
  }

  /** The full Gopher gate (A.1.1 document rules ∧ A.1.2 repetition
    * rules) appended as one boolean `gopher_keep` column — the composite
    * a curation pipeline actually filters on. Three chained narrow
    * projections (stats structs materialized once each), zero shuffles:
    * scan-speed at 100 TB like every text gate in this file.
    */
  def gopherGate(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("_gq", gopherRules(tokens(col(textCol)), col(textCol)))
      .withColumn("_gs",
        graft.functions.GopherRepetition.gopherRepetition(col(textCol)))
      .withColumn("_gr", gopherRepetitionRules(col("_gs")))
      .withColumn("gopher_keep", col("_gq.keep") && col("_gr.keep"))
      .drop("_gq", "_gs", "_gr")

  /** The markdown-extraction regexes, shared verbatim with the oracle
    * (Java∩RE2 subset — no backreferences, so emphasis markers are
    * stripped as tokens rather than matched pairs). Order matters and is
    * fixed by [[extractMarkdownText]].
    */
  private[graft] val MdCodeFenceRe = "(?s)```.*?```"
  private[graft] val MdInlineCodeRe = "`[^`\\n]*`"
  private[graft] val MdImageRe = "!\\[([^\\]]*)\\]\\([^)]*\\)"
  private[graft] val MdLinkRe = "\\[([^\\]]*)\\]\\([^)]*\\)"
  private[graft] val MdHeaderRe = "(?m)^[ \\t]{0,3}#{1,6}[ \\t]+"
  private[graft] val MdQuoteListRe =
    "(?m)^[ \\t]*(?:>|[-*+]|\\d{1,3}\\.)[ \\t]+"
  private[graft] val MdHruleRe = "(?m)^[ \\t]{0,3}(?:-{3,}|\\*{3,}|_{3,})[ \\t]*$"
  private[graft] val MdEmphasisRe = "(\\*{1,3}|_{1,3}|~~)"

  /** Markdown → clean text — the second front door next to
    * [[extractHtmlText]] (crawled corpora are markup or markdown):
    *
    *   1. drop fenced code blocks (``` … ```, non-greedy across lines)
    *      and inline code spans — code is not prose;
    *   2. images `![alt](url)` keep their alt text, links
    *      `[text](url)` keep their link text (the url never survives);
    *   3. strip header `#` prefixes, blockquote `>` markers, list
    *      bullets / ordinal markers, and horizontal rules at line
    *      starts (multiline anchors);
    *   4. strip emphasis runs (`*`/`_`/`~~`) as tokens — RE2 has no
    *      backreferences, so pairing is not enforced; an unmatched
    *      `*foo` loses its marker too, which is what a text pipeline
    *      wants anyway;
    *   5. collapse whitespace runs (including the newlines the line
    *      markers left behind) to single spaces and trim.
    *
    * Same contract as the HTML chain: codegen'd regexp expressions
    * only, no UDF, replayable in any RE2/PCRE engine.
    */
  def extractMarkdownText(md: Column): Column = {
    val noFence = regexp_replace(md, MdCodeFenceRe, " ")
    val noCode = regexp_replace(noFence, MdInlineCodeRe, " ")
    val noImg = regexp_replace(noCode, MdImageRe, "$1")
    val noLink = regexp_replace(noImg, MdLinkRe, "$1")
    val noHead = regexp_replace(noLink, MdHeaderRe, "")
    val noMarks = regexp_replace(noHead, MdQuoteListRe, "")
    val noRule = regexp_replace(noMarks, MdHruleRe, " ")
    val noEmph = regexp_replace(noRule, MdEmphasisRe, "")
    trim(regexp_replace(noEmph, WsRunRe, " "))
  }

  /** URL host extraction, shared verbatim with the oracle (Java∩RE2):
    * scheme, optional userinfo, then the host up to the first port/path/
    * query/fragment delimiter. Lowercased — URI hosts are
    * case-insensitive; paths are not touched.
    */
  private[graft] val UrlHostRe =
    "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"

  def urlHost(url: Column): Column =
    lower(regexp_extract(url, UrlHostRe, 1))

  /** Registrable domain as the host's last two labels — the LOOKUP-FREE
    * fallback, exact for generic TLDs only (wrong for every ccSLD:
    * "bbc.co.uk" → "co.uk"). The PSL-backed resolution is
    * [[graft.operators.Psl.registrableDomain]] — use it wherever the
    * blocklist grain must be correct.
    */
  private[graft] val RegDomainRe = "([^.]+\\.[^.]+)$"

  def registrableDomain(host: Column): Column =
    regexp_extract(host, RegDomainRe, 1)

  /** Markup/HTML → clean text — the pipeline front door: crawled pages
    * enter as markup, and every downstream text operator (dedup, quality,
    * BM25, chunking) assumes this ran first. A chain of codegen'd
    * regexp/string expressions, NOT a per-row UDF — at 100 TB it runs at
    * scan speed fused into the scan's WholeStageCodegen, and the whole
    * chain is replayable in any RE2/PCRE engine (the DuckDB oracle runs
    * the same patterns):
    *
    *   1. drop `<!-- … -->` comments (non-greedy, across newlines);
    *   2. drop `<script>`/`<style>` ELEMENTS with their content (their
    *      text is code, not prose; quoted attributes may contain '>');
    *   3. strip remaining tags — open/close tags, `<!DOCTYPE …>`,
    *      `<? … ?>` — each replaced by a space so `a<br>b` never fuses
    *      into one word. A tag must start `<letter` or `</letter`: a
    *      bare "i < 5" in prose is NOT markup and survives;
    *   4. decode [[htmlEntities]];
    *   5. collapse runs of whitespace to one space and trim.
    *
    * Malformed-input contract (deterministic, spec-pinned): an unclosed
    * tag at end-of-input or an unterminated quoted attribute never finds
    * a closing '>', so its literal text survives into the output rather
    * than swallowing the rest of the document; an unmatched `</script>`
    * with no opener is stripped as a plain tag. Whitespace classes are
    * spelled `[ \t\n\r\f]` explicitly — Java's `\s` includes \x0B,
    * RE2's does not.
    */
  def extractHtmlText(html: Column): Column = {
    val noComments = regexp_replace(html, CommentRe, " ")
    val noScript = regexp_replace(noComments, ScriptRe, " ")
    val noStyle = regexp_replace(noScript, StyleRe, " ")
    val noTags = regexp_replace(noStyle, TagRe, " ")
    val decoded = htmlEntities.foldLeft(noTags) { case (c, (k, v)) =>
      replace(c, lit(k), lit(v))
    }
    trim(regexp_replace(decoded, WsRunRe, " "))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-boundary count: runs of letters, runs of digits, or a
    * single non-alphanumeric symbol — the word/number/punct split every
    * byte-pair tokenizer starts from.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))

  /** English stopword list shared with the oracle SQL (keep sorted + in sync
    * with PipelineQueries.StopEn).
    */
  val stopwordsEn: Seq[String] =
    Seq("a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "in",
      "is", "it", "of", "on", "or", "that", "the", "to", "with")

  def stopwordCount(text: Column, words: Seq[String] = stopwordsEn): Column =
    // the default list rides the one-pass TokenHits walk (the builtin
    // filter(array) form re-evaluated the split per consumer — see
    // [[graft.functions.TokenHits]]); a custom list keeps the builtin
    if (words eq stopwordsEn)
      graft.functions.TokenHits.tokenHits(text).getField("stop_hits")
        .cast("int")
    else size(filter(tokens(text), t => t.isInCollection(words)))

  def stopwordRatio(text: Column): Column = {
    val th = graft.functions.TokenHits.tokenHits(text)
    th.getField("stop_hits").cast("double") /
      th.getField("n_tokens").cast("double")
  }

  /** Ratio of punctuation/symbol chars to total length. */
  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^a-zA-Z0-9\\s]")).cast("double") /
      length(text).cast("double")

  /** Mean token length (exact for single-space text: chars minus separators
    * over token count; trimmed to match tokenization).
    */
  def avgTokenLen(text: Column): Column = {
    val n = graft.functions.TokenHits.tokenHits(text).getField("n_tokens")
    (length(trim(text)) - n + lit(1)).cast("double") / n.cast("double")
  }

  /** Composite quality score in [0,1]: length saturation + stopword mass +
    * word-shape. Fixed literal weights; evaluation order identical to the
    * oracle's expression.
    */
  def qualityScore(text: Column): Column = {
    // n_tokens via the shared TokenHits walk: the three terms' TokenHits
    // trees are equal, so codegen evaluates the walk once per row
    val n = graft.functions.TokenHits.tokenHits(text).getField("n_tokens")
    least(n.cast("double") / lit(100.0), lit(1.0)) * lit(0.4) +
      stopwordRatio(text) * lit(0.3) +
      least(avgTokenLen(text) / lit(8.0), lit(1.0)) * lit(0.3)
  }

  /** Per-language marker lists for the n-gram/stopword language heuristic
    * (shared with the oracle SQL).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "por", "una"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit")
  )

  private def markerHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(words)))

  /** [[langId]]'s four marker-hit counts from the ONE-pass
    * [[graft.functions.TokenHits]] walk (the filter(array) form
    * re-evaluated the split per language).
    */
  private def markerHitsShared(text: Column): Seq[(String, Column)] = {
    val th = graft.functions.TokenHits.tokenHits(text)
    langMarkers.map { case (l, _) => l -> th.getField(s"hits_$l") }
  }

  /** Heuristic language-ID: CJK codepoints ⇒ zh; else argmax of marker-word
    * hits in fixed priority order (en, es, fr, de); no hits ⇒ "und".
    * Deterministic — ties resolve by list order.
    */
  def langId(text: Column): Column = {
    val hits = markerHitsShared(text)
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val cjk = regexp_count(text, lit("[\\x{4E00}-\\x{9FFF}]")) > 0
    // first language (in list order) whose hit count equals the max wins
    val firstWins = hits.reverse.foldLeft(lit("und"): Column) {
      case (elze, (l, h)) => when(h === best && best > 0, lit(l)).otherwise(elze)
    }
    when(cjk, lit("zh")).otherwise(firstWins)
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(normalize(text))

  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Unicode NFC normalization ([[graft.functions.NfcNormalize]]) — run it
    * BEFORE fingerprinting so canonical-equivalent texts ("é" vs
    * "e"+combining accent) dedup together. DuckDB's `nfc_normalize` is
    * the oracle twin.
    */
  def normalizeNfc(text: Column): Column =
    graft.functions.NfcNormalize.nfcNormalize(text)

  /** The canonical dedup fingerprint: NFC first, then the whitespace/case
    * normalization, then md5 — what [[fingerprint]] should have been for
    * corpora that mix Unicode normal forms.
    */
  def fingerprintCanonical(text: Column): Column =
    md5(normalize(normalizeNfc(text)))

  /** Rolling-shingle fingerprint: min 60-bit hash over word 3-shingles
    * (winnowing-style min-sampling; equals the first MinHash row with the
    * identity permutation). Runs as the codegen'd
    * [[graft.functions.WordShingleMinHash60]] — one pass, no interpreted
    * HOF lambda.
    */
  def shingleFingerprint(text: Column): Column =
    graft.functions.TextHashExprs.wordShingleMinHash60(text, 3)

  /** PII patterns shared with the oracle SQL. Kept to constructs with
    * identical semantics in Java regex and DuckDB (RE2): character classes,
    * +, {m,}, alternation — no backreferences or lookaround.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val PhoneRe = "\\+?[0-9][0-9()\\-. ]{6,}[0-9]"

  /** Redact emails/URLs/phone-like digit runs to fixed placeholder tags.
    * Order matters (URLs can contain @; emails can contain digits): URL →
    * EMAIL → PHONE, identical on both engines. A pure narrow projection —
    * scrubbing 100 TB is a map-only scan.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  def piiCounts(text: Column): (Column, Column, Column) = {
    val noUrl = regexp_replace(text, UrlRe, "<URL>")
    val noEmail = regexp_replace(noUrl, EmailRe, "<EMAIL>")
    (regexp_count(text, lit(UrlRe)),
      regexp_count(noUrl, lit(EmailRe)),
      regexp_count(noEmail, lit(PhoneRe)))
  }

  /** Fixed-size token-window chunking (the LLM-training "context packing"
    * primitive): one row per (doc, chunk) where chunk i covers tokens
    * [i·stride, i·stride + chunkSize). With stride < chunkSize consecutive
    * chunks overlap by chunkSize − stride tokens. Narrow explode — no
    * shuffle; chunk count per doc = 1 + ⌊(n_tokens−1)/stride⌋.
    */
  def chunk(df: DataFrame, textCol: String, idCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize (got chunkSize=$chunkSize, stride=$stride)")
    val toks = tokens(col(textCol))
    df.withColumn("_toks", toks)
      .withColumn("chunk_id",
        explode(sequence(lit(0), floor((size(col("_toks")) - 1) / stride).cast("int"))))
      .withColumn("chunk_text",
        concat_ws(" ", slice(col("_toks"), col("chunk_id") * stride + lit(1), lit(chunkSize))))
      .select(col(idCol), col("chunk_id"),
        size(split(col("chunk_text"), " ")).as("chunk_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
  }

  /** Sequence packing (the "fill each training context window" primitive):
    * assign documents to fixed-token-budget packs by running-sum boundary,
    * sharded by `shardCol` (one window partition per shard — at 100 TB you
    * pack per shard in parallel; a global greedy pack would serialize on one
    * reducer). A document straddling a boundary belongs to the pack where it
    * starts, so packs can overflow by at most one document — the standard
    * streaming-packing contract.
    *
    * Deterministic: docs are packed in `idCol` order; pack_id =
    * tokens_before / maxTokens (integer division).
    *
    * `tokenCountCol` budgets the packs by a PRECOMPUTED per-doc token count
    * column instead of the whitespace [[tokenCount]] — real pipelines
    * budget context windows in tokenizer tokens, e.g.
    * [[graft.operators.Bpe.tokenStats]]'s `n_tokens_bpe`.
    */
  def packDocuments(df: DataFrame, textCol: String, idCol: String,
      shardCol: String, maxTokens: Int,
      tokenCountCol: Option[String] = None): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val counted = tokenCountCol match {
      case Some(c) => df.withColumn("n_tokens", col(c).cast("long"))
      case None => df.withColumn("n_tokens", tokenCount(col(textCol)))
    }
    counted
      .withColumn("_cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"_cum_before div $maxTokens"))
      .drop("_cum_before")
  }

  /** Gopher-style repetition signals per document: duplicate-token mass,
    * most-common-word fraction, top-bigram fraction. ONE codegen'd pass per
    * row ([[graft.functions.RepetitionStats]]) — a narrow projection fused
    * into the scan, vs the explode → groupBy → window formulation that
    * shuffles every token of the corpus twice. Each ratio is a single IEEE
    * division over exact integer counts (oracle-identical).
    */
  def repetitionSignals(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val st = graft.functions.RepetitionStats.repetitionStats(col(textCol))
    df.withColumn("_rs", st)
      .select(col(idCol),
        col("_rs.n_tokens").as("n_tokens"),
        (col("_rs.n_distinct").cast("double") /
          col("_rs.n_tokens").cast("double")).as("distinct_ratio"),
        (col("_rs.top_word").cast("double") /
          col("_rs.n_tokens").cast("double")).as("top_word_frac"),
        (col("_rs.top_bigram").cast("double") /
          col("_rs.n_bigrams").cast("double")).as("top_bigram_frac"))
  }

  /** Per-document compressibility — the zlib-ratio quality signal of the
    * Gopher-family filters (highly repetitive/boilerplate text compresses
    * far below normal prose; near-random text approaches 1). Real JDK
    * Deflater at default level over UTF-8 bytes, one Deflater reused per
    * partition (allocation amortized across the partition — the codec
    * boundary pattern, like the Multimodal decoders; no Catalyst
    * expression computes zlib). Returns (id, n_bytes, n_deflated, ratio);
    * empty text reports ratio 1.0. A narrow partition-parallel pass: no
    * shuffle, runs at scan speed.
    */
  def compressionStats(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater()
        // native zlib memory needs an explicit end() — release on task
        // completion instead of leaking it on long-lived executors
        org.apache.spark.TaskContext.get() match {
          case null => ()
          case tc => tc.addTaskCompletionListener[Unit](_ => deflater.end())
        }
        val buf = new Array[Byte](64 * 1024)
        rows.map { case (id, text) =>
          val bytes = Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          if (bytes.isEmpty) (id, 0L, 0L, 1.0)
          else {
            deflater.reset()
            deflater.setInput(bytes)
            deflater.finish()
            var n = 0L
            while (!deflater.finished()) n += deflater.deflate(buf)
            (id, bytes.length.toLong, n, n.toDouble / bytes.length)
          }
        }
      }
      .toDF(idCol, "n_bytes", "n_deflated", "ratio")
  }

  /** Per-document top-k salient terms by a tf·(N/df) rational score — the
    * idf-proxy N/df keeps the score an exact two-operation double (one
    * integer product, one division), where a log-idf would inherit libm's
    * last-bit variance across engines (NOTES.md determinism contract).
    *
    * Distributed shape: explode → per-(doc, term) partial-agg counts (the
    * combiner runs map-side — token rows of a doc never leave their input
    * partition before combining), document frequencies from the same frame,
    * then a broadcast-size vocabulary joined back (AQE picks broadcast: the
    * vocab table is bounded by |vocabulary|, not corpus size) and a per-doc
    * top-k window. Ties break on the term string.
    */
  def tfidfTopTerms(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    // corpus size as a LAZY broadcast single-row aggregate: building the
    // query plans no job (an eager df.count() here made plan dumps run the
    // whole corpus scan) and the helper stays usable on streaming inputs
    val corpusN = df.agg(count(lit(1)).as("_corpus_n"))
    // tf feeds BOTH the score branch and dfreq below — persist it so the
    // corpus is scanned and exploded once, not once per consumer (without
    // this the final plan carries two FileScan + Generate branches and a
    // 100× corpus pays the tokenize+hash pass twice)
    val tf = graft.GraftSession.persistForReuse(
      df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
        .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))
    // tf rows are already unique per (doc, term) — a plain count IS the
    // document frequency; countDistinct would add a dedup pass for nothing
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(corpusN))
      .withColumn("score",
        (col("tf") * col("_corpus_n")).cast("double") / col("df").cast("double"))
      .drop("_corpus_n")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("rank"), col("score"))
  }

  /** Cross-source contamination matrix: for every pair of corpus sources,
    * the number of distinct word-3-shingle hashes they share. The postings
    * are collapsed to (source, hash) BEFORE the self-join — the join input
    * is bounded by |sources| × |vocabulary-of-shingles|, never corpus rows —
    * and the equi-join on the hash shuffles both sides by hash (co-
    * partitioned, no broadcast needed; at 100 TB add a df-cap on hashes
    * present in every source, which carry no pair information).
    */
  def sourceOverlap(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val posts = df.select(col(sourceCol).as("src"),
        explode(graft.functions.TextHashExprs
          .wordShingleHash31Set(col(textCol), 3)).as("h"))
      .distinct()
    val a = posts.select(col("src").as("src_a"), col("h"))
    val b = posts.select(col("src").as("src_b"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_shingles"))
  }

  /** Attach the full analysis column set. */
  def analyze(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_tokens_bpeish", bpeishTokenCount(t))
      .withColumn("stop_ratio", stopwordRatio(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("avg_token_len", avgTokenLen(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fp_md5", fingerprint(t))
  }

  /** DSIR-style importance scoring over hashed n-gram features (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling", the hashed-ngram variant): every document in the RAW
    * pool is scored by how target-like its word-bigram distribution is —
    * the quality/domain filter a pretraining mix is built from.
    *
    *   c_b(x)  = x's count of bigrams hashing to bucket b (hash60 % B)
    *   r_b     = ((t_b + 1) * scale) DIV (q_b + 1) — Laplace-smoothed
    *             target/raw bucket ratio as a SCALED INTEGER
    *   score(x)= Σ_b c_b(x) · r_b
    *
    * Log-free integer form by design: DSIR's log-ratio sum needs libm's
    * `ln`, which is not bit-identical across engines — the same
    * discipline that keeps [[tfidfTopTerms]] on the N/df proxy. What the
    * 100 TB pipeline needs from the score is a deterministic,
    * reproducible ORDERING to resample by, and integer arithmetic keeps
    * that exactly (ties broken by id downstream).
    *
    * Scale shape: both count tables aggregate to ≤ `buckets` rows
    * (map-side partial combine → a bucket-bounded shuffle), the ratio
    * table BROADCASTS, and scoring is one hash aggregate over the
    * exploded bigrams — no all-pairs, no unpartitioned window, no driver
    * state. Overflow-safe: target ⊆ raw keeps r_b ≤ scale, so a score is
    * bounded by scale × the document's bigram count.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String, buckets: Int = 4096,
      scale: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    def hits(df: DataFrame): DataFrame = df
      .select(col(idCol), explode(
        graft.functions.WordShingles.wordShingles(col(textCol), 2)).as("bg"))
      .select(col(idCol), (Shingles.hash60(col("bg")) % lit(buckets.toLong)).as("b"))
    val rawHits = graft.GraftSession.persistForReuse(hits(raw))
    val tC = hits(target).groupBy(col("b")).agg(count(lit(1)).as("t_b"))
    val qC = rawHits.groupBy(col("b")).agg(count(lit(1)).as("q_b"))
    val ratio = qC.join(tC, Seq("b"), "left_outer")
      .select(col("b"), expr(s"((coalesce(t_b, 0L) + 1L) * ${scale}L) " +
        "DIV (q_b + 1L)").as("r_b"))
    rawHits
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("c_b"))
      .join(broadcast(ratio), Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("c_b") * col("r_b")).as("importance"))
  }
}

/** Shared shingle + hash machinery for dedup/fingerprint operators; the
  * DuckDB oracles replicate these expressions exactly.
  */
object Shingles {

  /** Word n-shingles as space-joined strings; distinct set semantics.
    * `try_element_at` (null past the end, like DuckDB's `l[i]`) +
    * null-skipping concat_ws keeps short-doc behavior oracle-identical.
    */
  def wordShingles(tokens: Column, n: Int): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(size(tokens) - (n - 1), lit(1))),
        i => concat_ws(" ", (0 until n).map(k => try_element_at(tokens, i + lit(k))): _*)))

  /** Character n-shingles over whitespace-normalized lowercase text —
    * the tokenizer-free shingling for unsegmented scripts (CJK has no
    * word boundaries for [[wordShingles]] to find). Distinct set semantics;
    * a text shorter than n yields itself as the single shingle (both
    * engines' substring clamps to the available length).
    */
  def charShingles(text: Column, n: Int): Column = {
    val norm = lower(trim(regexp_replace(text, "\\s+", " ")))
    array_distinct(
      transform(sequence(lit(1), greatest(length(norm) - (n - 1), lit(1))),
        i => norm.substr(i, lit(n))))
  }

  /** 60-bit positive hash from the md5 hex prefix — identical in DuckDB via
    * CAST(('0x' || substring(md5(s),1,15)) AS BIGINT). Runs as the codegen'd
    * [[graft.functions.Md5Hash60]] (digest bytes → long directly, no hex
    * string or conv parse).
    */
  def hash60(s: Column): Column = graft.functions.TextHashExprs.md5Hash60(s)


  /** Fold to 31 bits for overflow-safe (a·h+b) mod p permutations. */
  def hash31(s: Column): Column = hash60(s) % lit(2147483647L)
}
