package graft

import graft.functions.{CmsEstimate, CmsSketch, DotProduct, GopherRepetition, KmvDistinct, Md5Hash60, MinHashSignature, NfcNormalize, RepetitionStats, SimHash, WordShingles}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql` users get them too:
  *
  *   SELECT dot_product(a.vec, b.vec), word_shingles(text, 3) FROM ...
  *
  * [[GraftSession.build]] activates them through
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`; another
  * builder can call `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
      v.toString.toInt
    case other =>
      throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // MERGE INTO <hub table> — rewrites the canonical upsert MERGE shape
    // onto the versioned hub's own ACID merge commit
    ext.injectResolutionRule(graft.sources.HubMergeRule.apply)
    // UPDATE <hub table> SET ... WHERE ... — one ACID commit rewriting
    // only the candidate buckets (manifest-stat bounded, per-retry)
    ext.injectResolutionRule(graft.sources.HubUpdateRule.apply)
    // ALTER COLUMN ... SET NOT NULL <hub table> — intercepted before
    // CheckAnalysis's blanket nullable→non-nullable refusal and lowered
    // onto the synthetic notnull_<col> CHECK
    ext.injectResolutionRule(graft.sources.HubNotNullRule.apply)
    // Delta-dialect maintenance STATEMENTS (OPTIMIZE / VACUUM / RESTORE /
    // DESCRIBE HISTORY) — rewritten to the CALL-procedure / metadata-table
    // forms; every other statement takes the zero-cost delegate path
    ext.injectParser((session, delegate) =>
      new GraftSqlParser(session, delegate))
    // restore SupportsReportStatistics across Spark's V1ScanWrapper so the
    // connector's manifest-backed sizes reach the join planner (broadcast
    // decisions) instead of degrading to defaultSizeInBytes. The wrapper
    // only exists AFTER "Early Filter and Projection Push-Down", and the
    // extension points (operator-optimization batch, preCBO) both run
    // BEFORE it — so the builder registers the rule into the session's
    // "User Provided Optimizers" batch (which runs after pushdown) and
    // returns it for the early batch too, where it is a harmless no-op.
    ext.injectOptimizerRule { session =>
      import org.apache.spark.sql.graftbridge.RestoreV1ScanStatistics
      val experimental = session.experimental
      if (!experimental.extraOptimizations
          .exists(_.isInstanceOf[RestoreV1ScanStatistics]))
        experimental.extraOptimizations =
          experimental.extraOptimizations :+ RestoreV1ScanStatistics(session)
      RestoreV1ScanStatistics(session)
    }
    ext.injectFunction((
      new FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "simhash"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "simhash(text, bits)")
        SimHash(args(0), litInt(args(1), "simhash bits"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_signature(text, n)")
        MinHashSignature(args(0), litInt(args(1), "minhash_signature n"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5_hash60"),
      new ExpressionInfo(classOf[Md5Hash60].getName, "md5_hash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "md5_hash60(text)")
        Md5Hash60(args(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CmsSketch].getName, "cms_sketch"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "cms_sketch(col, depth, width)")
        CmsSketch(args(0), litInt(args(1), "cms_sketch depth"),
          litInt(args(2), "cms_sketch width")).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cms_estimate(sketch, key)")
        CmsEstimate(args(0), args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product(arrA, arrB)")
        DotProduct(args(0), args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "word_shingles(text, n)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
            v.toString.toInt
          case other =>
            throw new IllegalArgumentException(
              s"word_shingles n must be a literal, got $other")
        }
        WordShingles(args(0), n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "repetition_stats(text)")
        RepetitionStats(args(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "nfc_normalize(text)")
        NfcNormalize(args(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("gopher_repetition"),
      new ExpressionInfo(classOf[GopherRepetition].getName,
        "gopher_repetition"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "gopher_repetition(text)")
        GopherRepetition(args(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_distinct"),
      new ExpressionInfo(classOf[KmvDistinct].getName, "kmv_distinct"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "kmv_distinct(col, k)")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
            v.toString.toInt
          case other =>
            throw new IllegalArgumentException(
              s"kmv_distinct k must be a literal, got $other")
        }
        KmvDistinct(args(0), k).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("bpe_stats"),
      new ExpressionInfo(classOf[graft.functions.BpeStats].getName, "bpe_stats"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "bpe_stats(text)")
        graft.functions.BpeStats(args(0))
      }))
  }
}
