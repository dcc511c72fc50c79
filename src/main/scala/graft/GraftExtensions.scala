package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ContentChunks, CosineLshBucket, CosineSim, DotProduct, JaccardLong, Md5Hash60Array, MinHashSigMd5, ShingleStrings, SimHashMd5, SpanMd5Hashes, Sq8AsymSim, WordChunksMd5}

/** SparkSessionExtensions registration (SURVEY.md §4.2 / the custom-operator
  * ladder): exposes the native dedup expressions to SQL, so
  * `spark.sql("SELECT simhash_md5(text) FROM docs")` works next to the Column
  * API.
  *
  * Usage:
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)          // or
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // NOT registered here: VersionedScanStats (E188). injectOptimizerRule
    // lands rules in the operator-optimization batch, which runs BEFORE
    // "Early Filter and Projection Push-Down" — the V1ScanWrapper pattern
    // the rule matches does not exist yet at that point, so the
    // registration would be a silent no-op. The rule registers on
    // `experimental.extraOptimizations` ("User Provided Optimizers",
    // post-pushdown) in GraftCatalog.initialize — which every session
    // that can see a catalog table necessarily runs.
    ext.injectFunction((FunctionIdentifier("shingle_strings"),
      info("shingle_strings", "_FUNC_(text[, n]) - distinct n-word shingle strings"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => ShingleStrings(c, 3)
        case Seq(c, n) => ShingleStrings(c, n.eval().asInstanceOf[Int])
        case _ => throw new IllegalArgumentException("shingle_strings(text[, n])")
      }))
    ext.injectFunction((FunctionIdentifier("minhash_sig_md5"),
      info("minhash_sig_md5",
        "_FUNC_(shingles[, k]) - md5-based engine-portable MinHash signature"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => MinHashSigMd5(c, 8)
        case Seq(c, k) => MinHashSigMd5(c, k.eval().asInstanceOf[Int])
        case _ => throw new IllegalArgumentException("minhash_sig_md5(shingles[, k])")
      }))
    def unary(usage: String, mk: Expression => Expression):
        Seq[Expression] => Expression = {
      case Seq(c) => mk(c)
      case _ => throw new IllegalArgumentException(usage)
    }
    def binary(usage: String, mk: (Expression, Expression) => Expression):
        Seq[Expression] => Expression = {
      case Seq(a, b) => mk(a, b)
      case _ => throw new IllegalArgumentException(usage)
    }
    ext.injectFunction((FunctionIdentifier("simhash_md5"),
      info("simhash_md5", "_FUNC_(text) - 60-bit md5-based SimHash fingerprint"),
      unary("simhash_md5(text)", SimHashMd5)))
    ext.injectFunction((FunctionIdentifier("jaccard_long"),
      info("jaccard_long", "_FUNC_(a, b) - Jaccard similarity of long arrays"),
      binary("jaccard_long(a, b)", JaccardLong)))
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "_FUNC_(a, b) - cosine similarity of float/double arrays"),
      binary("cosine_sim(a, b)", CosineSim)))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "_FUNC_(a, b) - dot product of float/double arrays"),
      binary("dot_product(a, b)", DotProduct)))
    ext.injectFunction((FunctionIdentifier("content_chunks"),
      info("content_chunks",
        "_FUNC_(text[, avgBits]) - Rabin-Karp content-defined chunk hashes"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => ContentChunks(c, 6)
        case Seq(c, b) => ContentChunks(c, b.eval().asInstanceOf[Int])
        case _ => throw new IllegalArgumentException("content_chunks(text[, avgBits])")
      }))
    ext.injectFunction((FunctionIdentifier("word_chunks_md5"),
      info("word_chunks_md5",
        "_FUNC_(text[, avgBits]) - md5 word-level content-defined chunk keys"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => WordChunksMd5(c, 3)
        case Seq(c, b) => WordChunksMd5(c, b.eval().asInstanceOf[Int])
        case _ => throw new IllegalArgumentException("word_chunks_md5(text[, avgBits])")
      }))
    ext.injectFunction((FunctionIdentifier("span_md5_hashes"),
      info("span_md5_hashes",
        "_FUNC_(text[, n]) - positional md5 hashes of every n-word gram (span removal)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => SpanMd5Hashes(c, 8)
        case Seq(c, n) => SpanMd5Hashes(c, n.eval().asInstanceOf[Int])
        case _ => throw new IllegalArgumentException("span_md5_hashes(text[, n])")
      }))
    ext.injectFunction((FunctionIdentifier("md5_hash60_array"),
      info("md5_hash60_array",
        "_FUNC_(strings) - element-wise 60-bit md5 hashes (engine-portable)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => Md5Hash60Array(c)
        case _ => throw new IllegalArgumentException("md5_hash60_array(strings)")
      }))
    ext.injectFunction((FunctionIdentifier("sq8_asym_sim"),
      info("sq8_asym_sim",
        "_FUNC_(qvec, codes, mns, spans) - asymmetric SQ8 cosine (exact query vs uint8-decoded corpus)"),
      (args: Seq[Expression]) => args match {
        case Seq(q, c, m, s) => Sq8AsymSim(q, c, m, s)
        case _ => throw new IllegalArgumentException(
          "sq8_asym_sim(qvec, codes, mns, spans)")
      }))
    ext.injectFunction((FunctionIdentifier("cosine_lsh_bucket"),
      info("cosine_lsh_bucket",
        "_FUNC_(vec[, planes[, table]]) - sign-pattern LSH bucket id over md5-derived hyperplanes"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => CosineLshBucket(c, 8, 0)
        case Seq(c, p) => CosineLshBucket(c, p.eval().asInstanceOf[Int], 0)
        case Seq(c, p, t) => CosineLshBucket(c, p.eval().asInstanceOf[Int],
          t.eval().asInstanceOf[Int])
        case _ => throw new IllegalArgumentException(
          "cosine_lsh_bucket(vec[, planes[, table]])")
      }))
    // NOT registered here: the theta sketch family — Spark 4.1 ships
    // `theta_sketch_agg` / `theta_union` / `theta_intersection` /
    // `theta_difference` / `theta_sketch_estimate` natively; injecting
    // our own would SHADOW the built-ins (E171 uses them directly).
  }
}
