package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{Bpe, FastText, HashExpressions, Pq, VectorExpressions}
import graft.functions.HashExpressions._

/** `SparkSessionExtensions` injector for the engine's custom Catalyst
  * expressions — the standard deployment path
  * (`spark.sql.extensions=graft.engine.GraftExtensions` or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`), mirroring
  * how the reference packages its custom operators behind a single
  * session-context builder (`distributed_ext.rs:76-120`, SURVEY.md §0).
  *
  * [[GraftExtensions.functions]] is the one table of SQL-callable names;
  * every session built this way (and each of its `newSession()`s) has all
  * of them. The `graft.functions` Column accessors do not go through this
  * table or any registry: they build the same expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => graft.plans.BroadcastGuard(session))
    // Reference PartialReduce analog; inert unless spark.graft.partialReduce
    // is set on the session (off by default, like the reference's).
    ext.injectQueryStagePrepRule(session => graft.plans.PartialReduce(session))
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  /** Argument `i` of SQL function `fn`, which must be an INT or BIGINT
    * literal (SQL parses `4` as INT and `4L` as BIGINT); anything else
    * fails at analysis naming the function and the argument.
    */
  private def intLit(fn: String, arg: String, exprs: Seq[Expression], i: Int): Long =
    exprs(i).eval(InternalRow.empty) match {
      case x: Int => x.toLong
      case x: Long => x
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal, got $other")
    }

  /** One SQL function: its name is the `usage` text before the `(`. */
  private def fn(usage: String)(build: Seq[Expression] => Expression) = {
    val name = usage.takeWhile(_ != '(')
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      build)
  }

  // Builders with state (fasttext_score, pq_*) fetch the application's
  // broadcast from the active session when the call is resolved.
  val functions = Seq(
    fn("simhash64(tokens) - 64-bit SimHash of a token array")(
      e => SimHash64(e.head)),
    fn("minhash_signature(tokens, shingleLen, k) - k minhashes over word shingles")(
      e => MinHashSignature(e.head,
        intLit("minhash_signature", "shingleLen", e, 1).toInt,
        intLit("minhash_signature", "k", e, 2).toInt)),
    fn("minhash_bands(tokens, shingleLen, k, r) - k/r LSH band hashes")(
      e => MinHashBandHashes(e.head,
        intLit("minhash_bands", "shingleLen", e, 1).toInt,
        intLit("minhash_bands", "k", e, 2).toInt,
        intLit("minhash_bands", "r", e, 3).toInt)),
    fn("shingle_hashes(tokens, shingleLen) - rolling hashes of word shingles")(
      e => ShingleHashes(e.head, intLit("shingle_hashes", "shingleLen", e, 1).toInt)),
    fn("hyperplane_lsh(vec, nBits, seed) - random-hyperplane LSH bucket")(
      e => HyperplaneLsh(e.head, intLit("hyperplane_lsh", "nBits", e, 1).toInt,
        intLit("hyperplane_lsh", "seed", e, 2))),
    fn("winnow_fingerprints(str, k, w) - winnowed k-gram fingerprint set")(
      e => WinnowFingerprints(e.head,
        intLit("winnow_fingerprints", "k", e, 1).toInt,
        intLit("winnow_fingerprints", "w", e, 2).toInt)),
    fn("byte_stride(bin, n) - every n-th byte of a binary value")(
      e => ByteStride(e.head, intLit("byte_stride", "n", e, 1).toInt)),
    fn("ascii_sum(str) - sum of UTF-8 byte values")(e => AsciiSum(e.head)),
    fn("nfc_normalize(str) - Unicode NFC normalization")(e => NfcNormalize(e.head)),
    fn("interleave_bits(x, y) - Morton/Z-order encode of two 32-bit values")(
      e => HashExpressions.interleaveExpr(e(0), e(1))),
    fn("dot_f(a, b) - double dot product of two float/double arrays")(
      e => VectorExpressions.dotExpr(e(0), e(1))),
    fn("l2sq_f(a, b) - squared L2 distance of two float/double arrays")(
      e => VectorExpressions.l2sqExpr(e(0), e(1))),
    fn("sign_project(vec, dims, seed) - random ±1 projection to dims doubles")(
      e => VectorExpressions.signProjectExpr(e.head,
        intLit("sign_project", "dims", e, 1).toInt,
        intLit("sign_project", "seed", e, 2))),
    fn("bpe_encode(str) - planted-vocab subword token ids")(
      e => Bpe.BpeEncode(e.head)),
    fn("fasttext_score(str) - planted fastText classifier score")(
      e => FastText.FastTextScore(e.head, FastText.weightsBc(SparkSession.active))),
    fn("pq_encode(vec) - struct(code, err) against the planted PQ codebook")(
      e => Pq.PqEncode(e.head, Pq.codebookBc(SparkSession.active))),
    fn("pq_lut(vec) - ADC lookup table against the planted PQ codebook")(
      e => Pq.PqLut(e.head, Pq.codebookBc(SparkSession.active))),
    fn("pq_coarse_dists(vec) - distances to the planted coarse centroids")(
      e => Pq.PqCoarseDists(e.head, Pq.coarseBc(SparkSession.active))),
    fn("pq_residual_encode(vec) - struct(cell, code, err) residual IVF-PQ encode")(
      e => Pq.PqResidualEncode(e.head,
        Pq.coarseBc(SparkSession.active), Pq.codebookBc(SparkSession.active))),
    fn("pq_residual_lut(vec, cell) - residual ADC lookup table for one cell")(
      e => Pq.PqLutResidual(e(0), e(1),
        Pq.coarseBc(SparkSession.active), Pq.codebookBc(SparkSession.active))))
}
