package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native functions
  * at session build time, so deployments can enable them cluster-wide with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (no code changes in
  * user jobs). Local callers can equivalently use
  * [[VectorExpressions.register]] on an existing session; both read
  * [[GraftExtensions.functions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => SpecializeFloatDot)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** A plan-time constant int argument (gram width 2/3/5, hex-prefix width
    * 4/7/15), never data. */
  private def intLiteral(signature: String, e: Expression): Int = e.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"$signature: n must be an int literal, got $other")
  }

  /** Every native function of the engine, by SQL name. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn("graft_dot", classOf[DotProduct])(e => DotProduct(e(0), e(1))),
    fn("graft_dot_long", classOf[LongDotProduct])(e => LongDotProduct(e(0), e(1))),
    // the centroid table (third argument) must be a foldable literal
    fn("graft_argmax_cell", classOf[ArgMaxCell])(e => ArgMaxCell(e(0), e(1), e(2))),
    fn("graft_bounded_lev", classOf[BoundedLevenshtein])(e =>
      BoundedLevenshtein(e(0), e(1), e(2))),
    fn("graft_nfc", classOf[NfcNormalize])(e => NfcNormalize(e(0))),
    fn("graft_skeleton", classOf[ConfusableSkeleton])(e => ConfusableSkeleton(e(0))),
    fn("graft_minhash_sig", classOf[MinHashSignature])(e => MinHashSignature(e(0))),
    fn("graft_sq8", classOf[Sq8Codes])(e => Sq8Codes(e(0))),
    fn("graft_gram_hashes", classOf[GramHashes])(e =>
      GramHashes(e(0), intLiteral("graft_gram_hashes(words, n)", e(1)))),
    fn("graft_md5_prefix", classOf[Md5Prefix])(e =>
      Md5Prefix(e(0), intLiteral("graft_md5_prefix(s, n)", e(1)))),
    // the handle resolves to a broadcast sketch at analysis time, on the
    // driver — see BloomRegistry
    fn("graft_bloom_contains", classOf[BloomMightContainLong])(e =>
      BloomMightContainLong(e(0), BloomRegistry.resolve(e(1).eval().toString))),
    fn("graft_bloom_positions", classOf[BloomPositions])(e =>
      BloomPositions(e(0), BloomRegistry.resolve(e(1).eval().toString))),
    fn("graft_bitmap_contains", classOf[BitmapContainsLong])(e =>
      BitmapContainsLong(e(0), BloomRegistry.resolve(e(1).eval().toString))))
}
