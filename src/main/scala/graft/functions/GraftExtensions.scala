package graft.functions

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** graft's SQL functions: one `(name, info, arity-checked builder)` row each,
  * in `SparkSessionExtensions.injectFunction` form. */
object GraftFunctions {

  type Fn = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, info: ExpressionInfo, arity: Int)(
      make: PartialFunction[Seq[Expression], Expression]): Fn =
    (FunctionIdentifier(name), info, args =>
      make.applyOrElse(args, (other: Seq[Expression]) => throw new IllegalArgumentException(
        s"$name expects $arity argument${if (arity == 1) "" else "s"}, got ${other.size}")))

  private def described(cls: Class[_], name: String, usage: String) =
    new ExpressionInfo(cls.getName, null, name, usage, "", "", "", "", "", "", "built-in")

  private def binary(name: String, cls: Class[_], usage: String)(
      make: (Expression, Expression) => Expression): Fn =
    fn(name, described(cls, name, usage), 2) { case Seq(a, b) => make(a, b) }

  private def unary(name: String, make: Expression => Expression): Fn =
    fn(name, new ExpressionInfo(classOf[Sketches.type].getName, null, name), 1) {
      case Seq(c) => make(c)
    }

  val table: Seq[Fn] = Seq(
    binary("cosine_similarity", classOf[CosineSimilarity],
      "_FUNC_(a, b) - cosine similarity of two float vectors")(CosineSimilarity),
    binary("graft_dist2", classOf[Dist2],
      "_FUNC_(a, b) - squared L2 distance of two double vectors")(Dist2),
    binary("graft_dot", classOf[DotProduct],
      "_FUNC_(a, b) - dot product of two double vectors")(DotProduct),
    unary("graft_simhash32", SimHash32),
    unary("graft_minhash_sig", MinHashSignature),
    unary("graft_shingle_hashes", ShingleHashes),
    unary("graft_lsh_buckets", LshBuckets),
    unary("graft_text_counts", TextCounts),
    unary("graft_span_hashes", SpanHashes),
    unary("graft_line_hashes", LineHashes),
    unary("graft_bigram_hashes", BigramHashes),
    unary("graft_trigram_hashes", TrigramHashes),
    unary("graft_char_entropy", CharEntropy),
    unary("graft_nfc", NfcNormalize),
    unary("graft_html_text", HtmlText),
    unary("graft_minhash_agg", (c: Expression) => MinHashAgg(c)),
    fn("graft_gram_hashes",
      new ExpressionInfo(classOf[GramHashes].getName, null, "graft_gram_hashes"), 2) {
      case Seq(t, k) => GramHashes(t, k)
    },
    fn("graft_bottomk_distinct", new ExpressionInfo(
      classOf[BottomKDistinctAgg].getName, null, "graft_bottomk_distinct"), 2) {
      case Seq(c, k) => BottomKDistinctAgg(c, k)
    })
}

/** Installs [[GraftFunctions.table]] and the [[StableBatchTimestamp]]
  * optimizer rule into every SparkSession a builder creates. It is listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * which `SparkSession.Builder.getOrCreate` loads through `ServiceLoader`,
  * so no caller registers anything. `getOrCreate` logs a provider's failure
  * as a warning and goes on; GraftExtensionsSpec resolves every function
  * in a plain session so such a failure cannot go unseen. */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => StableBatchTimestamp)
  }
}
