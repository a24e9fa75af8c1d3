package graft

import graft.functions.{DotProductDouble, DotProductFloat, FtsMatch, PorterStem}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension entry point: registers the engine's native
  * functions so any session started with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) can use them from SQL —
  * which means user extraction rules (SURVEY §2.1 S3, the
  * arbitrary-user-SQL contract) can tokenize, stem and compare
  * embeddings without any engine-side code.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    // compile fts_match predicates to codegen-able RLIKE trees
    ext.injectOptimizerRule(_ => graft.plans.RewriteFtsMatch)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name, usage, "", "")

  private val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("porter_stem",
      "porter_stem(str) - Porter-stems a lowercase token.",
      exprs => PorterStem(exprs.head)),
    ("dot_product_f",
      "dot_product_f(a, b) - double-precision dot product of two float arrays.",
      exprs => DotProductFloat(exprs(0), exprs(1))),
    ("dot_product_d",
      "dot_product_d(a, b) - dot product of two double arrays.",
      exprs => DotProductDouble(exprs(0), exprs(1))),
    ("sorted_intersect",
      "sorted_intersect(a, b) - two-pointer merge intersection of two sorted duplicate-free arrays.",
      exprs => graft.functions.SortedIntersect(exprs(0), exprs(1))),
    ("fts_match",
      "fts_match(title, search_1, query) - FTS5-style boolean MATCH over two text fields.",
      exprs => FtsMatch(exprs(0), exprs(1), exprs(2))),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // internal runtime join filters but does not expose them as SQL
    // functions; registering them makes the classic broadcast-sketch
    // prescreen (build a bloom over the small side, fold it into the
    // big-side scan) available to user SQL and the library
    // (Pipeline.contaminationBloom).
    ("bloom_filter_agg",
      "bloom_filter_agg(col[, estimatedNumItems[, numBits]]) - aggregates LONG values into a bloom-filter binary.",
      exprs => exprs match {
        case Seq(c) => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, n) => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
        case _ => throw new IllegalArgumentException(
          "bloom_filter_agg takes 1-3 arguments")
      }),
    ("might_contain",
      "might_contain(bloom, value) - true if the bloom-filter binary may contain the LONG value.",
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1))),
    ("token_pipe_e",
      "token_pipe_e(text, mode) - fused tokenize + per-token transform " +
        "(0 = porter stem, 1 = diacritic fold, 2 = ascii casefold).",
      exprs => graft.functions.TokenPipe(exprs(0),
        graft.functions.TokenFunctions.resolveMode(exprs(1))))
  )

  /** Register the same functions on an ALREADY-RUNNING session (builder
    * extensions only apply to new sessions; `getOrCreate` on an active
    * one silently skips them).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
