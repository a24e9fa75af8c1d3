package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled single-pass curation-gate kernel (r15, VERDICT r14 item 3):
  * `text_gate_e(text)` → struct(n_tokens, n_distinct, tok_char_sum,
  * hits array<int> — one hit count per configured stopword list).
  *
  * [[graft.ext.TextAnalysis.languageId]] + [[graft.ext.TextAnalysis.qualityScore]]
  * previously evaluated the tokenizer (regex split + HOF empty-filter)
  * and ~10 higher-order array traversals per row — HOFs are
  * interpreted, outside whole-stage codegen AND outside codegen
  * subexpression elimination, so the composed curation gate paid ~5
  * regex tokenizations per document (OPTIMIZATION_r15.md's sf1 warm
  * decomposition: the gate projections alone were 12.4 s of
  * x_stream_curation's 14.6 s). This kernel makes all token-derived
  * gate statistics ONE compiled pass.
  *
  * Tokenizer identity (bit-parity with
  * [[graft.text.Tokenizer.tokensCol]] = `filter(split(lower(coalesce(
  * text, '')), "[^a-z0-9]+"), t => t != "")`): the kernel lowercases
  * via the same UTF8String.toLowerCase that `lower()` uses, and splits
  * with [[KernelText.foreachToken]] — exactly the non-empty pieces of the
  * regex split. Counts:
  *
  *  - n_tokens: number of tokens (= `size(tokens)`)
  *  - n_distinct: distinct token strings (= `size(array_distinct(tokens))`)
  *  - tok_char_sum: Σ token length (= `aggregate(tokens, 0L, acc + length)`
  *    — tokens are ASCII runs, so chars = codepoints)
  *  - hits(i): tokens equal to any word of list i
  *    (= `size(filter(tokens, isin(words_i)))`)
  */
object TextGateImpl {
  def compute(s: UTF8String, sets: Array[java.util.HashSet[String]]): InternalRow = {
    var nTokens = 0
    var tokCharSum = 0L
    val distinct = new java.util.HashSet[String]()
    val hits = new Array[Int](sets.length)
    KernelText.foreachToken(if (s == null) "" else s.toLowerCase.toString) { tok =>
      nTokens += 1
      tokCharSum += tok.length.toLong
      distinct.add(tok)
      var l = 0
      while (l < sets.length) {
        if (sets(l).contains(tok)) hits(l) += 1
        l += 1
      }
    }
    new GenericInternalRow(Array[Any](
      nTokens, distinct.size, tokCharSum,
      new GenericArrayData(hits.map(Integer.valueOf(_).asInstanceOf[Any]))))
  }
}

/** The expression node. `langWords` is the ordered list of stopword
  * lists; `hits` reports one count per list in the same order.
  */
case class TextGateStats(child: Expression, langWords: Seq[Seq[String]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"text_gate_e expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("tok_char_sum", LongType, nullable = false),
    StructField("hits", ArrayType(IntegerType, containsNull = false),
      nullable = false)))
  override def prettyName: String = "text_gate_e"

  // Marked non-reorderable (guide §4.4): the gate filters reference
  // columns DERIVED from this struct, and predicate pushdown substitutes
  // those aliases — inlining one full kernel call PER REFERENCE into the
  // pushed predicate (~15 tokenization passes per row for the curation
  // gate, recorded in OPTIMIZATION_r15.md). The value is pure and
  // deterministic; this flag only forbids the optimizer to duplicate,
  // reorder, or constant-fold the call, so each row tokenizes ONCE in
  // the Project and the filter consumes the materialized columns. The
  // documented trade: other filters cannot push past a projection
  // holding this expression — gate consumers filter immediately above
  // the scan, so there is nothing to push past.
  override lazy val deterministic: Boolean = false

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    langWords.map { ws =>
      val s = new java.util.HashSet[String]()
      ws.foreach(w => s.add(w): Unit)
      s
    }.toArray

  override protected def nullSafeEval(input: Any): Any =
    TextGateImpl.compute(input.asInstanceOf[UTF8String], sets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("gateSets", sets,
      "java.util.HashSet[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextGateImpl.compute($c, $setsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextGateStats =
    copy(child = newChild)
}

object TextGateFunctions {

  /** Register `text_gate_e` with the given ordered stopword lists
    * closed over (the caller owns the lang ordering — see
    * [[graft.ext.TextAnalysis.stopwords]]).
    */
  def register(spark: SparkSession, langWords: Seq[Seq[String]]): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "text_gate_e",
      exprs => TextGateStats(exprs(0), langWords),
      "built-in")

  /** Column API (requires [[register]] on the session). */
  def text_gate_e(text: Column): Column = call_function("text_gate_e", text)
}
