package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled token-shingle hashing kernel for the dedup pipelines
  * ([[graft.ext.Dedup]]).
  *
  * Why a native expression: the relational shingle artifact pays three
  * taxes at once — an interpreted `transform(sequence, i ->
  * concat_ws(slice(...)))` lambda building every shingle STRING, a
  * corpus-wide DISTINCT shuffle of those strings, and (in the minhash
  * branch) a per-shingle md5 of the string again. This kernel emits
  * each document's DISTINCT shingle hashes in one codegen'd JVM call:
  * no interpreted lambda, the dedup happens in-row, and everything
  * downstream — blocking self-joins, document-frequency counts,
  * minhash permutations — shuffles and joins 8-byte BIGINTs instead
  * of multi-word strings. At cluster scale the blocking join is the
  * dominant shuffle of the whole dedup family; narrowing its key is
  * the single highest-leverage byte saving.
  *
  * Value parity: tokens = [[KernelText.foreachToken]] (the
  * `Tokenizer.tokensCol` contract; caller lowercases with Spark's own
  * `lower`), shingle = n consecutive tokens joined by one space, hash =
  * [[KernelText.Hasher.hash]] of the shingle — the exact
  * `Dedup.portableHash` value, raw (callers mod by the Mersenne prime
  * where needed).
  */
object ShingleImpl {

  /** Ordered, NON-distinct gram hashes — element i is the hash of the
    * gram STARTING at token position i, so `posexplode` over the result
    * yields (pos, gh) directly. The positional form backs
    * [[graft.ext.Dedup.duplicateSpans]], where position identity (not
    * the distinct set) is the payload. Same token/hash contract as
    * [[compute]].
    */
  def computeAll(s: UTF8String, n: Int): ArrayData = {
    val toks = tokens(s)
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](toks.length - n + 1)
    foreachGramHash(toks, n)((t, h) => out(t) = h)
    new GenericArrayData(out)
  }

  def compute(s: UTF8String, n: Int): ArrayData = {
    val toks = tokens(s)
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    foreachGramHash(toks, n)((_, h) => if (seen.add(h)) out += h)
    new GenericArrayData(out.toArray)
  }

  private def tokens(s: UTF8String): scala.collection.mutable.ArrayBuffer[String] = {
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    KernelText.foreachToken(s.toString)(toks += _)
    toks
  }

  /** `f(t, hash)` for the gram starting at each token position `t`. */
  private def foreachGramHash(
      toks: scala.collection.mutable.ArrayBuffer[String], n: Int)(f: (Int, Long) => Unit): Unit = {
    val hasher = KernelText.hasher
    val sb = new java.lang.StringBuilder
    var t = 0
    while (t <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(t + j))
        j += 1
      }
      f(t, hasher.hash(sb.toString))
      t += 1
    }
  }
}

/** `shingle_hashes_e(lowered_text, n)` → array<bigint> of the doc's
  * DISTINCT portable shingle hashes. Whole-stage-codegen'd: one static
  * call into [[ShingleImpl.compute]].
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes_e expects a string column, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes_e"

  override protected def nullSafeEval(input: Any): Any =
    ShingleImpl.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleImpl.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `shingle_pos_hashes_e(lowered_text, n)` → array<bigint> of the doc's
  * gram hashes IN POSITION ORDER (element i = gram starting at token
  * i, repeats kept) — posexplode yields (pos, gh) directly.
  */
case class ShinglePosHashes(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_pos_hashes_e expects a string column, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_pos_hashes_e"

  override protected def nullSafeEval(input: Any): Any =
    ShingleImpl.computeAll(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleImpl.computeAll($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShinglePosHashes =
    copy(child = newChild)
}

object ShingleFunctions {

  private def litN(e: Expression, name: String): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"$name: n must be an integer literal, got $other")
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_hashes_e",
      exprs => ShingleHashes(exprs(0), litN(exprs(1), "shingle_hashes_e")),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_pos_hashes_e",
      exprs => ShinglePosHashes(exprs(0), litN(exprs(1), "shingle_pos_hashes_e")),
      "built-in")
  }

  /** Column API (requires [[register]] on the session). */
  def shingle_hashes_e(lowered: Column, n: Int): Column =
    call_function("shingle_hashes_e", lowered,
      org.apache.spark.sql.functions.lit(n))

  def shingle_pos_hashes_e(lowered: Column, n: Int): Column =
    call_function("shingle_pos_hashes_e", lowered,
      org.apache.spark.sql.functions.lit(n))
}
