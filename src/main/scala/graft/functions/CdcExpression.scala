package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled content-defined-chunking boundary scan (FastCDC/LBFS
  * recipe; see [[graft.ext.Pipeline.cdcChunks]] for the chunk
  * assembly and the shared semantics).
  *
  * Why a native expression (preference order (b), the [[WinnowImpl]]
  * precedent): boundary detection is a per-character scan, and the
  * pure-relational form ran it as an interpreted `filter` lambda over
  * `sequence(window, len−1)` — md5 + `conv` + substring expression
  * trees evaluated per character position outside whole-stage codegen
  * (r8 verdict item 3: 68.7 s at sf1 + the 34.8 s chunk-dedup
  * consumer). This kernel is the identical boundary rule as one
  * compiled JVM call per row: tight loop, one thread-local
  * [[KernelText.Hasher]], no per-position expression interpretation.
  *
  * Value parity (== the SQL form == the DuckDB oracle): a cut falls
  * AFTER 1-based codepoint position `i` for `i ∈ [window, len−1]`
  * iff [[KernelText.Hasher.hash]] of the UTF-8 bytes of
  * `substring(text, i−window+1, window)` — exactly
  * [[graft.ext.Dedup.portableHash]] — lands on
  * `0 mod modulus`. Returns `[0] ++ cuts ++ [len]`; substrings use
  * `substringSQL`, the same codepoint semantics as SQL `substring`.
  */
object CdcImpl {
  def bounds(s: UTF8String, window: Int, modulus: Int): ArrayData = {
    val n = s.numChars()
    val hasher = KernelText.hasher
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    out += 0L
    if (n > window) {
      // ASCII fast path (numBytes == numChars ⇒ 1 byte per codepoint):
      // the window slides over the raw byte array — zero per-position
      // substring/copy allocations, md5 reads the bytes in place.
      // Identical boundaries to the general path: for ASCII the UTF-8
      // bytes of substring(i−w+1, w) ARE bytes [i−w, i).
      val ascii = s.numBytes() == n
      val bytes = if (ascii) s.getBytes else null
      var i = window
      while (i < n) {
        val v = if (ascii) hasher.hash(bytes, i - window, window)
        else {
          val w = s.substringSQL(i - window + 1, window).getBytes
          hasher.hash(w, 0, w.length)
        }
        if (v % modulus == 0) out += i.toLong
        i += 1
      }
    }
    out += n.toLong
    new GenericArrayData(out.toArray)
  }
}

/** `cdc_bounds(text, window, modulus)` → array<bigint> of chunk
  * boundary positions `[0, cut…, len]` (cut AFTER each listed 1-based
  * position). Whole-stage-codegen'd: one static call into
  * [[CdcImpl.bounds]].
  */
case class CdcBounds(child: Expression, window: Int, modulus: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType =>
      // Analysis-time parameter validation (ADVICE r9): modulus < 1
      // would throw ArithmeticException (v % 0) per-row on executors,
      // window < 1 would silently cut at every position — both should
      // fail when the plan is built, not when the first row runs.
      if (window < 1)
        TypeCheckResult.TypeCheckFailure(s"cdc_bounds: window must be >= 1, got $window")
      else if (modulus < 1)
        TypeCheckResult.TypeCheckFailure(s"cdc_bounds: modulus must be >= 1, got $modulus")
      else TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cdc_bounds expects a string column, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cdc_bounds"

  override protected def nullSafeEval(input: Any): Any =
    CdcImpl.bounds(input.asInstanceOf[UTF8String], window, modulus)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CdcImpl.bounds($c, $window, $modulus)")

  override protected def withNewChildInternal(newChild: Expression): CdcBounds =
    copy(child = newChild)
}

object CdcFunctions {

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cdc_bounds",
      exprs => {
        def intOf(e: Expression): Int = e.eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"cdc_bounds: window/modulus must be integer literals, got $other")
        }
        CdcBounds(exprs(0), intOf(exprs(1)), intOf(exprs(2)))
      },
      "built-in")

  /** Column API (requires [[register]] on the session). */
  def cdc_bounds(text: Column, window: Int, modulus: Int): Column =
    call_function("cdc_bounds", text, lit(window), lit(modulus))
}
