package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled winnowing kernel (Schleimer/Wilkerson/Aiken 2003; see
  * [[graft.ext.TextAnalysis.winnowFingerprints]] for the relational
  * formulation and the shared semantics).
  *
  * Why a native expression (preference order (b) — Expression before
  * UDF): the pure-relational in-row variant pays Spark's interpreted
  * higher-order-function tax — `transform`/`zip_with` lambda bodies
  * run outside whole-stage codegen, so its per-k-gram md5 is ~2-3×
  * slower than codegen'd hashing (measured, PLANS_r4.md), while the
  * explode+window variant shuffles ~corpus-chars rows. This kernel
  * keeps BOTH properties: one compiled JVM call per row (tight loops,
  * no per-element boxing) and zero exchange.
  *
  * Value parity: hash = [[KernelText.Hasher.hash]] of the UTF-8 bytes
  * (== `Dedup.portableHash` == DuckDB `substr(md5(x),1,15)`), taken
  * mod 2^31-1; selection key = h·2^31 + (2^31 - pos) (rightmost-min
  * rule as one scalar min); fingerprint = key >> 31. Substrings use
  * `substringSQL`, the same codepoint semantics as SQL `substr`.
  */
object WinnowImpl {
  val Prime = 2147483647L // 2^31-1
  private val Two31 = 2147483648L

  /** Distinct selected fingerprints of `s` (already lowercased by the
    * caller — the column layer applies Spark's own `lower` so case
    * folding can never diverge from the relational variants).
    *
    * Hot-loop discipline (VERDICT r9 item 5 — this kernel was the
    * board's largest honest entry): ONE `getBytes` per document, k-gram
    * bytes fed to the digest straight from that array via a
    * codepoint→byte-offset table (identity offsets skipped entirely on
    * the pure-ASCII fast path), the digest written into the
    * [[KernelText.Hasher]]'s reused buffer — zero per-gram allocation.
    * The old form allocated a substring UTF8String + its byte copy + a
    * fresh digest array per gram and boxed every fingerprint into a
    * HashSet; allocations, not MD5, were the measured cost. Output
    * order is free (every consumer is set-shaped: explode →
    * distinct/sort), so dedup is adjacent-skip + one primitive sort
    * instead of a boxing hash set.
    */
  def compute(s: UTF8String, k: Int, window: Int): ArrayData = {
    val nChars = s.numChars()
    val nGrams = nChars - k + 1
    if (nGrams < window) return new GenericArrayData(Array.empty[Long])
    val hasher = KernelText.hasher
    val bytes = s.getBytes
    val ascii = bytes.length == nChars
    val offs: Array[Int] =
      if (ascii) null
      else {
        val o = new Array[Int](nChars + 1)
        var bi = 0
        var ci = 0
        while (bi < bytes.length) {
          o(ci) = bi
          bi += UTF8String.numBytesForFirstByte(bytes(bi))
          ci += 1
        }
        o(nChars) = bytes.length
        o
      }
    val keys = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val v =
        if (ascii) hasher.hash(bytes, i, k)
        else hasher.hash(bytes, offs(i), offs(i + k) - offs(i))
      keys(i) = (v % Prime) * Two31 + (Two31 - (i + 1))
      i += 1
    }
    val sel = new Array[Long](nGrams - window + 1)
    var nSel = 0
    var last = Long.MinValue
    i = window - 1
    while (i < nGrams) {
      var m = keys(i)
      var j = 1
      while (j < window) {
        val c = keys(i - j)
        if (c < m) m = c
        j += 1
      }
      val fp = m >> 31
      // the window min persists across consecutive positions, so runs
      // collapse here; non-adjacent repeats fall to the sort+dedup
      if (fp != last) { sel(nSel) = fp; nSel += 1; last = fp }
      i += 1
    }
    java.util.Arrays.sort(sel, 0, nSel)
    var w = 0
    i = 0
    while (i < nSel) {
      if (w == 0 || sel(w - 1) != sel(i)) { sel(w) = sel(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sel, w))
  }
}

/** `winnow_fps(lowered_text, k, window)` → array<bigint> of the doc's
  * distinct winnowing fingerprints. Whole-stage-codegen'd: the
  * generated code is a single static call into [[WinnowImpl.compute]].
  */
case class WinnowFingerprints(child: Expression, k: Int, window: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps expects a string column, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override protected def nullSafeEval(input: Any): Any =
    WinnowImpl.compute(input.asInstanceOf[UTF8String], k, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowImpl.compute($c, $k, $window)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFunctions {

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fps",
      exprs => {
        def intOf(e: Expression): Int = e.eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"winnow_fps: k/window must be integer literals, got $other")
        }
        WinnowFingerprints(exprs(0), intOf(exprs(1)), intOf(exprs(2)))
      },
      "built-in")

  /** Column API (requires [[register]] on the session). */
  def winnow_fps(lowered: Column, k: Int, window: Int): Column =
    call_function("winnow_fps", lowered,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(window))
}
