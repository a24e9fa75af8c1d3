package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Compiled MinHash-signature kernel (r15, VERDICT item 4): all k
  * affine-permutation minima of a document's shingle-hash array in ONE
  * in-row pass — the projection form of
  * [[graft.ext.Dedup.minhashSignatures]]'s groupBy aggregate and the
  * compiled form of [[graft.ext.Dedup.inRowSignature]]'s interpreted
  * `transform`/`array_min` HOF tree.
  *
  * Why: the relational signature build re-scans the exploded
  * (doc_id, shingle) relation and pays one hash-aggregate probe plus k
  * mult-mod expression updates PER SHINGLE ROW, then a shuffle to
  * finalize per-doc rows. A signature depends only on its own doc's
  * shingles, so over the per-doc hash array it is a pure projection:
  * no exploded-relation scan, no aggregation, no exchange.
  *
  * Value parity with the aggregate (bit-for-bit): h = pmod(v, P) where
  * v ≥ 0 (60-bit portable hash) so pmod == %, and each permutation is
  * (a·h + b) % P with a, b, h < P = 2³¹−1, so a·h + b < 2⁶² never
  * overflows a Long — operand-identical to the aggregate's
  * `min(pmod(lit(a) * h + lit(b), P))`. Duplicate hashes cannot change
  * a min, so the distinct-ness of the input array is irrelevant.
  * An EMPTY array yields NULL (the aggregate form emits no row for a
  * doc with no shingles; callers filter the NULLs to keep the artifact
  * row set identical).
  */
object MinhashImpl {
  import graft.ext.Dedup.{minhashParams, MersennePrime}

  /** (a, b) pairs flattened as [a0, b0, a1, b1, ...] per k, memoized —
    * params are deterministic in k.
    */
  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  def params(k: Int): Array[Long] =
    paramCache.computeIfAbsent(k, k => {
      val ps = minhashParams(k)
      val out = new Array[Long](2 * k)
      var i = 0
      while (i < k) { out(2 * i) = ps(i)._1; out(2 * i + 1) = ps(i)._2; i += 1 }
      out
    })

  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val ps = params(k)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val P = MersennePrime
    var j = 0
    while (j < n) {
      val v = arr.getLong(j)
      val h = ((v % P) + P) % P // pmod; v ≥ 0 in practice, kept exact
      var i = 0
      while (i < k) {
        val c = (ps(2 * i) * h + ps(2 * i + 1)) % P
        if (c < mins(i)) mins(i) = c
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}

/** `minhash_sigs_e(shingle_hash_array, k)` → array<bigint> of the k
  * signature minima (NULL for an empty input array).
  *
  * Declared NON-DETERMINISTIC (the `text_gate_e` recipe, guide §4.4):
  * the value is pure — the flag only forbids the optimizer from
  * collapsing the aliasing Project and re-evaluating the kernel once
  * per extracted `mh_i` column (k = 16 kernel calls per row instead
  * of 1).
  */
case class MinhashSigs(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs_e expects array<bigint>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs_e"
  override lazy val deterministic: Boolean = false

  override protected def nullSafeEval(input: Any): Any =
    MinhashImpl.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.MinhashImpl.compute($c, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
    code
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}

object MinhashFunctions {

  private def litK(e: Expression): Int = (if (e.foldable) e.eval(null) else e) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"minhash_sigs_e: k must be an integer literal, got $other")
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sigs_e",
      exprs => MinhashSigs(exprs(0), litK(exprs(1))),
      "built-in")

  /** Column API (requires [[register]] on the session). */
  def minhash_sigs_e(shingleHashes: Column, k: Int): Column =
    call_function("minhash_sigs_e", shingleHashes,
      org.apache.spark.sql.functions.lit(k))
}
