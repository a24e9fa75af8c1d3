package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Compiled sorted-array intersection — the triangle-closure kernel
  * (see [[graft.ext.Graph.triangleStats]]).
  *
  * Why a native expression (preference order (b), the [[WinnowImpl]]
  * precedent): the edge-iterator triangle count evaluates
  * N⁺(u) ∩ N⁺(v) once per oriented edge, and built-in
  * `array_intersect` builds a hash set PER CALL — ~12M rows × ~60
  * boxed-long hash inserts at sf1 made the closure join the query's
  * whole cost (probe: 17-54 s, the 2nd most expensive query after
  * the r9 kernel round). Over orientation-capped adjacency lists that
  * are sorted ONCE at build (`sort_array` after `collect_list`), the
  * intersection is a two-pointer merge walk: O(|a|+|b|) primitive
  * compares, no hashing, no boxing, inside whole-stage codegen.
  *
  * CONTRACT: both inputs sorted ascending and duplicate-free (the
  * adjacency build guarantees both: edges are `distinct()` before
  * orientation). Output is the sorted intersection — the same SET
  * `array_intersect` returns (its first-array element order is
  * irrelevant to every consumer: the closure credit explodes + sums).
  */
object SortedIntersectImpl {

  def intersect(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = new Array[Long](if (na < nb) na else nb)
    var i = 0
    var j = 0
    var k = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { out(k) = x; k += 1; i += 1; j += 1 }
    }
    if (k == out.length) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }

  /** Int variant (r15): same merge walk over primitive ints — the FTS
    * position lists ([[graft.index.TextIndex.positions]]) are sorted
    * duplicate-free array<int>.
    */
  def intersectInt(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = new Array[Int](if (na < nb) na else nb)
    var i = 0
    var j = 0
    var k = 0
    while (i < na && j < nb) {
      val x = a.getInt(i)
      val y = b.getInt(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { out(k) = x; k += 1; i += 1; j += 1 }
    }
    if (k == out.length) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }

  /** String variant: same merge walk over UTF8String binary order —
    * the order `sort_array` produces under the default UTF8_BINARY
    * collation.
    */
  def intersectStr(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = new Array[AnyRef](if (na < nb) na else nb)
    var i = 0
    var j = 0
    var k = 0
    while (i < na && j < nb) {
      val x = a.getUTF8String(i)
      val y = b.getUTF8String(j)
      val c = x.compareTo(y)
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else { out(k) = x; k += 1; i += 1; j += 1 }
    }
    if (k == out.length) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }
}

/** `sorted_intersect(a, b)` → two-pointer merge intersection of two
  * sorted duplicate-free arrays; element type bigint or string (the
  * co-purchase graph's long part keys and the spec graphs' string
  * ids).
  */
case class SortedIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
    case ArrayType(_: org.apache.spark.sql.types.StringType, _) => true
    case _ => false
  }

  private def elemKind: String =
    left.dataType.asInstanceOf[ArrayType].elementType match {
      case LongType => "intersect"
      case org.apache.spark.sql.types.IntegerType => "intersectInt"
      case _ => "intersectStr"
    }

  override def checkInputDataTypes(): TypeCheckResult =
    // element types only: a parquet-read array allows nulls where the
    // output of an earlier intersect does not
    if (elemOk(left.dataType) && elemOk(right.dataType) &&
        left.dataType.asInstanceOf[ArrayType].elementType ==
          right.dataType.asInstanceOf[ArrayType].elementType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect expects two array<bigint>/array<int>/array<string> " +
        s"columns of the same type, got ${left.dataType.simpleString} " +
        s"and ${right.dataType.simpleString}")

  override def dataType: DataType = ArrayType(
    left.dataType.asInstanceOf[ArrayType].elementType, containsNull = false)
  override def prettyName: String = "sorted_intersect"

  override protected def nullSafeEval(a: Any, b: Any): Any = elemKind match {
    case "intersect" => SortedIntersectImpl.intersect(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    case "intersectInt" => SortedIntersectImpl.intersectInt(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    case _ => SortedIntersectImpl.intersectStr(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = elemKind
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SortedIntersectImpl.$fn($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersect =
    copy(left = newLeft, right = newRight)
}

object IntersectFunctions {

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect",
      exprs => SortedIntersect(exprs(0), exprs(1)),
      "built-in")

  /** Column API (requires [[register]] on the session). */
  def sorted_intersect(a: Column, b: Column): Column =
    call_function("sorted_intersect", a, b)
}
