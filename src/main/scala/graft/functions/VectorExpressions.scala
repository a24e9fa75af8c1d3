package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, sqrt}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * The composable form (`zip_with` + `aggregate`, see
  * [[graft.ext.Similarity.cosine]]) materializes an intermediate product
  * array per row and evaluates a lambda per element. For a brute-force
  * scan over 10^9+ vectors that's the dominant cost, so the dot product
  * is implemented as a single `Expression` with whole-stage codegen: one
  * fused primitive loop over the two float arrays, no allocation, no
  * virtual calls (preference order (b) of the build plan — a custom
  * Expression before any UDF).
  *
  * Accumulation is in double precision, element order 0..n-1 — bit-wise
  * identical to the sequential `aggregate` fold it replaces, so oracle
  * parity is unchanged.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product_f expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "dot_product_f"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** Double-array variant of [[DotProductFloat]] — the k-means quantizer
  * trains on double-precision vectors (rounded centroid means), and its
  * per-iteration assignment is the N×C hot loop of the IVF build; the
  * `aggregate(zip_with(...))` form it replaces allocates an
  * intermediate product array per PAIR (r7 scale-stress: ivf_build was
  * 34x at 10x data, dominated by exactly this). Same sequential 0..n-1
  * double fold — bit-identical results, oracle parity unchanged.
  */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product_d expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "dot_product_d"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDouble =
    copy(left = newLeft, right = newRight)
}

/** Column API over `dot_product_f` / `dot_product_d`. The functions
  * come with [[graft.GraftExtensions]], so every session the engine
  * builds resolves them, and user extraction SQL can call them directly
  * (`SELECT dot_product_f(embedding, q) ...`) — the engine's function
  * surface composes with the arbitrary-user-SQL contract.
  */
object VectorFunctions {

  /** Column API: double-precision dot product of two float arrays. */
  def dot_f(a: Column, b: Column): Column = call_function("dot_product_f", a, b)

  /** Column API: dot product of two double arrays. */
  def dot_d(a: Column, b: Column): Column = call_function("dot_product_d", a, b)

  /** Cosine similarity built on the codegen'd dot product. */
  def cosine_f(a: Column, b: Column): Column =
    dot_f(a, b) / (sqrt(dot_f(a, a)) * sqrt(dot_f(b, b)))
}
