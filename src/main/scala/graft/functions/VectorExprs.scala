package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the vector hot path (SURVEY.md §4
  * "potential custom pieces").
  *
  * `zip_with` + `aggregate` higher-order functions evaluate their
  * lambdas interpreted (they are excluded from whole-stage codegen), so
  * an O(n²)-pair cosine scan pays lambda-dispatch per element. This
  * expression generates a tight Java loop instead: `float_dot(a, b)` =
  * Σ (double)aᵢ·(double)bᵢ — the same left-to-right double accumulation
  * as the higher-order formulation, so results are bit-identical and
  * oracle parity is unchanged.
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"
  // Mismatched dimensions yield NULL (same as the zip_with/aggregate HOF
  // formulation, whose null-padding poisons the sum) — so this must be
  // nullable even over non-null children.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }
  }

  // ctx.freshName on every generated local: two float_dot calls codegen'd
  // into one scope would otherwise redeclare `i` and silently fall back to
  // the interpreted path.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDot =
    copy(left = newLeft, right = newRight)
}

/** Native squared-L2 over two DOUBLE[] columns — the k-means assignment
  * hot path (r15): the corpus-scaled coarse quantizer evaluates n×k
  * distances per Lloyd pass, and the HOF formulation pays interpreted
  * lambda dispatch plus a 64-element intermediate array PER (row,
  * centroid). Same left-to-right double accumulation as
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0, +)`. */
case class DoubleSqL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"double_sql2 expects (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "double_sql2"
  // Mismatched dimensions yield NULL, like the HOF formulation.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else VectorExprs.sqL2(x.toDoubleArray(), y.toDoubleArray())
  }

  // the generated loop is VectorExprs.sqL2's, statement for statement
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleSqL2 =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  /** Shared builder with an arity check (indexing alone would silently
    * drop extra arguments). */
  private[graft] def build(exprs: Seq[Expression]): FloatDot = {
    require(exprs.length == 2, s"float_dot expects 2 arguments, got ${exprs.length}")
    FloatDot(exprs(0), exprs(1))
  }

  /** Σ(x−y)² over two equal-length vectors, summed left to right: the
    * one distance loop of `double_sql2` and the ANN quantizer kernel
    * (`LlmVector.Kernel`), so both give the same bits. */
  private[graft] def sqL2(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) {
      val d = x(i) - y(i)
      s += d * d
      i += 1
    }
    s
  }

  private[graft] def buildSqL2(exprs: Seq[Expression]): DoubleSqL2 = {
    require(exprs.length == 2, s"double_sql2 expects 2 arguments, got ${exprs.length}")
    DoubleSqL2(exprs(0), exprs(1))
  }
}
