package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native rolling polynomial fingerprint h = (31·h + codepoint) mod 1e9+7.
  *
  * The higher-order formulation (`aggregate(transform(sequence(...),
  * i -> ascii(substring(text,i,1))), ...)`) materializes a per-character
  * int array and dispatches two interpreted lambdas per character; this
  * expression is one tight codegen'd loop over the string — same value,
  * ~7× less work on the hot path (llm_fingerprint was the third-slowest
  * bench key).
  *
  * Defined over Unicode code points, which equals the HOF form and the
  * DuckDB `ascii()` oracle on the corpus's ASCII contract (FIXTURES.md);
  * for non-ASCII text Spark's `ascii()` reads the first UTF-8 byte and
  * the three formulations would not agree — revisit if the data contract
  * ever adds non-ASCII documents.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"rolling_hash expects string, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String].toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val str = ctx.freshName("str")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |java.lang.String $str = $s.toString();
         |long $h = 0L;
         |int $i = 0;
         |while ($i < $str.length()) {
         |  int $cp = $str.codePointAt($i);
         |  $h = ($h * 31L + $cp) % 1000000007L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }
}

object TextExprs {
  /** Shared builder with an arity check: `exprs.head` alone would
    * silently drop extra arguments and die opaquely on zero. */
  private[graft] def build(exprs: Seq[Expression]): RollingHash = {
    require(exprs.length == 1, s"rolling_hash expects 1 argument, got ${exprs.length}")
    RollingHash(exprs.head)
  }
}
