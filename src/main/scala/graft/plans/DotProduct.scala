package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native dot product over two `array<double>` columns.
  *
  * Why a custom Expression (SURVEY §4.3 escape hatch): the built-in
  * formulation `aggregate(zip_with(a, b, _*_), 0d, _+_)` is a
  * higher-order function — `CodegenFallback`, interpreted per row,
  * allocating a lambda frame per element. This is the innermost loop
  * of every similarity operator (top-k, LSH, near-dup): a tight
  * codegen'd primitive-array loop with no allocation is the right
  * tool. Semantics match the HOF fold exactly on the CONTRACTED domain —
  * equal-length, element-non-null arrays (embedding vectors; every
  * consumer preps through Similarity.prepared, which guarantees
  * both) — so results are bit-identical there and the DuckDB oracles
  * still agree. OUTSIDE that domain the two diverge by construction:
  * on ragged arrays the HOF returns NULL (zip_with null-pads the
  * shorter side) while this kernel sums the common prefix, and a
  * NULL element reads as 0.0 here where the HOF nulls the whole sum.
  * A null ARRAY yields null (`BinaryExpression` null-intolerant
  * contract).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  private val info = new ExpressionInfo(classOf[DotProduct].getName, "graft_dot")

  private val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_dot takes 2 arguments, got ${exprs.length}")
    DotProduct(exprs.head, exprs(1))
  }

  /** The ONE (identifier, info, builder) triple — both registration
    * paths share it, so the arity require cannot be bypassed (the
    * extensions path previously had its own builder without the
    * check: graft_dot(a, b, c) silently ignored c).
    */
  val functionDescription: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_dot"), info, builder)

  /** Register `graft_dot` into a live session's function registry —
    * through the SAME functionDescription triple as the extensions
    * path (the WhitespaceTokens.register form), so a rename or builder
    * change can't reach one path and miss the other.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      functionDescription._1, functionDescription._2, functionDescription._3)
}

/** Config-based injection: `spark.sql.extensions=graft.plans.GraftExtensions`
  * makes `graft_dot` available in pure-SQL sessions too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(DotProduct.functionDescription)
    ext.injectFunction(WhitespaceTokens.functionDescription)
    ext.injectFunction(JaroWinkler.functionDescription)
    ext.injectFunction(Geohash.functionDescription)
    ext.injectOptimizerRule(_ => HaversineBoundingBox)
  }
}
