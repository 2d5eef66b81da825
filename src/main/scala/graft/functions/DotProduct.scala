package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Primitive-loop dot product over two double arrays.
  *
  * The built-in route (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`)
  * evaluates higher-order lambdas per element — a codegen barrier with
  * boxing on every multiply. At n² pair volume (embedding dedup / ANN
  * re-rank) that interpretive overhead dominates the actual flops;
  * this expression runs the whole product as one tight primitive loop
  * with generated code.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are produced internally (unit-normalized double arrays),
  // so no ExpectsInputTypes coercion is needed
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toDoubleArray()
    val ys = b.asInstanceOf[ArrayData].toDoubleArray()
    var acc = 0.0
    var i = 0
    val n = math.min(xs.length, ys.length)
    while (i < n) { acc += xs(i) * ys(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
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

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Register `graft_dot` in the session's function registry (idempotent).
    * Callers then use `expr("graft_dot(a, b)")`.
    */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_dot")
}
