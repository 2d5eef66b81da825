package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Unit-normalize an embedding in ONE tight primitive loop:
  * out[i] = (double) in[i] / sqrt(Σ (double) in[j]²).
  *
  * The declarative form — `transform(emb, x -> x / norm)` with
  * `norm = sqrt(aggregate(transform(emb, x -> x*x), 0.0, +))` — hides
  * an O(dim²) trap: the norm subexpression sits INSIDE the transform
  * lambda, and both the interpreted path and codegen evaluate the
  * lambda body per element, so the O(dim) norm aggregate re-runs dim
  * times per row (measured: annTopkBruteforce spent 6.4 s normalizing
  * 2k vectors at sf0.1 — ~100× the actual flops). This expression is
  * the same IEEE ops in the same order (square the double-widened
  * element, left-to-right sum from 0.0, correctly-rounded sqrt, one
  * divide per element), so every downstream cosine is bit-identical
  * to the declarative form and to the DuckDB oracles — just computed
  * once per row instead of dim times.
  *
  * Zero-norm input divides by 0.0 exactly as the declarative form did
  * (IEEE ±Inf/NaN elements) — callers gate zero norms explicitly
  * where the convention requires (see semdedupPrune's na·nb > 0).
  */
case class UnitVector(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // resolved once; any non-float/double element type fails loudly with
  // a typed message instead of getDouble silently misreading the array
  // buffer (the RademacherSketch.readElem discipline)
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"graft_unit expects array<float> or array<double>, got $other")
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val vals = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      vals(i) = v
      acc += v * v
      i += 1
    }
    val nrm = math.sqrt(acc)
    i = 0
    while (i < n) { vals(i) = vals(i) / nrm; i += 1 }
    new GenericArrayData(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nrm = ctx.freshName("nrm")
      val vals = ctx.freshName("vals")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double[] $vals = new double[$n];
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $vals[$i] = $get;
         |  $acc += $vals[$i] * $vals[$i];
         |}
         |double $nrm = java.lang.Math.sqrt($acc);
         |for (int $i = 0; $i < $n; $i++) { $vals[$i] = $vals[$i] / $nrm; }
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($vals);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnitVector {
  /** Register `graft_unit` in the session's function registry (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_unit")
}
