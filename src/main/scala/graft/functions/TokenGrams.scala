package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** ALL word n-grams of normalized text with multiplicity, in one pass
  * — the counting companion to [[TokenShingles]] (which emits the
  * DISTINCT set). Multiplicity is the statistic tokenizer training
  * needs: a BPE merge step ranks adjacent pairs by total corpus
  * occurrences, not document frequency.
  *
  * Same normalization contract and one-linear-pass rationale as
  * TokenShingles (the composed HOF pipeline pays per-element
  * interpretation); docs with fewer than n tokens yield an EMPTY
  * array (no whole-text fallback — a doc with one token has no pair
  * to count).
  */
case class TokenGrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType)

  override def nullSafeEval(input: Any): Any = {
    // normalization shared with TokenShingles ([[TextNorm]]) — the two
    // families feed the same oracle SQL and must never drift
    val toks = TextNorm.normTokens(input.asInstanceOf[UTF8String].toString)
    if (toks.length < n) return new GenericArrayData(new Array[Any](0))
    val arr = new Array[Any](toks.length - n + 1)
    var j = 0
    while (j <= toks.length - n) {
      val g = new java.lang.StringBuilder()
      var k = 0
      while (k < n) { if (k > 0) g.append(' '); g.append(toks(j + k)); k += 1 }
      arr(j) = UTF8String.fromString(g.toString)
      j += 1
    }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenGrams {
  /** Register `graft_grams(text, n)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_grams")
}
