package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of normalized text, in one pass.
  *
  * Semantics identical to the composed form
  * `array_distinct(transform(..., slice(normTokens(text))))` (and to
  * the DuckDB oracle SQL), but evaluated as a single expression: the
  * composed pipeline walks 4 higher-order lambdas per row with
  * per-element interpretation — measured at ~2.7 ms/doc, which
  * dominates every shingle-based dedup operator. One linear string
  * pass here is ~100× cheaper and keeps the dedup suite scan-bound.
  *
  * Normalization contract (shared with the oracles): lowercase, map
  * `[^a-z0-9 ]` → space, split on space runs, drop empties; docs with
  * fewer than n tokens yield one whole-text shingle.
  *
  * Case-mapping note (round 15): the WHOLE string is lowercased via
  * `String.toLowerCase(Locale.ROOT)` — the same full (one-to-many)
  * case mapping Spark's `lower()` applies — BEFORE the `[a-z0-9]`
  * scan, so token boundaries match the declarative twin even for
  * 1:M-mapped characters (İ → i + combining dot → the dot spaces out
  * and ends the token, where a per-char `Character.toLowerCase` kept
  * the token running). DuckDB's `lower()` uses per-codepoint simple
  * mappings, so such characters remain a documented engine divergence
  * — none occur in [a-z0-9]-normalized ASCII corpora.
  */
case class TokenShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType)

  override def nullSafeEval(input: Any): Any = {
    val toks = TextNorm.normTokens(input.asInstanceOf[UTF8String].toString)
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length >= n) {
      var j = 0
      while (j <= toks.length - n) {
        val g = new java.lang.StringBuilder()
        var k = 0
        while (k < n) { if (k > 0) g.append(' '); g.append(toks(j + k)); k += 1 }
        out.add(g.toString)
        j += 1
      }
    } else {
      out.add(toks.mkString(" "))
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var m = 0
    while (it.hasNext) { arr(m) = UTF8String.fromString(it.next()); m += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenShingles {
  /** Register `graft_shingles(text, n)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_shingles")
}

/** The ONE text-normalization contract under the shingle/gram family
  * (shared by [[TokenShingles]] and [[TokenGrams]] — previously two
  * verbatim copies, a drift surface on a load-bearing oracle
  * contract): full-string `toLowerCase(Locale.ROOT)` (Spark `lower()`
  * semantics, including one-to-many mappings), `[^a-z0-9]` → space,
  * split on space runs, drop empties.
  */
private[functions] object TextNorm {
  def normTokens(s: String): Array[String] = {
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(lower.length)
    var i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      sb.append(if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c else ' ')
      i += 1
    }
    sb.toString.split(" +").filter(_.nonEmpty)
  }
}
