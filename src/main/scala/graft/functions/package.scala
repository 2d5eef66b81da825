package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

package object functions {

  /** One `graft_*` SQL function: its name, its expression class and the
    * builder that turns the SQL call's arguments into the expression.
    */
  private[graft] final case class SqlFunction(name: String,
      cls: Class[_ <: Expression], build: Seq[Expression] => Expression)

  /** Every `graft_*` function, once. Each function's `register`,
    * `GraftSession.register` and `GraftExtensions` all read this table,
    * so a function listed here is callable from plain SQL on every
    * session path.
    */
  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_dot", classOf[DotProduct], e => DotProduct(e.head, e(1))),
    SqlFunction("graft_shingles", classOf[TokenShingles],
      e => TokenShingles(e.head, e(1).eval().asInstanceOf[Int])),
    SqlFunction("graft_topk", classOf[BoundedTopK],
      e => BoundedTopK(e.head.eval().asInstanceOf[Int], e(1))),
    SqlFunction("graft_simhash", classOf[SimHash64], e => SimHash64(e.head)),
    SqlFunction("graft_minhash", classOf[MinHashSig], e => MinHashSig(e.head)),
    SqlFunction("graft_sorted_hashes", classOf[SortedHashes], e => SortedHashes(e.head)),
    SqlFunction("graft_sorted_intersect", classOf[SortedIntersectCount],
      e => SortedIntersectCount(e.head, e(1))),
    SqlFunction("graft_rademacher", classOf[RademacherSketch], e => RademacherSketch(e.head)),
    SqlFunction("graft_rolling_hashes", classOf[RollingHashes], e => RollingHashes(e.head)),
    SqlFunction("graft_unit", classOf[UnitVector], e => UnitVector(e.head)),
    SqlFunction("graft_srp126", classOf[Srp126], e => Srp126(e.head)),
    SqlFunction("graft_winnowed_hashes", classOf[WinnowedHashes], e => WinnowedHashes(e.head)),
    SqlFunction("graft_qunit", classOf[QuantUnitVector], { e =>
      // arity-checked: silently dropping extra args (or
      // NoSuchElementException on zero) hides caller bugs behind
      // wrong-but-plausible results
      if (e.length != 1)
        throw new IllegalArgumentException(
          s"graft_qunit expects exactly 1 argument (array<double>), got ${e.length}")
      QuantUnitVector(e.head)
    }),
    SqlFunction("graft_spacesaving", classOf[SpaceSaving],
      e => SpaceSaving(e.head.eval().asInstanceOf[Int], e(1))),
    SqlFunction("graft_grams", classOf[TokenGrams],
      e => TokenGrams(e.head, e(1).eval().asInstanceOf[Int])))

  private lazy val byName: Map[String, SqlFunction] =
    sqlFunctions.map(f => f.name -> f).toMap

  /** Register the `graft_*` function `name` from [[sqlFunctions]] in
    * the session's function registry unless the name is already there.
    * `GraftSession.register` does it once per session for every
    * function, and operators that need a function call its `register`
    * again at build time so they also work on a bare session; those
    * repeat calls change nothing and log nothing.
    */
  private[graft] def registerOnce(spark: SparkSession, name: String): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, byName(name).build, "scala_udf")
  }
}
