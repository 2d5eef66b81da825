package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

package object functions {

  /** Register the custom expression `name` in the session's function
    * registry unless the name is already there. Every `graft_*`
    * function registers through here: `GraftSession.register` does it
    * once per session, and operators that need a function call its
    * `register` again at build time so they also work on a bare
    * session; those repeat calls change nothing and log nothing.
    */
  private[graft] def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
