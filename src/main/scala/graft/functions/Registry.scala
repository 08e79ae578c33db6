package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registration of the engine's catalyst functions (`token_stats`,
  * `code_tokens`, `term_range_route`) for `call_function` and SQL use.
  */
object Registry {

  /** Register `name` in `spark`'s function registry unless it is there:
    * once per session, since a re-registration replaces the function (and
    * logs a warning). Sessions do not share temporary functions — a cloned
    * session (the one foreachBatch hands out) holds those registered before
    * the clone, a new session none — so callers register in the session
    * whose frames use the function.
    */
  def ensure(spark: SparkSession, name: String)(builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
