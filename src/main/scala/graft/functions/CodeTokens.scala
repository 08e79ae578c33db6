package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.analyze.Analyzer

/** `code_tokens(text)` — the code-aware analyzer (camelCase / acronym /
  * snake_case / digit boundaries, Analyzer.code) as a native Catalyst
  * expression with codegen.
  *
  * Why an Expression and not a UDF (builder brief preference order):
  * `doGenCode` emits a direct static call inside the whole-stage-generated
  * method — no ScalaUDF wrapper, no extra null-boxing, and the expression
  * participates in constant folding when its input is foldable. This is the
  * one analyzer mode built-in functions cannot express (`split(lower(..))`
  * covers Simple mode only).
  *
  * Reference analog: the ES analyzer the Go side delegates to
  * (es/indices.go `text` mappings; Lucene word-delimiter behavior is public
  * knowledge).
  */
case class CodeTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    CodeTokens.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CodeTokens.tokenize($c)")

  override protected def withNewChildInternal(newChild: Expression): CodeTokens =
    copy(child = newChild)

  override def prettyName: String = "code_tokens"
}

object CodeTokens {
  /** Static entry point shared by interpreted eval and generated code. */
  def tokenize(s: UTF8String): ArrayData = {
    val toks = Analyzer.code(s.toString)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** SQL registration: `SELECT code_tokens(content) ...`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Registry.ensure(spark, "code_tokens")(exprs => CodeTokens(exprs.head))

  /** Column-world wrapper (registry-routed; Spark 4 keeps Column↔Expression
    * construction internal).
    */
  def code_tokens(spark: org.apache.spark.sql.SparkSession, c: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("code_tokens", c)
  }
}
