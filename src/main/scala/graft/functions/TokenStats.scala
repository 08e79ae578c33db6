package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.analyze.Analyzer

/** `token_stats(text)` → struct<tfs: array<struct<term,tf>>, dl: int> —
  * per-document term frequencies + doc length as ONE native expression.
  *
  * This is the index build's hot path. As an Expression with `doGenCode`,
  * the whole tokenize→explode→shuffle pipeline stays in whole-stage codegen
  * operating on Tungsten rows; no per-document Scala case-class
  * materialization (the typed `flatMap` it replaces deserialized the full
  * 1 KB content through an object encoder per stage). Builder-brief
  * preference order: compose built-ins < custom Expression < mapPartitions.
  */
case class TokenStats(child: Expression, modeName: String) extends UnaryExpression {

  override def dataType: DataType = TokenStats.schema
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    TokenStats.evalTokenStats(input.asInstanceOf[UTF8String], modeName)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("modeName", modeName, "java.lang.String")
    // NOTE: must NOT be named `eval` — the class inherits eval(InternalRow)
    // from Expression, so scalac emits no static forwarder for a companion
    // `eval` (name clash) and Janino then fails to resolve the call,
    // silently degrading every token_stats plan to interpreted execution.
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenStats.evalTokenStats($c, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)

  override def prettyName: String = "token_stats"
}

object TokenStats {
  val schema: StructType = StructType(Seq(
    StructField("tfs", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", IntegerType, nullable = false))), containsNull = false),
      nullable = false),
    StructField("dl", IntegerType, nullable = false)))

  def modeOf(name: String): Analyzer.Mode = Analyzer.modeOf(name)

  /** Static entry point shared by interpreted eval and generated code.
    * Byte-level path (AnalyzerBytes): no java String materialization of the
    * content or the tokens — equivalence with Analyzer property-tested.
    */
  def evalTokenStats(s: UTF8String, modeName: String): InternalRow = {
    val (terms, tfs, dl) = graft.analyze.AnalyzerBytes.termFreqs(s, modeName)
    val arr = new Array[Any](terms.length)
    var i = 0
    while (i < terms.length) {
      arr(i) = new GenericInternalRow(Array[Any](terms(i), tfs(i)))
      i += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(arr), dl))
  }

  /** Register `token_stats(text, mode)` for SQL / call_function use —
    * the mode argument must be a string literal.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Registry.ensure(spark, "token_stats")(exprs => TokenStats(exprs.head,
      exprs(1).eval(InternalRow.empty).asInstanceOf[UTF8String].toString))
}
