package graft.functions

import graft.extract.Extractor
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.ColumnConstructorExt
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-level kernel behind [[ExtractContent]]. Static so generated code
  * can call it directly (one virtual-free call per row — the extraction
  * pipeline E1–E7 stays inside the whole-stage-codegen span instead of
  * falling back to interpreted expression eval).
  */
object ExtractKernel {
  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("start", LongType, nullable = false),
    StructField("end", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("extracted_text", StringType, nullable = true),
    StructField("spans", ArrayType(spanType, containsNull = false), nullable = true),
    StructField("error", StringType, nullable = true)))

  /** (url, html, lang) → InternalRow(extracted_text, spans, error).
    * Exactly one of (extracted_text, error) is non-null. Never throws,
    * never returns null — the skip-and-log contract of the reference
    * (/root/reference/src/kafka_consumer.py:135-142).
    */
  def eval(url: Any, html: Any, lang: Any): InternalRow = {
    val u = if (url == null) null else url.asInstanceOf[UTF8String].toString
    val h = if (html == null) null else html.asInstanceOf[Array[Byte]]
    val l = if (lang == null) null else lang.asInstanceOf[UTF8String].toString
    Extractor.extract(u, h, l) match {
      case Right(doc) =>
        val spans = new GenericArrayData(doc.spans.map { s =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(s.kind),
            java.lang.Long.valueOf(s.start),
            java.lang.Long.valueOf(s.end),
            UTF8String.fromString(s.text)))
        }.toArray[Any])
        new GenericInternalRow(Array[Any](UTF8String.fromString(doc.extracted_text), spans, null))
      case Left(bad) =>
        new GenericInternalRow(Array[Any](null, null, UTF8String.fromString(bad.reason)))
    }
  }
}

/** `extract_content(url, html, lang)` — the whole extraction operator as a
  * native Catalyst expression, usable from both the Column API and SQL.
  * Returns struct(extracted_text, spans, error); never null (errors are
  * data, not exceptions — op C2 in SURVEY.md §2.4).
  */
case class ExtractContent(url: Expression, html: Expression, lang: Expression)
    extends TernaryExpression {

  override def first: Expression = url
  override def second: Expression = html
  override def third: Expression = lang

  override def dataType: DataType = ExtractKernel.schema
  override def nullable: Boolean = false
  override def prettyName: String = "extract_content"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (url.dataType != StringType) TypeCheckFailure(s"url must be string, got ${url.dataType}")
    else if (html.dataType != BinaryType) TypeCheckFailure(s"html must be binary, got ${html.dataType}")
    else if (lang.dataType != StringType) TypeCheckFailure(s"lang must be string, got ${lang.dataType}")
    else TypeCheckSuccess
  }

  override def eval(input: InternalRow): Any =
    ExtractKernel.eval(url.eval(input), html.eval(input), lang.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val u = url.genCode(ctx)
    val h = html.genCode(ctx)
    val l = lang.genCode(ctx)
    val code =
      code"""
        ${u.code}
        ${h.code}
        ${l.code}
        InternalRow ${ev.value} = graft.functions.ExtractKernel.eval(
          ${u.isNull} ? null : (Object) ${u.value},
          ${h.isNull} ? null : (Object) ${h.value},
          ${l.isNull} ? null : (Object) ${l.value});
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(url = newFirst, html = newSecond, lang = newThird)
}

/** The engine's SQL functions and the Column expressions its queries
  * share.
  */
object GraftFunctions {

  /** One SQL function: its name, argument names and builder. */
  final case class Fn(name: String, args: Seq[String], cls: Class[_ <: Expression],
                      make: Seq[Expression] => Expression) {
    def build(exprs: Seq[Expression]): Expression = {
      if (exprs.length != args.length)
        throw new IllegalArgumentException(s"$name requires exactly ${args.length} " +
          s"argument${if (args.length == 1) "" else "s"} (${args.mkString(", ")}), got ${exprs.length}")
      make(exprs)
    }
  }

  /** the one function table behind both registration routes: [[register]]
    * on an existing session and `graft.GraftExtensions`
    */
  val functions: Seq[Fn] = Seq(
    Fn("extract_content", Seq("url", "html", "lang"), classOf[ExtractContent],
      e => ExtractContent(e(0), e(1), e(2))),
    Fn("nfc_normalize", Seq("text"), classOf[NfcNormalize], e => NfcNormalize(e(0))))

  /** Session-side registration so the functions are callable from SQL and
    * via `call_function` from the Column API.
    */
  def register(spark: SparkSession): Unit = functions.foreach(f =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(f.name, f.build, "scala_udf"))

  /** 60-bit md5 fingerprint of a string column ([[HashKernel.fp60]]),
    * bit-identical to DuckDB's `('0x'||substr(md5(c),1,15))::BIGINT`.
    */
  def fp60(c: Column): Column = kernel("fp60", LongType, c)

  /** the distinct 3-word shingles of a text column ([[HashKernel.shingleSet]]) */
  def shingleSet(text: Column): Column = kernel("shingleSet", ArrayType(StringType, containsNull = false), text)

  /** the MinHash signature of a shingle-set column ([[HashKernel.minhash]]) */
  def minhash(sh: Column): Column = kernel("minhash", ArrayType(LongType, containsNull = false), sh)

  /** the 60-bit SimHash of a text column ([[HashKernel.simhash]]) */
  def simhash(text: Column): Column = kernel("simhash", LongType, text)

  /** the 8 hyperplane band hashes of an `array<double>` column ([[HashKernel.hyperplaneBands]]) */
  def hyperplaneBands(e: Column): Column =
    kernel("hyperplaneBands", ArrayType(IntegerType, containsNull = false), e)

  /** a static [[HashKernel]] call: codegen'd, and equal across builds.
    * `ColumnConstructorExt` is the classic API's `Column(expression)`; its
    * receiver, the `Column` companion, is private to Spark and never read
    * (SignatureSpec builds every kernel column, so a Spark that reads it
    * fails there).
    */
  private def kernel(method: String, dataType: DataType, args: Column*): Column =
    ColumnConstructorExt(null)(StaticInvoke(HashKernel.getClass, dataType, method, args.map(expression)))
}
