package graft

import graft.fixtures.Corpus
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite
import SparkSessionTestBase.withConf

/** Proves the custom Expression keeps whole-stage codegen alive: the
  * generated Java must compile (codegen.fallback disabled would throw
  * otherwise) and the plan must put extract_content INSIDE a
  * WholeStageCodegen span, not an interpreted Project.
  */
class CodegenSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("extract_content participates in whole-stage codegen (no fallback)") {
    GraftFunctions.register(spark)
    withConf("spark.sql.codegen.fallback" -> "false") { // fail loudly instead of interpreting
      val tmp = java.nio.file.Files.createTempDirectory("graft-cg").toString
      Corpus.pages(spark, sfDir).write.mode("overwrite").parquet(tmp)
      val df = spark.read.parquet(tmp)
        .select(col("url"),
          call_function("extract_content", col("url"), col("html"), col("lang")).as("r"))
        .select(col("url"), col("r.extracted_text"))
      // executes the generated code — compile errors would surface here
      assert(df.count() > 0)
      val wsc = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      assert(wsc.nonEmpty, s"expected a WholeStageCodegen span:\n${df.queryExecution.executedPlan}")
      val inSpan = wsc.exists(_.toString.contains("extract_content"))
      assert(inSpan, s"extract_content must be inside the codegen span:\n${wsc.mkString("\n")}")
    }
  }

  test("nfc_normalize participates in whole-stage codegen and is correct") {
    GraftFunctions.register(spark)
    withConf("spark.sql.codegen.fallback" -> "false") {
      import spark.implicits._
      // through a parquet scan (a LocalTableScan constant-folds the
      // expression away before any codegen stage exists); inputs are
      // e + combining acute → é, ANGSTROM singleton → Å, NFC unchanged
      val tmp = java.nio.file.Files.createTempDirectory("graft-nfc").toString
      Seq("café", "Å", "already fine").toDF("s")
        .write.mode("overwrite").parquet(tmp)
      val df = spark.read.parquet(tmp)
        .select(call_function("nfc_normalize", col("s")).as("n"))
      assert(df.as[String].collect().toSet ==
        Set("café", "Å", "already fine"))
      graft.util.Staging.deleteRec(java.nio.file.Paths.get(tmp))
      val wsc = df.queryExecution.executedPlan
        .collect { case w: WholeStageCodegenExec => w }
      assert(wsc.exists(_.toString.contains("nfc_normalize")),
        s"nfc_normalize must sit inside the codegen span:\n${df.queryExecution.executedPlan}")
      // null passthrough
      assert(Seq[String](null).toDF("s")
        .select(call_function("nfc_normalize", col("s"))).head().isNullAt(0))
    }
  }
}
