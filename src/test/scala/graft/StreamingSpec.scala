package graft

import graft.fixtures.Corpus
import graft.pipeline.ExtractJob
import graft.streaming.StreamingExtract
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Streaming surface tests: file-stream extraction equals batch
  * extraction, and the checkpoint makes re-triggering incremental (only
  * new files are processed — the streaming analog of lineage resume).
  * Per-epoch metrics of the production stream path are pinned in
  * StreamingLineageSpec.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("file-stream extraction: batch parity + incremental re-trigger") {
    val inDir = Files.createTempDirectory("graft-st-in").toString
    val outDir = Files.createTempDirectory("graft-st-out").toString + "/docs"
    val cp = Files.createTempDirectory("graft-st-cp").toString

    val pages = Corpus.pages(spark, sfDir).cache()
    val half1 = pages.where(col("doc_id") % 2 === 0)
    val half2 = pages.where(col("doc_id") % 2 === 1)

    // batch 1
    half1.write.mode("append").parquet(inDir)
    StreamingExtract.runFileStream(spark, inDir, outDir, cp)
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == half1.count(), s"first trigger must process exactly batch 1 ($n1)")

    // batch 2 arrives; AvailableNow re-trigger picks up ONLY the new files
    half2.write.mode("append").parquet(inDir)
    StreamingExtract.runFileStream(spark, inDir, outDir, cp)
    val out = spark.read.parquet(outDir).cache()
    assert(out.count() == pages.count(), "no duplicates, no gaps after re-trigger")

    // parity with the batch engine, byte-for-byte
    val batch = pages
      .withColumn("r", call_function("extract_content", col("url"), col("html"), col("lang")))
      .select(col("url"), col("r.extracted_text").as("extracted_text"), col("r.error").as("error"))
    val streamed = out.select(col("url"), col("extracted_text"), col("error"))
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "streamed output must equal batch output")
    pages.unpersist(); out.unpersist()
  }

  test("source seam is just the source call: same transform over a MemoryStream") {
    // proves SURVEY §2.1 S1's claim executably: swapping the file source
    // for an in-memory streaming source changes ONLY the readStream line —
    // the extraction projection and the sink are untouched (a Kafka source
    // with the connector jar would be the same one-line swap)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)

    val sample = Corpus.pages(spark, sfDir).where(col("doc_id") < 40)
      .select("doc_id", "url", "warc_ts", "html", "text", "lang")
      .as[(Long, String, java.sql.Timestamp, Array[Byte], String, String)]
      .collect()
    assert(sample.nonEmpty)

    val ms = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte], String, String)](spark)
    ms.addData(sample.toSeq)
    val pages = ms.toDF().toDF("doc_id", "url", "warc_ts", "html", "text", "lang")
    val q = ExtractJob.extractColumns(pages.withColumn("pid", ExtractJob.pidCol(16))).writeStream
      .format("memory").queryName("st_memsrc_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("st_memsrc_sink").select("url", "extracted_text", "error")
    val batch = Corpus.pages(spark, sfDir).where(col("doc_id") < 40)
      .withColumn("r", call_function("extract_content", col("url"), col("html"), col("lang")))
      .select(col("url"), col("r.extracted_text").as("extracted_text"), col("r.error").as("error"))
    assert(streamed.count() == sample.length)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "memory-source streamed output must equal batch output")
  }
}
