package graft

import graft.fixtures.Corpus
import graft.pipeline.ExtractJob
import graft.sources.Warc
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The DSv2 `warc-stream` connector: micro-batch reads with serialized
  * offsets over a directory of WARC chunk files — batch parity,
  * incremental drain of newly-arrived chunks through one checkpoint
  * (exactly-once), and composition with the extraction projection (the
  * executable Kafka-seam claim).
  */
class WarcStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def drain(dir: String, cp: String, sink: String): Long = {
    val q = spark.readStream.format("warc-stream").load(dir)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sink).count()
  }

  test("streamed rows equal the batch reader's rows (full round trip)") {
    val dir = Files.createTempDirectory("graft-wstream").toString
    val cp = Files.createTempDirectory("graft-wstream-cp").toString
    Warc.write(spark, Corpus.pages(spark, sfDir), dir, numFiles = 4)
    drain(dir, cp, "ws_parity_sink")
    val streamed = spark.table("ws_parity_sink")
      .select(col("url"), unix_timestamp(col("warc_ts")).as("ts"),
        md5(col("html")).as("h"), col("lang"), col("http_status"), col("mime"))
    val batch = Warc.read(spark, dir)
      .select(col("url"), unix_timestamp(col("warc_ts")).as("ts"),
        md5(col("html")).as("h"), col("lang"), col("http_status"), col("mime"))
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "connector output must equal the batch reader row-for-row")
    assert(streamed.count() > 0)
    Seq(dir, cp).foreach(d => graft.util.Staging.deleteRec(Paths.get(d)))
  }

  test("required-column pushdown: a url-only query prunes html at the source") {
    val dir = Files.createTempDirectory("graft-wstream-prune").toString
    val cp = Files.createTempDirectory("graft-wstream-prune-cp").toString
    Warc.write(spark, Corpus.pages(spark, sfDir), dir, numFiles = 4)
    val schemas = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.types.StructType]())
    graft.sources.WarcTestAccess.withReadSchemaProbe(schemas.add(_)) {
      val q = spark.readStream.format("warc-stream").load(dir)
        .select(col("url")) // only url survives the plan
        .writeStream.format("memory").queryName("ws_prune_sink")
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    import scala.jdk.CollectionConverters._
    val seen = schemas.asScala.toList
    assert(seen.nonEmpty, "reader factory must have been created")
    assert(seen.forall(_.fieldNames.toSeq == Seq("url")),
      s"pushdown must reach the source; reader schemas were $seen")
    // pruned rows still correct and complete
    val urls = spark.table("ws_prune_sink").select(col("url"))
    val batch = Warc.read(spark, dir).select(col("url"))
    assert(urls.exceptAll(batch).count() == 0 && batch.exceptAll(urls).count() == 0)
    Seq(dir, cp).foreach(d => graft.util.Staging.deleteRec(Paths.get(d)))
  }

  test("pruning resets per action: pruned count then full-width read in one batch") {
    val dir = Files.createTempDirectory("graft-wstream-reset").toString
    val cp = Files.createTempDirectory("graft-wstream-reset-cp").toString
    Warc.write(spark, Corpus.pages(spark, sfDir), dir, numFiles = 2)
    @volatile var urlCount = -1L
    @volatile var fullWidth = -1
    @volatile var htmlOk = false
    val q = spark.readStream.format("warc-stream").load(dir)
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        urlCount = b.select(col("url")).count() // prunes the scan to [url]
        val rows = b.collect() // full width — required schema must WIDEN back
        fullWidth = rows.headOption.map(_.length).getOrElse(-1)
        htmlOk = rows.forall(r => r.getAs[Array[Byte]]("html") != null)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(urlCount > 0)
    assert(fullWidth == 6, s"full-width action after a pruned one saw $fullWidth cols")
    assert(htmlOk, "html must be materialized again after a pruned action")
    Seq(dir, cp).foreach(d => graft.util.Staging.deleteRec(Paths.get(d)))
  }

  test("incremental: new chunk files drain exactly once through the offset log") {
    val dir = Files.createTempDirectory("graft-wstream-inc").toString
    val cp = Files.createTempDirectory("graft-wstream-inc-cp").toString
    // durable sink: restarts must recover from the checkpoint (the
    // memory sink cannot), exactly as a production ingestion would
    val out = Files.createTempDirectory("graft-wstream-inc-out").toString + "/docs"
    def drainToParquet(): Long = {
      val q = spark.readStream.format("warc-stream").load(dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    val pages = Corpus.pages(spark, sfDir).cache()
    val half1 = pages.where(col("doc_id") % 2 === 0)
    val half2 = pages.where(col("doc_id") % 2 === 1)

    Warc.write(spark, half1, dir, numFiles = 2)
    val n1 = drainToParquet()
    assert(n1 == half1.where(col("html").isNotNull).count(),
      s"first drain must cover batch 1 ($n1)")

    // batch 2 arrives as NEW chunk files, lexically above the watermark
    // ("part-" < "part2-"); the committed offset keeps batch 1 out
    val staged = Files.createTempDirectory("graft-wstream-b2").toString
    Warc.write(spark, half2, staged, numFiles = 2)
    (0 until 2).foreach { i =>
      Files.move(Paths.get(staged, f"part-$i%05d.warc.gz"),
        Paths.get(dir, f"part2-$i%05d.warc.gz"))
    }
    val n2 = drainToParquet()
    val expect = pages.where(col("html").isNotNull).count()
    assert(n2 == expect, s"re-trigger must add ONLY the new chunks ($n2 vs $expect)")

    // a third trigger with nothing new must be a no-op (exactly-once)
    assert(drainToParquet() == expect, "no-op re-trigger must not duplicate")
    val urls = spark.read.parquet(out).select("url")
    assert(urls.distinct().count() == urls.count(), "every url exactly once")
    pages.unpersist()
    Seq(dir, cp, staged, out).foreach(d => graft.util.Staging.deleteRec(Paths.get(d)))
  }

  test("offset codec: new-format round trip, legacy bare-watermark checkpoints migrate") {
    import graft.sources.WarcTestAccess._
    assert(parseOffset(offsetJson("file:/d/part-00003.warc.gz", 4)) ==
      ("file:/d/part-00003.warc.gz", 4))
    // a pre-count checkpoint (bare watermark, no 'n|' prefix) must not
    // crash deserialization: it parses with count -1, which skips the
    // contract check once instead of dying on substring(0, -1)
    assert(parseOffset("file:/d/part-00007.warc.gz") ==
      ("file:/d/part-00007.warc.gz", -1))
    assert(parseOffset("") == ("", -1))
  }

  test("append-only contract: a file landing below the watermark fails loudly, not silently") {
    val dir = Files.createTempDirectory("graft-wstream-late").toString
    val cp = Files.createTempDirectory("graft-wstream-late-cp").toString
    val out = Files.createTempDirectory("graft-wstream-late-out").toString + "/docs"
    Warc.write(spark, Corpus.pages(spark, sfDir), dir, numFiles = 2)
    val q1 = spark.readStream.format("warc-stream").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    // a chunk arrives BELOW the committed watermark ("aaa" < "part-"):
    // unattributable from a bounded offset, so the source must fail
    Files.copy(Paths.get(dir, "part-00000.warc.gz"), Paths.get(dir, "aaa-00000.warc.gz"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = spark.readStream.format("warc-stream").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("contract violation")),
      s"expected the append-only guard, got: ${messages(ex).mkString(" | ")}")
    Seq(dir, cp, out).foreach(d => graft.util.Staging.deleteRec(Paths.get(d)))
  }

  test("kafka-seam composition: connector + extractColumns equals batch extraction") {
    val dir = Files.createTempDirectory("graft-wstream-x").toString
    val cp = Files.createTempDirectory("graft-wstream-x-cp").toString
    graft.functions.GraftFunctions.register(spark)
    Warc.write(spark, Corpus.pages(spark, sfDir), dir, numFiles = 2)
    // the same projection the file/memory/kafka sources feed — only the
    // source line differs (the seam claim, now over a REAL connector)
    val pages = spark.readStream.format("warc-stream").load(dir)
    val q = ExtractJob.extractColumns(pages.withColumn("pid", ExtractJob.pidCol(16)))
      .writeStream.format("memory").queryName("ws_x_sink")
      .option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("ws_x_sink")
      .where(col("error").isNull).select(col("url"), col("extracted_text"))
    val batch = Corpus.pages(spark, sfDir)
      .withColumn("r", call_function("extract_content", col("url"), col("html"), col("lang")))
      .where(col("r.error").isNull)
      .select(col("url"), col("r.extracted_text").as("extracted_text"))
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed extraction must equal batch extraction byte-for-byte")
    Seq(dir, cp).foreach(d => graft.util.Staging.deleteRec(Paths.get(d)))
  }
}
