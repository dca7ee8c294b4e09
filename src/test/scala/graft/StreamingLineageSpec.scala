package graft

import graft.fixtures.Corpus
import graft.pipeline.{Lineage, StreamingLineage}
import graft.sources.Warc
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Streaming lineage: warc-stream micro-batches commit through the SAME
  * manifest/lineage protocol as the batch job — kill the stream
  * mid-run, restart from the checkpoint, and the table must end
  * byte-identical to the batch extraction with no duplicate lineage
  * rows (the north-star "continuous crawl, resumable, audited"). Every
  * committed epoch leaves one `_metrics/epoch-<id>.json` record.
  */
class StreamingLineageSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def epochRecord(out: String, epoch: Long) = Paths.get(out, "_metrics", s"epoch-$epoch.json")

  private def metricsFiles(out: String): Set[String] = {
    val ls = Files.list(Paths.get(out, "_metrics"))
    try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  test("kill mid-run + restart: byte-identical to batch, no duplicate lineage") {
    val warcDir = Files.createTempDirectory("graft-sl-warc").toString
    val out = Files.createTempDirectory("graft-sl-out").toString
    val cp = Files.createTempDirectory("graft-sl-cp").toString
    Warc.write(spark, Corpus.pages(spark, sfDir), warcDir, numFiles = 4)
    val listenersBefore = SparkSessionTestBase.graftListeners()

    // first run: 1 file per micro-batch; crash AFTER epoch 1's manifest
    // commit but BEFORE Spark acknowledges the batch — the classic
    // foreachBatch double-delivery window, so the restart MUST replay it
    val crash = intercept[Exception] {
      StreamingLineage.run(spark, warcDir, out, cp, numPids = 8,
        maxFilesPerTrigger = Some(1),
        onEpoch = (id, committed) => {
          assert(committed, s"first run must really commit epoch $id")
          if (id >= 1) throw new RuntimeException("simulated crash")
        })
    }
    assert(crash.getMessage != null)
    val afterCrash = Lineage.manifest(out)
    assert(afterCrash.epochs == Set(0L, 1L),
      s"two epochs committed before the crash, got ${afterCrash.epochs}")
    // each committed epoch wrote its record before the crash
    val recordsBefore = Seq(0L, 1L).map(e => e -> Files.readAllBytes(epochRecord(out, e))).toMap

    // restart from the same checkpoint: epoch 1 replays as a manifest
    // no-op (committed=false), the remaining chunks drain
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    StreamingLineage.run(spark, warcDir, out, cp, numPids = 8,
      maxFilesPerTrigger = Some(1),
      onEpoch = (id, committed) => { seen += ((id, committed)); () })
    assert(seen.exists(e => !e._2), s"the crashed epoch must replay as a no-op: $seen")
    assert(seen.filter(_._2).map(_._1).forall(_ >= 2), s"only new epochs commit: $seen")

    val m = Lineage.manifest(out)
    assert(m.epochs == Set(0L, 1L, 2L, 3L), s"4 chunks → 4 epochs, got ${m.epochs}")

    // one schema-valid record per committed epoch; the replayed epoch
    // rewrote none, and no epoch leaked its metrics listener
    assert(metricsFiles(out) == (0 to 3).map(e => s"epoch-$e.json").toSet)
    recordsBefore.foreach { case (e, bytes) =>
      assert(Files.readAllBytes(epochRecord(out, e)).sameElements(bytes),
        s"the replay must not rewrite epoch $e's record")
    }
    val recTotal = (0L to 3L).map(e => MetricsRecord.read(epochRecord(out, e)).get("docs_total").asLong).sum
    assert(recTotal == StreamingLineage.docs(spark, out).count(),
      "epoch records must account for every docs row")
    assert(SparkSessionTestBase.graftListeners() == listenersBefore, "leaked GraftMetricsListener")

    // the table equals the batch extraction over the same corpus,
    // byte-for-byte per url
    val streamed = StreamingLineage.docs(spark, out)
      .select(col("url"), col("extracted_text"), col("error"))
    val batch = graft.queries.Extraction.defs("x_warc")(spark, sfDir)
    // compare through the same projection the x_warc oracle checks
    val streamedKeyed = streamed
      .select(element_at(split(col("url"), "/"), -1).cast("long").as("doc_id"),
        col("extracted_text"))
      .where(col("extracted_text").isNotNull)
    val batchKeyed = batch.select(col("doc_id"), col("extracted_text"))
    assert(streamedKeyed.exceptAll(batchKeyed).count() == 0 &&
      batchKeyed.exceptAll(streamedKeyed).count() == 0,
      "streamed table must be byte-identical to the batch x_warc extraction")

    // lineage audit: one row set per (epoch, pid) — no duplicates from
    // the replay — and row counts reconcile with the written table
    val lin = spark.read.option("mergeSchema", "true")
      .parquet(s"$out/_lineage/data")
    val dupes = lin.groupBy(col("epoch"), col("partition_id"))
      .count().where(col("count") > 1).count()
    assert(dupes == 0, "replay must not duplicate lineage rows")
    val linRows = lin.agg(sum(col("rows"))).head().getLong(0)
    assert(linRows == StreamingLineage.docs(spark, out).count(),
      "lineage row counts must reconcile with the table")
    // schema evolution bookkeeping: every snapshot records its writer
    // schema, including the epoch column the streaming commits carry
    (1L to m.snapshot).foreach { s =>
      assert(m.schemas.getOrElse(s, Nil).contains("epoch"),
        s"snapshot $s must record the widened writer schema")
    }

    Seq(warcDir, out, cp).foreach(d => graft.util.Staging.deleteRec(Paths.get(d)))
  }

  test("epoch records survive past the recentProgress retention cap") {
    // 8 single-chunk epochs with the engine's progress retention forced
    // down to 2: recentProgress alone would keep only the last 2 batches;
    // the per-epoch records are written by the epochs themselves, so all
    // 8 must exist and account for every row of the docs table
    val warcDir = Files.createTempDirectory("graft-sl3-warc").toString
    val out = Files.createTempDirectory("graft-sl3-out").toString
    val cp = Files.createTempDirectory("graft-sl3-cp").toString
    Warc.write(spark, Corpus.pages(spark, sfDir), warcDir, numFiles = 8)
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try StreamingLineage.run(spark, warcDir, out, cp, numPids = 4, maxFilesPerTrigger = Some(1))
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(metricsFiles(out) == (0 to 7).map(e => s"epoch-$e.json").toSet)
    val total = (0L to 7L).map(e => MetricsRecord.read(epochRecord(out, e)).get("docs_total").asLong).sum
    assert(total == StreamingLineage.docs(spark, out).count(),
      s"epoch records must sum to the docs table rows (got $total)")
    Seq(warcDir, out, cp).foreach(d => graft.util.Staging.deleteRec(Paths.get(d)))
  }

  test("every epoch record holds its docs write stage and the commit time; the write is the only job") {
    val warcDir = Files.createTempDirectory("graft-sl4-warc").toString
    val out = Files.createTempDirectory("graft-sl4-out").toString
    val cp = Files.createTempDirectory("graft-sl4-cp").toString
    Warc.write(spark, Corpus.pages(spark, sfDir), warcDir, numFiles = 3)
    StreamingLineage.run(spark, warcDir, out, cp, numPids = 4, maxFilesPerTrigger = Some(1))
    val epochs = Lineage.manifest(out).epochs
    assert(epochs == Set(0L, 1L, 2L))
    epochs.foreach { e =>
      val rec = MetricsRecord.read(epochRecord(out, e))
      assert(MetricsRecord.hasWriteStage(rec), s"epoch $e: $rec")
      assert(rec.get("commit_ms").asDouble > 0, s"epoch $e: $rec")
      assert(MetricsRecord.onlyDocsWrite(rec), s"epoch $e: $rec")
    }
    Seq(warcDir, out, cp).foreach(d => graft.util.Staging.deleteRec(Paths.get(d)))
  }

  test("writer lock: concurrent stream on the same table fails fast") {
    val warcDir = Files.createTempDirectory("graft-sl2-warc").toString
    val out = Files.createTempDirectory("graft-sl2-out").toString
    val cp = Files.createTempDirectory("graft-sl2-cp").toString
    Warc.write(spark, Corpus.pages(spark, sfDir), warcDir, numFiles = 2)
    Files.createDirectories(Paths.get(out, "_lineage"))
    Files.write(Paths.get(out, "_lineage", "writer.lock"), "other".getBytes)
    val e = intercept[IllegalStateException] {
      StreamingLineage.run(spark, warcDir, out, cp, numPids = 4)
    }
    assert(e.getMessage.contains("another writer"))
    // takeover drains normally
    StreamingLineage.run(spark, warcDir, out, cp, numPids = 4, takeover = true)
    assert(StreamingLineage.docs(spark, out).count() > 0)
    Seq(warcDir, out, cp).foreach(d => graft.util.Staging.deleteRec(Paths.get(d)))
  }

  test("st_lineage restages a table whose committed epochs lack their records") {
    val stLineage = SparkEntry.queries("st_lineage")
    val rows = stLineage(spark, sfDir).count()
    // the staged table's keyed path (an always-complete check only resolves it)
    val tbl = graft.util.Staging.keyedArtifact("stlineage", sfDir,
      graft.fixtures.PageHtml.CorpusVersion)(_ => true)(_ => ())
    // what a writer without epoch records leaves behind
    graft.util.Staging.deleteRec(Paths.get(tbl, "_metrics"))
    assert(stLineage(spark, sfDir).count() == rows)
    val epochs = Lineage.manifest(tbl).epochs
    assert(epochs.nonEmpty)
    assert(metricsFiles(tbl) == epochs.map(e => s"epoch-$e.json"),
      "the rebuilt table must hold one record per committed epoch")
    val total = epochs.toSeq.map(e => MetricsRecord.read(epochRecord(tbl, e)).get("docs_total").asLong).sum
    assert(total == rows, s"epoch records sum to $total docs, the table has $rows")
  }

  test("st_lineage restages a table whose epoch record is truncated") {
    val stLineage = SparkEntry.queries("st_lineage")
    val rows = stLineage(spark, sfDir).count()
    val tbl = graft.util.Staging.keyedArtifact("stlineage", sfDir,
      graft.fixtures.PageHtml.CorpusVersion)(_ => true)(_ => ())
    // what a crash in the middle of an in-place record write leaves behind
    val torn = epochRecord(tbl, Lineage.manifest(tbl).epochs.min)
    val bytes = Files.readAllBytes(torn)
    Files.write(torn, bytes.take(bytes.length / 2))
    assert(stLineage(spark, sfDir).count() == rows)
    val epochs = Lineage.manifest(tbl).epochs
    val total = epochs.toSeq.map(e => MetricsRecord.read(epochRecord(tbl, e)).get("docs_total").asLong).sum
    assert(total == rows, s"epoch records sum to $total docs, the table has $rows")
  }
}
