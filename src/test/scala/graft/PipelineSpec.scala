package graft

import graft.fixtures.Corpus
import graft.pipeline.{ExtractJob, Lineage}
import graft.sources.Warc
import graft.pipeline.ExtractJob.JobConfig
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Operator tests on local Spark (SURVEY.md §5.2 item 2): lineage commit,
  * resume-after-kill at partition granularity, partition pruning on the
  * warc_day layout, metrics report.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  test("full run: report counts match the frozen error-routing rule; lineage committed") {
    val out = freshDir("full")
    val pages = Corpus.pages(spark, sfDir)
    val report = ExtractJob.run(spark, pages, JobConfig(out, numPids = 16))

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nTotal = docs.count()
    val nVal = docs.filter(col("doc_id") % 20 === 13).count()
    val nPay = docs.filter(col("doc_id") % 20 === 19).count()
    val nUnx = docs.filter(col("doc_id") % 20 === 3).count()
    assert(report.docsTotal == nTotal)
    assert(report.failedValidation == nVal)
    assert(report.failedPayload == nPay)
    // the third reason code is EXERCISED, not just declared — mirrors the
    // reference's unexpected-error test (test_kafka_consumer.py:160-195)
    assert(nUnx > 0 && report.failedUnexpected == nUnx)
    assert(report.docsOk == nTotal - nVal - nPay - nUnx)
    assert(report.pidsProcessed == 16)
    assert(report.bytesIn > 0)

    val m = Lineage.manifest(out)
    assert(m.snapshot == 1L && m.pids == (0 until 16).toSet)
    val lin = Lineage.table(spark, out)
    assert(lin.count() == 16)
    assert(lin.agg(sum("rows")).head.getLong(0) == nTotal)

    // the run record: schema-valid, and its counts are the report's
    val rec = MetricsRecord.read(java.nio.file.Paths.get(out, "_metrics", "run-1.json"))
    assert(rec.get("docs_total").asLong == nTotal && rec.get("snapshot").asLong == 1L)
  }

  test("run record holds the docs write stage and the commit time; the write is the only job") {
    val out = freshDir("record")
    ExtractJob.run(spark, Corpus.pages(spark, sfDir), JobConfig(out, numPids = 8))
    // the write is the run's last job: its stages must be in the record
    // although listener delivery is asynchronous
    val rec = MetricsRecord.read(Paths.get(out, "_metrics", "run-1.json"))
    assert(MetricsRecord.hasWriteStage(rec), rec.toString)
    assert(rec.get("commit_ms").asDouble > 0 && rec.get("commit_ms").asDouble < rec.get("wall_sec").asDouble * 1000)
    assert(rec.get("write_ms").asDouble > 0 && rec.get("write_ms").asDouble < rec.get("wall_sec").asDouble * 1000)
    assert(MetricsRecord.onlyDocsWrite(rec), rec.toString)
  }

  test("pipeline over WARC input: same ok-row set as the parquet path") {
    import spark.implicits._
    val warcDir = freshDir("warc-in")
    Warc.write(spark, Corpus.pages(spark, sfDir), warcDir, numFiles = 4)
    val out = freshDir("warc-out")
    val report = ExtractJob.run(spark, Warc.read(spark, warcDir), JobConfig(out, numPids = 8))
    // null-html pages never became WARC records → no validation class;
    // everything else routes exactly as on the parquet path
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(report.failedValidation == 0)
    assert(report.docsTotal == docs.filter(col("doc_id") % 20 =!= 13).count())
    assert(report.failedPayload == docs.filter(col("doc_id") % 20 === 19).count())
    assert(report.failedUnexpected == docs.filter(col("doc_id") % 20 === 3).count())
    // ok rows byte-identical to the source text (the x_extract contract)
    val got = ExtractJob.docs(spark, out).where(col("error").isNull)
      .select(element_at(split(col("url"), "/"), -1).cast("long").as("doc_id"),
        col("extracted_text"))
      .as[(Long, String)].collect().toMap
    val want = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .filter(r => r._1 % 20 != 3 && r._1 % 20 != 13 && r._1 % 20 != 19).toMap
    assert(got.size == want.size)
    want.foreach { case (id, text) =>
      val expected = if (id % 20 == 7) "" else text
      assert(got(id) == expected, s"doc $id text drift through WARC")
    }
  }

  test("resume after kill: second run processes exactly the uncommitted pids; digests stable") {
    val out = freshDir("resume")
    val pages = Corpus.pages(spark, sfDir)
    // simulate a run killed after committing pids 0..7
    val half = (0 until 8).toSet
    val r1 = ExtractJob.run(spark, pages, JobConfig(out, numPids = 16, limitPids = Some(half)))
    assert(r1.pidsProcessed == 8)
    assert(Lineage.manifest(out).pids == half)

    // resume: full run must process ONLY the complement
    val r2 = ExtractJob.run(spark, pages, JobConfig(out, numPids = 16))
    assert(r2.pidsProcessed == 8)
    assert(Lineage.manifest(out).pids == (0 until 16).toSet)
    assert(r1.docsTotal + r2.docsTotal == spark.read.parquet(s"$sfDir/documents.parquet").count())

    // a third run is a no-op
    val r3 = ExtractJob.run(spark, pages, JobConfig(out, numPids = 16))
    assert(r3.pidsProcessed == 0 && r3.docsTotal == 0)

    // the union of both runs is byte-identical to a single fresh full run
    val outFull = freshDir("fullcmp")
    ExtractJob.run(spark, pages, JobConfig(outFull, numPids = 16))
    val a = ExtractJob.docs(spark, out).select("url", "extracted_text", "error")
    val b = ExtractJob.docs(spark, outFull).select("url", "extracted_text", "error")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)

    // digests content-addressed: same pid ⇒ same digest across directories
    val la = Lineage.table(spark, out).select("partition_id", "digest", "rows")
    val lb = Lineage.table(spark, outFull).select("partition_id", "digest", "rows")
    assert(la.exceptAll(lb).count() == 0)

    // snapshot time travel: as-of snapshot 1 shows only the first run's pids
    val at1 = Lineage.tableAt(spark, out, 1L)
    assert(at1.select("partition_id").collect().map(_.getInt(0)).toSet == half)
    assert(Lineage.tableAt(spark, out, 2L).count() == 16)
  }

  test("shard export: partitioned layout matches the c_shard_stats manifest, pruned reads") {
    val out = freshDir("shards")
    val (n, parts) = pipeline.ShardExport.run(spark, sfDir, out)
    // written content must agree with the oracle-checked manifest query
    val stats = graft.queries.Curation.defs("c_shard_stats")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(n == stats.values.sum && parts == stats.size)
    // shard comes back as the partition-discovery integer type
    val readBack = pipeline.ShardExport.shards(spark, out)
      .groupBy(col("split"), col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(readBack == stats, s"shard layout mismatch: $readBack vs $stats")
    // a single-shard read is partition-pruned to one directory
    val one = pipeline.ShardExport.shards(spark, out)
      .where(col("split") === "train" && col("shard") === 0)
    val scan = one.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    assert(scan.selectedPartitions.partitionCount == 1,
      "training-shard read must prune to exactly one partition")
    // writer parallelism: the salt spreads each (split, shard) directory
    // across several writer tasks — some directory must hold >1 file,
    // and none may exceed writersPerShard files (no small-files explosion)
    val filesPerDir = java.nio.file.Files.walk(java.nio.file.Paths.get(out, "shards"))
      .filter(p => p.toString.endsWith(".parquet"))
      .toArray.map(_.toString.split("/").dropRight(1).mkString("/"))
      .groupBy(identity).map(_._2.length)
    assert(filesPerDir.max > 1, s"salted export must use >1 writer per shard dir: $filesPerDir")
    assert(filesPerDir.max <= 4, s"files per dir must be capped at writersPerShard: $filesPerDir")
  }

  test("JSONL shard export: same manifest counts, line-parseable files") {
    val out = freshDir("shards-jsonl")
    val (n, parts) = pipeline.ShardExport.run(spark, sfDir, out, format = "json")
    val stats = graft.queries.Curation.defs("c_shard_stats")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(n == stats.values.sum && parts == stats.size)
    // files are genuine JSON Lines: one object per line, keys present
    val f = java.nio.file.Files.walk(java.nio.file.Paths.get(out, "shards"))
      .filter(p => p.toString.endsWith(".json")).findFirst().get()
    val first = java.nio.file.Files.readAllLines(f).get(0)
    assert(first.startsWith("{") && first.contains("\"doc_id\"") &&
      first.contains("\"text\""), first.take(120))
  }

  test("null-url rows are digest-covered and never NPE the lineage agg") {
    import spark.implicits._
    val out = freshDir("nullurl")
    val ts = new java.sql.Timestamp(0L)
    val body = graft.fixtures.PageHtml.build(2L, Seq.fill(30)("w").mkString(" "), "en")
    val pages = Seq(
      (1L, null.asInstanceOf[String], ts, "<p>x</p>".getBytes("UTF-8"), "t", "en"),
      (2L, "https://x/2", ts, body.getBytes("UTF-8"), "t", "en"))
      .toDF("doc_id", "url", "warc_ts", "html", "text", "lang")
    val r = ExtractJob.run(spark, pages, JobConfig(out, numPids = 4))
    assert(r.failedValidation == 1 && r.docsTotal == 2)
    // the null-url row lands in pid 42 mod 4 = 2 (xxhash64 of NULL is its
    // seed, 42), and that pid's lineage row counts it under a non-null digest
    val docs = ExtractJob.docs(spark, out)
    assert(docs.where(col("url").isNull).select("pid").as[Int].collect().toSeq == Seq(2))
    val lin = Lineage.table(spark, out).where(col("partition_id") === 2)
    assert(lin.count() == 1 && lin.select("digest").head.getString(0) != null)
    assert(lin.select("rows").head.getLong(0) == docs.where(col("pid") === 2).count())
  }

  test("writer lock: concurrent second run fails fast; takeover steals a stale lock") {
    val out = freshDir("lock")
    val pages = Corpus.pages(spark, sfDir)
    // simulate a concurrent (or crashed) writer holding the lock
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out, "_lineage"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_lineage", "writer.lock"))
    val e = intercept[IllegalStateException] {
      ExtractJob.run(spark, pages, JobConfig(out, numPids = 8))
    }
    assert(e.getMessage.contains("--takeover"))
    // takeover steals the stale lock and runs; lock released afterwards
    val r = ExtractJob.run(spark, pages, JobConfig(out, numPids = 8, takeover = true))
    assert(r.pidsProcessed == 8)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_lineage", "writer.lock")))
  }

  test("failed run unregisters its metrics listener and releases the writer lock") {
    import spark.implicits._
    import SparkSessionTestBase.graftListeners
    val out = freshDir("fail")
    val before = graftListeners()
    // html as a string fails extract_content's type check — after the
    // job has registered its listener
    val bad = Seq(("https://x.example/a", "<p>not bytes</p>", "en")).toDF("url", "html", "lang")
    intercept[org.apache.spark.sql.AnalysisException] {
      ExtractJob.run(spark, bad, JobConfig(out, numPids = 4))
    }
    assert(graftListeners() == before)
    // same output dir, no takeover: the lock was released by the failure
    val r = ExtractJob.run(spark, Corpus.pages(spark, sfDir), JobConfig(out, numPids = 4))
    assert(r.pidsProcessed == 4 && r.docsTotal > 0)
    assert(graftListeners() == before)
  }

  test("crash between lineage write and manifest rename: orphan snapshot invisible, retry clean") {
    import spark.implicits._
    val out = freshDir("orphan")
    val pages = Corpus.pages(spark, sfDir)
    ExtractJob.run(spark, pages, JobConfig(out, numPids = 8))
    val committedRows = Lineage.table(spark, out).count()

    // simulate a crashed second commit: data written, manifest NOT renamed
    Seq((0, 1L, 1L, "9"), (1, 1L, 1L, "9"))
      .toDF("partition_id", "rows", "bytes", "digest")
      .write.mode("overwrite").parquet(s"$out/_lineage/data/offset=2")

    // readers are bounded by the committed manifest: the orphan is invisible
    assert(Lineage.table(spark, out).count() == committedRows)
    assert(Lineage.table(spark, out).agg(max(col("offset"))).head.getInt(0) == 1)

    // a retried commit OVERWRITES the orphan directory — no duplicates
    Lineage.commit(spark, out,
      Seq((7, 5L, 5L, "42")).toDF("partition_id", "rows", "bytes", "digest"))
    val snap2 = spark.read.parquet(s"$out/_lineage/data").where(col("offset") === 2)
    assert(snap2.count() == 1 && snap2.select("digest").head.getString(0) == "42")
  }

  test("manifest: legacy format parses; new commits record writer schemas") {
    import spark.implicits._
    val out = freshDir("manifest-evo")
    // a round-4 manifest (no epochs/schemas fields) must keep parsing
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out, "_lineage"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "_lineage", "manifest.json"),
      """{"snapshot":3,"committed_pids":[1,2,5]}""".getBytes("UTF-8"))
    val legacy = Lineage.manifest(out)
    assert(legacy.snapshot == 3 && legacy.pids == Set(1, 2, 5))
    assert(legacy.epochs.isEmpty && legacy.schemas.isEmpty)

    // a new commit on top: schema recorded per snapshot, evolution via
    // an extra column in the NEXT snapshot, union-by-name read
    Lineage.commit(spark, out,
      Seq((0, 2L, 10L, "7")).toDF("partition_id", "rows", "bytes", "digest"))
    Lineage.commit(spark, out,
      Seq((1, 3L, 20L, "8", 4L))
        .toDF("partition_id", "rows", "bytes", "digest", "files"))
    val schemas = Lineage.manifest(out).schemas
    assert(schemas(4) == Seq("partition_id", "rows", "bytes", "digest"))
    assert(schemas(5) == Seq("partition_id", "rows", "bytes", "digest", "files"))
    val t = Lineage.table(spark, out).orderBy(col("partition_id"))
      .select(col("partition_id"), col("files")).as[(Int, Option[Long])].collect()
    assert(t.toSeq == Seq((0, None), (1, Some(4L))),
      "added column must read null on pre-evolution snapshots")
  }

  private def writeManifest(out: String, bytes: String): Unit = {
    Files.createDirectories(Paths.get(out, "_lineage"))
    Files.write(Paths.get(out, "_lineage", "manifest.json"), bytes.getBytes("UTF-8"))
  }

  test("manifest: the full format reads field by field; a commit on top writes the same format") {
    import spark.implicits._
    val out = freshDir("manifest-full")
    val base = """["partition_id","rows","bytes","digest"]"""
    val withEpoch = """["partition_id","rows","bytes","digest","epoch"]"""
    writeManifest(out, s"""{"snapshot":7,"committed_pids":[0,3,5],"epochs":[0,1,2],""" +
      s""""schemas":{"6":$base,"7":$withEpoch}}""")
    val m = Lineage.manifest(out)
    assert(m.snapshot == 7L && m.pids == Set(0, 3, 5) && m.epochs == Set(0L, 1L, 2L))
    assert(m.schemas == Map(6L -> Seq("partition_id", "rows", "bytes", "digest"),
      7L -> Seq("partition_id", "rows", "bytes", "digest", "epoch")))

    val rows = Seq((9, 1L, 2L, "3", 3L)).toDF("partition_id", "rows", "bytes", "digest", "epoch")
    assert(Lineage.commit(spark, out, rows, Some(3L)) == Some(8L))
    assert(Lineage.commit(spark, out, rows, Some(3L)).isEmpty, "a committed epoch must not commit again")
    val written = new String(Files.readAllBytes(Paths.get(out, "_lineage", "manifest.json")), "UTF-8")
    assert(written == s"""{"snapshot":8,"committed_pids":[0,3,5,9],"epochs":[0,1,2,3],""" +
      s""""schemas":{"6":$base,"7":$withEpoch,"8":$withEpoch}}""")
  }

  test("manifest: bytes that are not JSON read as an empty manifest") {
    val out = freshDir("manifest-corrupt")
    writeManifest(out, """{"snapshot":3,"committed_pids":[1,2""")
    assert(Lineage.manifest(out) == Lineage.Manifest(0L, Set.empty, Set.empty, Map.empty))
  }

  test("manifest: writer schemas keep column names with quotes and brackets") {
    import spark.implicits._
    val out = freshDir("manifest-names")
    val cols = Seq("partition_id", "rows", "bytes", "digest", "a\"b", "a]b")
    Lineage.commit(spark, out, Seq((0, 1L, 2L, "3", 4L, 5L)).toDF(cols: _*))
    assert(Lineage.manifest(out).schemas == Map(1L -> cols))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(out, "_lineage", "manifest.json").toFile)
    assert(json.path("schemas").path("1").size == cols.size, json.toString)
    assert(Lineage.table(spark, out).columns.toSeq.containsSlice(Seq("a\"b", "a]b")))
  }

  test("warc_day layout: partition pruning reaches the file scan") {
    val tbl = freshDir("pruned")
    Corpus.pages(spark, sfDir)
      .withColumn("warc_day", to_date(col("warc_ts")))
      .write.partitionBy("warc_day").mode("overwrite").parquet(tbl)
    val pages = spark.read.parquet(tbl)
    val nDays = pages.select("warc_day").distinct().count()
    assert(nDays >= 7, s"corpus must span >=7 days, got $nDays")

    val q = pages.where(col("warc_day") === "2026-01-03").select("url")
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    val scanStr = scan.toString
    // FileSourceScanExec reports partition filters + pruned partition count
    assert(scanStr.contains("PartitionFilters"), scanStr)
    val files = q.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.partitionCount
    assert(files == 1, s"exactly one warc_day partition must survive pruning, got $files")
  }

  test("extraction shuffle carries extracted output, not raw html (plan shape)") {
    graft.functions.GraftFunctions.register(spark)
    val pages = Corpus.pages(spark, sfDir)
    val extracted = pages
      .withColumn("pid", ExtractJob.pidCol(16))
      .select(col("url"),
        call_function("extract_content", col("url"), col("html"), col("lang")).as("r"), col("pid"))
      .repartition(16, col("pid"))
    val plan = extracted.queryExecution.sparkPlan // pre-AQE: exchanges visible
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, s"expected a shuffle exchange:\n$plan")
    // the exchange's payload is the extraction RESULT — raw html must have
    // been projected away below it (map-side extraction)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("html"), s"raw html crosses the shuffle: $names")
      assert(names.contains("r") || names.exists(_.startsWith("r")),
        s"extraction result must cross the shuffle: $names")
    }
  }
}
