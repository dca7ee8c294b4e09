package graft

import graft.fixtures.{Corpus, PageHtml}
import graft.pipeline.{ExtractJob, Lineage, LineageAggReference, PidSums, RunReport}
import graft.pipeline.ExtractJob.JobConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Differential check of the lineage fold: the per-pid sums the docs write
  * stage gathers (`RunReport.pids`) equal, field by field, the former
  * groupBy over the written parquet ([[LineageAggReference]]), and the
  * committed lineage rows are those sums.
  */
class LineageFoldSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** `body` over a fresh output dir, removed afterwards */
  private def inFreshDir(tag: String)(body: String => Unit): Unit = {
    val out = Files.createTempDirectory(s"graft-fold-$tag")
    try body(out.toString) finally graft.util.Staging.deleteRec(out)
  }

  /** `run`'s sums against the oracle over the docs of the pids it ran */
  private def assertFold(out: String, run: RunReport, runPids: Seq[Int]): Unit = {
    assert(run.pids.map(_.pid) == runPids.sorted, "one sums entry per pid of the run, empty ones included")
    val oracle = LineageAggReference.agg(ExtractJob.docs(spark, out).where(col("pid").isin(runPids: _*)))
      .map(s => s.pid -> s).toMap
    assert(oracle.keySet.subsetOf(runPids.toSet))
    run.pids.foreach { s =>
      assert(s == oracle.getOrElse(s.pid, PidSums(s.pid, 0, 0, 0, 0, 0, 0, 0)), s"pid ${s.pid}")
    }
    val committed = Lineage.tableAt(spark, out, run.snapshot).where(col("offset") === run.snapshot)
      .select(col("partition_id"), col("rows"), col("bytes"), col("digest"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1).toSeq
    assert(committed == run.pids.map(s => (s.pid, s.rows, s.bytes, s.digest.toString)))
  }

  private def pages(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    rows.zipWithIndex.map { case ((url, html), i) =>
      (i.toLong, url, ts, Option(html).map(_.getBytes("UTF-8")).orNull, "t", "en")
    }.toDF("doc_id", "url", "warc_ts", "html", "text", "lang")
  }

  private def page(i: Int): String = PageHtml.build(i.toLong, Seq.fill(30)(s"w$i").mkString(" "), "en")

  test("null urls: pid 0 sums equal the second-pass aggregate") {
    inFreshDir("nullurl") { out =>
      val in = pages((null, "<p>x</p>"), (null, null), ("", "<p>y</p>"))
        .union(pages((1 to 12).map(i => (s"https://h$i.example/d/$i", page(i))): _*))
      // xxhash64(NULL) is the seed, 42: null urls land in pid 42 mod 6 = 0
      val r = ExtractJob.run(spark, in, JobConfig(out, numPids = 6))
      assert(r.pids.find(_.pid == 0).exists(_.failedValidation >= 2))
      assertFold(out, r, 0 until 6)
    }
  }

  test("all three error classes: per-pid class counts equal the second-pass aggregate") {
    inFreshDir("classes") { out =>
      val r = ExtractJob.run(spark, Corpus.pages(spark, sfDir), JobConfig(out, numPids = 16))
      assert(r.failedValidation > 0 && r.failedPayload > 0 && r.failedUnexpected > 0 && r.docsOk > 0)
      assertFold(out, r, 0 until 16)
    }
  }

  test("empty pids still commit (p, 0, 0, \"0\")") {
    inFreshDir("empty") { out =>
      val r = ExtractJob.run(spark, pages((1 to 3).map(i => (s"https://e.example/$i", page(i))): _*),
        JobConfig(out, numPids = 16))
      assert(r.pids.count(_.rows == 0) >= 13)
      assertFold(out, r, 0 until 16)
      val zeros = Lineage.table(spark, out).where(col("rows") === 0)
        .select(col("bytes"), col("digest")).distinct().collect().map(z => (z.getLong(0), z.getString(1)))
      assert(zeros.toSeq == Seq((0L, "0")))
    }
  }

  test("limitPids resume, then the completing run: each run's sums equal the aggregate") {
    inFreshDir("resume") { out =>
      val in = Corpus.pages(spark, sfDir)
      val half = 0 until 8
      val r1 = ExtractJob.run(spark, in, JobConfig(out, numPids = 16, limitPids = Some(half.toSet)))
      assertFold(out, r1, half)
      val r2 = ExtractJob.run(spark, in, JobConfig(out, numPids = 16))
      assertFold(out, r2, 8 until 16)
      assert(Lineage.table(spark, out).agg(sum(col("rows"))).head.getLong(0) == in.count())
    }
  }
}
