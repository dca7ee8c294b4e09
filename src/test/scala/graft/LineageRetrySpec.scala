package graft

import graft.fixtures.Corpus
import graft.pipeline.{ExtractJob, Json, Lineage}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** A docs-write task that fails once and is retried must not double-count
  * lineage: the per-pid sums are gathered in the write stage, and Spark
  * keeps only a successful attempt's accumulator update. Local mode
  * retries a task only under a `local[n,f]` master, so the runs happen in
  * a child JVM ([[LineageRetryMain]]) rather than on the shared session.
  */
class LineageRetrySpec extends AnyFunSuite {

  test("a write task retried after a failed commit counts its rows once") {
    val work = Files.createTempDirectory("graft-retry")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(javaBin) ++ jvm ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
      LineageRetryMain.getClass.getName.stripSuffix("$"), work.toString)
    val child = new ProcessBuilder(cmd: _*)
      .redirectError(work.resolve("child.log").toFile)
      .start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor(300, TimeUnit.SECONDS) && child.exitValue == 0,
      s"child JVM failed; log at ${work.resolve("child.log")}")
    val res = Json.mapper.readTree(out.linesIterator.filter(_.startsWith("{")).toSeq.last)
    assert(res.get("failed_attempts").asInt == 1, res.toString)
    assert(res.get("retried").asText == res.get("clean").asText, res.toString)
    assert(res.get("clean").asText.nonEmpty)
    graft.util.Staging.deleteRec(work)
  }
}

/** Child JVM of [[LineageRetrySpec]]: the sf0.001 extraction run twice on
  * a `local[2,2]` session (one retry per task), clean and then with
  * [[FailOnceCommitter]] failing the first attempt of write task 0;
  * prints one JSON line with both runs' per-pid sums, report counts and
  * committed lineage rows.
  */
object LineageRetryMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2,2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val pages = Corpus.pages(spark, "/root/testdata/sf0.001")
      def runAt(dir: String): String = {
        val r = ExtractJob.run(spark, pages, ExtractJob.JobConfig(dir, numPids = 8))
        val lineage = Lineage.table(spark, dir).orderBy(col("partition_id"))
          .select(col("partition_id"), col("rows"), col("bytes"), col("digest")).collect().mkString(";")
        Seq(r.pids.mkString(";"), lineage, Seq(r.docsOk, r.failedValidation, r.failedPayload,
          r.failedUnexpected, r.bytesIn).mkString(",")).mkString(" | ")
      }
      val clean = runAt(s"${args(0)}/clean")
      spark.conf.set("spark.sql.parquet.output.committer.class", classOf[FailOnceCommitter].getName)
      val retried = runAt(s"${args(0)}/retried")
      println(Json.write(ListMap("failed_attempts" -> FailOnceCommitter.failed.get,
        "clean" -> clean, "retried" -> retried)))
    } finally spark.stop()
  }
}

/** Fails the commit of the first write task that has rows to commit,
  * on its first attempt, after the task has written every row.
  */
class FailOnceCommitter(out: Path, ctx: TaskAttemptContext) extends ParquetOutputCommitter(out, ctx) {
  override def commitTask(c: TaskAttemptContext): Unit = {
    if (TaskContext.get().attemptNumber == 0 && FailOnceCommitter.failed.compareAndSet(0, 1))
      throw new java.io.IOException("injected task commit failure")
    super.commitTask(c)
  }
}

object FailOnceCommitter {
  val failed = new AtomicInteger
}
