package graft.enginebench

import graft.SparkEntry
import graft.extract.{Blocks, Classifier, Extractor, Spans}
import graft.fixtures.Corpus
import graft.functions.GraftFunctions
import graft.html.Tokenizer
import graft.pipeline.{ExtractJob, Lineage, StreamingLineage}
import graft.sources.Warc
import graft.util.CacheScope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the engine benchmark (driven by `enginebench/run.py`).
  *
  * Stages the generated inputs, warms up, then runs one workload's
  * operations back to back (closed loop, one op in flight) through the
  * engine's public entry points until `--seconds` have passed:
  *
  *   extract_batch  one `ExtractJob.run` over the staged page table per op
  *   crawl_stream   `StreamingLineage.run` drains of the WARC chunk dir;
  *                  every epoch is one op
  *   dedup_hot      one pass of `d_minhash_lsh` + `d_components` per op
  *
  * Output checks and metrics are computed by run.py from the raw record
  * this program writes to `--out` (op intervals, per-op output dirs, and
  * with `--trace 1` the listener records, spans and layer probes).
  *
  * Every argument is required: `--workload --input --work --out
  * --seconds --trace --seed --chunks --pids --warmup-ops`.
  */
object EngineBench {

  final case class Args(workload: String, input: String, work: String, out: String,
      seconds: Double, trace: Boolean, seed: Long, chunks: Int, pids: Int, warmupOps: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(arg("workload"), arg("input"), arg("work"), arg("out"), arg("seconds").toDouble,
      arg("trace") == "1", arg("seed").toLong, arg("chunks").toInt, arg("pids").toInt,
      arg("warmup-ops").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("enginebench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try new EngineBench(spark, a).run()
    finally spark.stop()
  }

  /** peak resident set (VmHWM) of this process, in kB */
  def peakRssKb(): Long = {
    val lines = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8").split('\n')
    lines.find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }
}

final class EngineBench(spark: SparkSession, a: EngineBench.Args) {
  import EngineBench._

  private val rec = new Recorder
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val drains = ArrayBuffer.empty[Map[String, Any]]
  private val probes = scala.collection.mutable.Map.empty[String, Any]
  private var opSeq = 0
  private val stageDir = s"${a.work}/stage"

  private def docsFrame(): DataFrame =
    spark.read.schema("doc_id LONG, text STRING, lang STRING").json(s"${a.input}/docs.jsonl")

  private def pages(dir: String): DataFrame =
    Corpus.pages(spark, dir).select(col("url"), col("warc_ts"), col("html"), col("lang"))

  private def writePages(dir: String): Unit =
    pages(dir).repartition(16).write.parquet(s"$dir/pages")

  /** `n` WARC chunk files of equal size (±1 page) under `dir`: pages are
    * dealt round-robin in url-hash order, one `Warc.write` per chunk,
    * written concurrently. (A single `Warc.write(numFiles = n)` routes rows
    * by hash-partitioning `xxhash64(url) mod n`, which leaves some of a
    * small number of chunk files empty.)
    */
  private def writeChunks(df: DataFrame, dir: String, n: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val dealt = df.where(col("html").isNotNull)
      .withColumn("chunk", pmod(row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(xxhash64(col("url")), col("url"))), lit(n)))
      .cache()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val writes = (0 until n).map { k =>
        pool.submit[Unit](() => {
          val tmp = s"$dir/_chunk-$k"
          Warc.write(spark, dealt.where(col("chunk") === k).drop("chunk"), tmp, numFiles = 1)
          val part = Files.list(Paths.get(tmp)).iterator().asScala.find(_.toString.endsWith(".warc.gz")).get
          Files.move(part, Paths.get(dir, f"chunk-$k%05d.warc.gz"))
          Files.list(Paths.get(tmp)).iterator().asScala.foreach(Files.delete)
          Files.delete(Paths.get(tmp))
        })
      }
      writes.foreach(_.get())
    } finally {
      pool.shutdown()
      dealt.unpersist()
    }
  }

  /** every 4th page or doc: the input of the warm-up ops */
  private def warmSubset(df: DataFrame, key: String): DataFrame =
    df.where(pmod(xxhash64(col(key)), lit(4L)) === 0)

  /** Generated docs → the engine's input files for this workload. */
  private def stage(): Unit = {
    val dir = stageDir
    docsFrame().coalesce(1).write.parquet(s"$dir/documents.parquet")
    a.workload match {
      case "extract_batch" => writePages(dir)
      case "crawl_stream" =>
        writeChunks(pages(dir), s"$dir/warc", a.chunks)
        writeChunks(pages(dir).where(col("url").endsWith("0")), s"$dir/warc-warm", 4)
      case "dedup_hot" =>
        warmSubset(spark.read.parquet(s"$dir/documents.parquet"), "doc_id")
          .coalesce(1).write.parquet(s"$dir/warm/documents.parquet")
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  private def newOp(): Int = { opSeq += 1; opSeq }

  private def failed(e: Throwable): Map[String, Any] =
    Map("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))

  private def extractOp(pages: => DataFrame, name: String): Map[String, Any] = {
    val i = newOp()
    val out = s"${a.work}/ops/$name-$i"
    val t0 = Clock.nowMs
    val res = try {
      val r = rec.span("ExtractJob.run", i) {
        ExtractJob.run(spark, pages, ExtractJob.JobConfig(out, a.pids))
      }
      Map("docs" -> r.docsTotal, "ok" -> r.docsOk, "validation" -> r.failedValidation,
        "payload" -> r.failedPayload, "unexpected" -> r.failedUnexpected)
    } catch { case NonFatal(e) => failed(e) }
    val t1 = Clock.nowMs
    if (!res.contains("error") && name != "warmup") dumpLineage(out)
    Map("op" -> i, "kind" -> name, "start" -> t0, "end" -> t1, "dir" -> out) ++ res
  }

  /** `Lineage.table` as committed by the job, for the digest audit */
  private def dumpLineage(out: String): Unit = {
    val rows = Lineage.table(spark, out).select(col("partition_id"), col("rows"), col("digest"))
      .collect().map(r => s"${r.getInt(0)}\t${r.getLong(1)}\t${r.getString(2)}")
    Files.write(Paths.get(out, "lineage_table.tsv"), rows.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** One AvailableNow drain; each committed epoch is recorded as an op. */
  private def drain(warcDir: String, name: String, pids: Int): Map[String, Any] = {
    val d = drains.size + 1
    val base = s"${a.work}/ops/$name-$d"
    val epochs = ArrayBuffer.empty[Map[String, Any]]
    var last = Clock.nowMs
    val t0 = last
    val err = try {
      rec.span("StreamingLineage.run", -d, Map("drain" -> d)) {
        StreamingLineage.run(spark, warcDir, s"$base/out", s"$base/cp", numPids = pids,
          maxFilesPerTrigger = Some(1), onEpoch = (epoch, committed) => {
            val now = Clock.nowMs
            val i = newOp()
            rec.mark("epoch", i, last, now, Map("epoch" -> epoch, "drain" -> d))
            epochs += Map("op" -> i, "kind" -> name, "drain" -> d, "epoch" -> epoch,
              "committed" -> committed, "start" -> last, "end" -> now)
            last = now
          })
      }
      None
    } catch { case NonFatal(e) => Some(failed(e)) }
    val rec0 = Map("drain" -> d, "kind" -> name, "dir" -> s"$base/out", "warc" -> warcDir,
      "start" -> t0, "end" -> Clock.nowMs, "epochs" -> epochs.size) ++ err.getOrElse(Map.empty)
    drains += rec0
    if (name == "crawl_stream") ops ++= epochs
    rec0
  }

  private def dedupOp(dir: String, name: String): Map[String, Any] = {
    val i = newOp()
    val out = s"${a.work}/ops/$name-$i"
    val t0 = Clock.nowMs
    val res = try {
      val pairs = rec.span("d_minhash_lsh", i) {
        SparkEntry.queries("d_minhash_lsh")(spark, dir).select(col("a_id"), col("b_id")).collect()
      }
      val comps = rec.span("d_components", i) {
        SparkEntry.queries("d_components")(spark, dir).select(col("doc_id"), col("comp")).collect()
      }
      CacheScope.releaseAll()
      val t1 = Clock.nowMs
      Files.createDirectories(Paths.get(out))
      Files.write(Paths.get(out, "pairs.tsv"),
        pairs.map(r => s"${r.getLong(0)}\t${r.getLong(1)}\n").mkString.getBytes("UTF-8"))
      Files.write(Paths.get(out, "components.tsv"),
        comps.map(r => s"${r.getLong(0)}\t${r.getLong(1)}\n").mkString.getBytes("UTF-8"))
      Map("docs" -> comps.length.toLong, "pairs" -> pairs.length.toLong, "end" -> t1)
    } catch { case NonFatal(e) => CacheScope.releaseAll(); failed(e) + ("end" -> Clock.nowMs) }
    Map("op" -> i, "kind" -> name, "start" -> t0, "dir" -> out) ++ res
  }

  /** One op of this run's workload (a drain for crawl_stream). */
  private def workloadOp(): Unit = a.workload match {
    case "extract_batch" => ops += extractOp(spark.read.parquet(s"$stageDir/pages"), "extract_batch")
    case "crawl_stream"  => drain(s"$stageDir/warc", "crawl_stream", a.pids)
    case "dedup_hot"     => ops += dedupOp(stageDir, "dedup_hot")
  }

  /** The first warm-up op runs on a quarter of the inputs (the cold JVM
    * makes it slow whatever its size); later ones are full-size ops.
    * `crawl_stream` warms up on its small warm-up chunk dir.
    */
  private def warmupOp(k: Int): Unit = a.workload match {
    case "extract_batch" =>
      val pages = spark.read.parquet(s"$stageDir/pages")
      extractOp(if (k == 1) warmSubset(pages, "url") else pages, "warmup")
    case "crawl_stream"  => drain(s"$stageDir/warc-warm", "warmup", a.pids)
    case "dedup_hot"     => dedupOp(if (k == 1) s"$stageDir/warm" else stageDir, "warmup")
  }

  /** Attach the listeners for one traced op (or drain, or the probes).
    * Spark delivers listener events asynchronously, so before detaching,
    * wait until the op's last events have arrived.
    */
  private def withTrace[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      spark.sparkContext.addSparkListener(rec.sparkListener)
      spark.streams.addListener(rec.queryListener)
      rec.sampling = true
      try body
      finally {
        rec.sampling = false
        rec.awaitQuiet()
        spark.sparkContext.removeSparkListener(rec.sparkListener)
        spark.streams.removeListener(rec.queryListener)
      }
    }

  /** Samples the memory of cached blocks every 50 ms while tracing is on. */
  private def startSampler(): Thread = {
    val t = new Thread(() => {
      try while (true) {
        if (rec.sampling) rec.sampleCache(spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6)
        Thread.sleep(50)
      } catch { case _: InterruptedException => () }
    })
    t.setDaemon(true)
    t.start()
    t
  }

  /** One timed workload op; its ops (a drain's epochs) are marked traced or not. */
  private def timedOp(traced: Boolean): Unit = {
    val from = ops.size
    withTrace(traced)(workloadOp())
    for (k <- from until ops.size) ops(k) = ops(k) + ("traced" -> traced)
  }

  def run(): Unit = {
    GraftFunctions.register(spark)
    val ready = Clock.nowMs
    stage()
    val stageMs = Clock.nowMs - ready
    val nDocs = spark.read.parquet(s"$stageDir/documents.parquet").count()
    // a fixed number of warm-up ops: op times keep falling over the first
    // ops while the JIT and Spark's plan and codegen caches warm up
    val warm = (1 to a.warmupOps).map { k =>
      val t = Clock.nowMs
      warmupOp(k)
      Clock.nowMs - t
    }
    // closed loop: the next op starts when the previous one returned. A
    // traced run interleaves untraced and traced ops (drains for
    // crawl_stream) in the order U T T U U T T U ..., so both groups see
    // the same JVM and host state and a steady drift cancels out.
    val sampler = if (a.trace) Some(startSampler()) else None
    val first = Clock.nowMs
    val stop = first + a.seconds * 1000
    var k = 0
    while (Clock.nowMs < stop || (a.trace && k < 2)) {
      timedOp(a.trace && (k % 4 == 1 || k % 4 == 2))
      k += 1
    }
    val timedEnd = Clock.nowMs
    if (a.trace) withTrace(on = true)(runProbes())
    sampler.foreach { t => t.interrupt(); t.join() }
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "docs" -> nDocs, "stage_dir" -> stageDir,
      "setup" -> Map("ready" -> ready, "stage_ms" -> stageMs, "warmup_ms" -> warm, "first_op" -> first),
      "timed_end" -> timedEnd, "ops" -> ops.toSeq, "drains" -> drains.toSeq, "probes" -> probes.toMap,
      "peak_rss_kb" -> peakRssKb()) ++
      (if (a.trace) Map("trace" -> rec.fields) else Map.empty)
    Files.write(Paths.get(a.out), Json.value(result).getBytes("UTF-8"))
  }

  /** Layer probes of a traced run. Each runs on this workload's own
    * generated inputs; layers the workload's ops do not pass through are
    * exercised by a small probe of the same public call, so every layer
    * metric is measured on every workload (see enginebench/README.md).
    */
  private def runProbes(): Unit = {
    val pagesDir = s"$stageDir/pages"
    if (!Files.exists(Paths.get(pagesDir))) rec.span("probe:stage_pages") { writePages(stageDir) }
    probes("kernel") = rec.span("probe:kernel") { kernelSplit(spark.read.parquet(pagesDir)) }
    probes("scan_extract") = rec.span("probe:scan_extract") { scanExtract(pagesDir) }
    val warcDir = if (a.workload == "crawl_stream") s"$stageDir/warc" else {
      val d = s"$stageDir/warc-probe"
      rec.span("probe:stage_warc") {
        writeChunks(spark.read.parquet(pagesDir).where(col("url").endsWith("0")), d, 4)
      }
      d
    }
    probes("warc_read") = rec.span("probe:warc_read") { warcRead(warcDir) }
    if (a.workload != "crawl_stream") probes("stream") = drain(warcDir, "probe_stream", 8)
    if (a.workload != "extract_batch") probes("pipeline") = extractOp(spark.read.parquet(pagesDir), "probe_pipeline")
    if (a.workload != "dedup_hot") {
      val d = s"$stageDir/dedup-probe"
      rec.span("probe:stage_dedup") {
        spark.read.parquet(s"$stageDir/documents.parquet").where(col("doc_id") % 8 === 0)
          .coalesce(1).write.parquet(s"$d/documents.parquet")
      }
      probes("dedup") = dedupOp(d, "probe_dedup")
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Single-threaded per-doc cost of each kernel stage on a seeded sample
    * of this workload's pages, through the kernel's public functions.
    */
  private def kernelSplit(pagesDf: DataFrame): Map[String, Any] = {
    val sample = pagesDf.select(col("url"), col("html"), col("lang"))
      .orderBy(xxhash64(col("url"), lit(a.seed))).limit(2000).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getString(2)))
    val n = sample.length
    def pass(): Array[Long] = {
      val t = new Array[Long](5)
      var sink = 0L
      for ((url, html, lang) <- sample) {
        val t0 = System.nanoTime()
        val s = Tokenizer.decode(html)
        val t1 = System.nanoTime()
        t(0) += t1 - t0
        s.foreach { str =>
          val t2 = System.nanoTime()
          try sink += Spans.extract(html).size catch { case NonFatal(_) => sink += 1 }
          val t3 = System.nanoTime()
          val blocks = Blocks.fromHtml(str)
          val t4 = System.nanoTime()
          sink += Classifier.extractText(blocks, lang).length
          val t5 = System.nanoTime()
          t(1) += t4 - t3; t(2) += t5 - t4; t(3) += t3 - t2
        }
        val t6 = System.nanoTime()
        sink += Extractor.extract(url, html, lang).fold(_ => 1, _.extracted_text.length)
        t(4) += System.nanoTime() - t6
      }
      if (sink == Long.MinValue) println(sink)
      t
    }
    pass(); pass()
    val passes = (1 to 5).map(_ => pass())
    val names = Seq("decode_us", "blocks_us", "classify_us", "spans_us", "kernel_us")
    names.zipWithIndex.map { case (k, j) =>
      k -> (if (n == 0) 0.0 else median(passes.map(_(j).toDouble)) / 1e3 / n)
    }.toMap ++ Map("sample_docs" -> n)
  }

  /** scan → extract_content → aggregate over the staged page table */
  private def scanExtract(pagesDir: String): Map[String, Any] = {
    def once(): (Long, Double) = {
      val t0 = System.nanoTime()
      val row = spark.read.parquet(pagesDir)
        .select(call_function("extract_content", col("url"), col("html"), col("lang")).as("r"))
        .agg(count(lit(1)), sum(length(col("r.extracted_text")))).head()
      (row.getLong(0), (System.nanoTime() - t0) / 1e9)
    }
    once()
    val runs = (1 to 3).map(_ => once())
    Map("docs_per_s" -> median(runs.map(r => r._1 / r._2)), "docs" -> runs.head._1)
  }

  /** Warc.read over the chunk dir, html materialized */
  private def warcRead(dir: String): Map[String, Any] = {
    def once(): (Long, Double) = {
      val t0 = System.nanoTime()
      val row = Warc.read(spark, dir).agg(count(lit(1)), sum(length(col("html")))).head()
      (row.getLong(0), (System.nanoTime() - t0) / 1e9)
    }
    once()
    val runs = (1 to 3).map(_ => once())
    Map("docs_per_s" -> median(runs.map(r => r._1 / r._2)), "docs" -> runs.head._1)
  }
}
