package graft.tools

import graft.SparkEntry
import graft.extract.Extractor
import graft.fixtures.{Corpus, PageHtml}
import graft.pipeline.{GraftMetricsListener, Json, StageRec}
import graft.util.{CacheScope, Staging}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Dev probe: warm-JVM measurements, one JSON line per measured rep with
  * `target`, `name`, `rep`, `wall_ms`, `rows`, target-specific keys and
  * the rep's `stages` (the `GraftMetricsListener` stage objects, as in
  * `_metrics/run-N.json`). `enginebench/` is the benchmark of record.
  *
  *   query  <q[,q...]> [sfDir] [reps] [--plan [outDir] [suffix]]
  *          `--plan` also writes `<outDir>/<q>_<suffix>.txt` (formatted plan)
  *   stream <st_query> [sfDir] [reps]     adds per-batch durationMs, stateOperators;
  *                                        st_lineage drains into a fresh dir every rep
  *   kernel [n] [giant]                   single-thread Extractor.extract, no Spark
  *   scale  [sfDir] [scales]              dedup/curation queries per amplification k
  *   spill  [sfDir] [amplify] [giantWords] [cpus]
  *          d_paragraph / d_ngram_spans with one planted giant document
  *   scaling [sfDir] [amplify] [rounds] [levels]
  *          the extraction projection at each parallelism level, levels
  *          alternating within each round (paired N→4N efficiency)
  *
  * Parallelism is SPARK_GRAFT_CPUS (default 32; `spill` takes its own).
  */
object Probe {

  private val DefaultSf = "/root/testdata/sf0.1"
  private val GiantId = 99999999L

  /** The local session every tool main runs on. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val cpus = if (args.headOption.contains("spill")) args.lift(4).getOrElse("8")
      else sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    lazy val spark = session(cpus.toInt)
    try run(args.toSeq, spark, println)
    finally SparkSession.getDefaultSession.foreach(_.stop())
  }

  /** Run one target, passing each line to `emit`; only Spark targets
    * evaluate `spark`.
    */
  def run(args: Seq[String], spark: => SparkSession, emit: String => Unit): Unit =
    args match {
      case "query" +: rest => query(spark, rest, emit)
      case "stream" +: rest => stream(spark, rest, emit)
      case "kernel" +: rest => kernel(rest, emit)
      case "scale" +: rest => scale(spark, rest, emit)
      case "spill" +: rest => spill(spark, rest, emit)
      case "scaling" +: rest => scaling(spark, rest, emit)
      case _ => throw new IllegalArgumentException("usage: Probe query|stream|kernel|scale|spill|scaling <args>")
    }

  private def line(fields: (String, Any)*): String = Json.write(ListMap(fields: _*))

  private final case class Measured(rows: Long, wallMs: Double, stages: Seq[StageRec])

  private def repLine(target: String, name: String, rep: Int, m: Measured, extra: (String, Any)*) =
    line(Seq[(String, Any)]("target" -> target, "name" -> name, "rep" -> rep, "wall_ms" -> m.wallMs,
      "rows" -> m.rows) ++ extra :+ ("stages" -> m.stages.map(_.fields)): _*)

  /** Build SparkEntry query `q` over `dir` (or `build` it) and evaluate
    * every output column of every row under a fresh listener (`count()`
    * would let the optimizer prune reassembly aggregations down to a
    * distinct count of doc_id), then release the caches it registered.
    */
  private def measure(spark: SparkSession, q: String, dir: String,
      build: Option[(SparkSession, String) => DataFrame] = None): Measured = {
    val sc = spark.sparkContext
    val listener = new GraftMetricsListener
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val qe = build.getOrElse(SparkEntry.queries(q))(spark, dir).queryExecution
      // inside a SQL execution, so the listener names its stages after it
      val rows = listener.track(sc)(SQLExecution.withNewExecutionId(qe, Some("probe"))(qe.toRdd.count()))
      Measured(rows, (System.nanoTime() - t0) / 1e6, listener.snapshot)
    } finally {
      sc.removeSparkListener(listener)
      CacheScope.releaseAll()
    }
  }

  private def query(spark: SparkSession, args: Seq[String], emit: String => Unit): Unit = {
    val planAt = args.indexOf("--plan")
    val pos = if (planAt < 0) args else args.take(planAt)
    val sfDir = pos.lift(1).getOrElse(DefaultSf)
    pos.head.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
      if (planAt >= 0) {
        val pa = args.drop(planAt + 1)
        val dir = Files.createDirectories(Paths.get(pa.headOption.getOrElse("/tmp/graft-probe-plans")))
        val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.write(dir.resolve(s"${q}_${pa.lift(1).getOrElse("plan")}.txt"), plan.getBytes("UTF-8"))
        CacheScope.releaseAll()
      }
      (1 to pos.lift(2).fold(3)(_.toInt)).foreach(r => emit(repLine("query", q, r, measure(spark, q, sfDir))))
    }
  }

  private def stream(spark: SparkSession, args: Seq[String], emit: String => Unit): Unit = {
    val q = args.head
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val started, ended = new AtomicInteger
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      // start events reach session listeners synchronously, before the run
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try (1 to args.lift(2).fold(2)(_.toInt)).foreach { r =>
      progress.clear()
      // st_lineage reuses its staged table: drain into a fresh one instead
      val fresh = Option.when(q == "st_lineage")(Files.createTempDirectory("graft-probe-stlineage"))
      val build = fresh.map(out => (s: SparkSession, d: String) => {
        SparkEntry.stLineageDrain(s, d, out.toString)
        SparkEntry.stLineageRows(s, out.toString)
      })
      val m = try measure(spark, q, args.lift(1).getOrElse(DefaultSf), build)
        finally fresh.foreach(Staging.deleteRec)
      // a query's progress events precede its termination on the streams
      // queue: wait until every started query has ended here
      val deadline = System.currentTimeMillis() + 10000
      while (ended.get < started.get && System.currentTimeMillis() < deadline) Thread.sleep(5)
      val batches = progress.asScala.toSeq.map { p =>
        ListMap("batch" -> p.batchId, "input_rows" -> p.numInputRows,
          "duration_ms" -> ListMap(p.durationMs.asScala.toSeq.sortBy(-_._2.longValue): _*),
          "state_operators" -> p.stateOperators.toSeq.map(o => Json.mapper.readTree(o.json)))
      }
      emit(repLine("stream", q, r, m, "batches" -> batches))
    } finally spark.streams.removeListener(listener)
  }

  private def kernel(args: Seq[String], emit: String => Unit): Unit = {
    val giant = args.contains("giant")
    val nDocs = args.filterNot(_ == "giant").headOption.fold(if (giant) 8 else 20000)(_.toInt)
    val words = ("the quick brown fox jumps over a lazy dog while data " +
      "flows through spark pipelines at scale with filters joins windows").split(' ')
    val docs = Array.tabulate(nDocs) { i =>
      val n = if (giant) 1600000 else 40 + i % 120 // giant: ~10 MB pages
      val text = Array.tabulate(n)(j => words((i + j * 7) % words.length)).mkString(" ")
      (s"https://h${i % 7}.example.org/doc/$i",
        PageHtml.build(i.toLong, text, "en", withPayload = i % 10 == 0).getBytes("UTF-8"))
    }
    val bytes = docs.map(_._2.length.toLong).sum
    def pass(): Long = docs.foldLeft(0L) { case (acc, (u, h)) =>
      acc + Extractor.extract(u, h, "en").fold(_ => 1, _.extracted_text.length)
    }
    pass(); pass() // warm-up
    (1 to 5).foreach { r =>
      val t0 = System.nanoTime()
      val chars = pass()
      val sec = (System.nanoTime() - t0) / 1e9
      emit(repLine("kernel", if (giant) "giant" else "pages", r, Measured(nDocs, sec * 1e3, Nil),
        "bytes" -> bytes, "docs_per_s" -> nDocs / sec, "mb_per_s" -> bytes / 1e6 / sec, "chars_out" -> chars))
    }
  }

  private def scale(spark: SparkSession, args: Seq[String], emit: String => Unit): Unit = {
    val sfDir = args.headOption.getOrElse(DefaultSf)
    args.lift(1).getOrElse("1,4,16").split(",").map(_.toInt).foreach { k =>
      val dir = stageDocs(spark, sfDir, k, giantWords = 0)
      val docs = Corpus.documents(spark, dir).count()
      Seq("d_exact_canonical", "d_minhash_lsh", "d_incremental", "d_simhash_pairs", "c_curate", "d_paragraph",
        "d_bloom_incremental", "d_ngram_spans", "c_decontaminate").foreach { q =>
        emit(repLine("scale", q, 1, measure(spark, q, dir), "scale" -> k, "docs" -> docs))
      }
    }
  }

  /** Spill evidence for the wide dedup reassembly aggregations: their final
    * groupBy(doc_id) holds one document's surviving pieces per key, so a
    * planted giant document (default 1M words: ~100k paragraph / 1M token
    * structs under one key) is the worst case. Under a capped heap the
    * stage objects show the memory and disk spill.
    */
  private def spill(spark: SparkSession, args: Seq[String], emit: String => Unit): Unit = {
    import spark.implicits._
    val giantWords = args.lift(2).fold(1000000)(_.toInt)
    val dir = stageDocs(spark, args.headOption.getOrElse(DefaultSf), args.lift(1).fold(32)(_.toInt), giantWords)
    val docs = Corpus.documents(spark, dir).count()
    // unique words: nothing of the giant document is deduplicated away
    Seq(("d_paragraph", "n_paras_kept", (giantWords + 9) / 10), ("d_ngram_spans", "n_kept", giantWords))
      .foreach { case (q, keptCol, expected) =>
        val m = measure(spark, q, dir)
        val kept = SparkEntry.queries(q)(spark, dir).where(col("doc_id") === GiantId)
          .select(col(keptCol)).as[Long].head()
        CacheScope.releaseAll()
        emit(repLine("spill", q, 1, m, "docs" -> docs, "giant_words" -> giantWords, "giant_kept" -> kept,
          "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024)))
        require(m.rows == docs, s"$q row drift: ${m.rows} vs $docs")
        require(kept == expected, s"$q giant doc $keptCol: $kept vs $expected")
      }
  }

  /** Paired scaling: this host's load drifts over minutes, so unpaired
    * per-level medians confound load with parallelism. Each round runs
    * every level back to back and prints one line per (round, level); the
    * N→4N efficiency is t(N) / t(4N) / 4 within a round. Level n runs
    * `ExtractJob.extractColumns` over the pages amplified `amplify`× as n
    * tasks (the staged 256 partitions coalesced to n), every output column
    * evaluated, so the session needs at least max(levels) cores.
    */
  private def scaling(spark: SparkSession, args: Seq[String], emit: String => Unit): Unit = {
    val sfDir = args.headOption.getOrElse(DefaultSf)
    val amplify = args.lift(1).fold(2048)(_.toInt)
    val levels = args.lift(3).fold(Seq(4, 8, 16, 32))(_.split(",").map(_.toInt).toSeq)
    require(levels.max <= spark.sparkContext.defaultParallelism,
      s"levels $levels need ${levels.max} cores, the session has ${spark.sparkContext.defaultParallelism}")
    val dir = Staging.keyedArtifact(s"probe-pages-x$amplify", sfDir, version = 1)(
        p => Files.exists(p.resolve("_SUCCESS"))) { tmp =>
      Corpus.pagesAmplified(spark, sfDir, amplify).repartition(256).write.parquet(tmp)
    }
    def run(n: Int) = measure(spark, "extract", dir, Some((s, d) =>
      graft.pipeline.ExtractJob.extractColumns(s.read.parquet(d).coalesce(n).withColumn("pid", lit(0)))))
    run(levels.min) // JVM and codegen warm-up
    (1 to args.lift(2).fold(4)(_.toInt)).foreach { r =>
      levels.foreach(n => emit(repLine("scaling", "extract", r, run(n), "level" -> n, "amplify" -> amplify)))
    }
  }

  /** The documents table amplified k×, staged once per corpus content.
    * Replica 0 keeps the original text; replica r > 0 suffixes every word
    * with `x<r>`, so cross-replica shingles are all distinct and the true
    * near-dup pair set stays constant while the corpus grows. With
    * `giantWords` > 0, one document of that many unique words is added.
    */
  private def stageDocs(spark: SparkSession, sfDir: String, k: Int, giantWords: Int): String =
    Staging.keyedArtifact(s"probe-x$k-g$giantWords", sfDir, version = 1)(
        p => Files.exists(p.resolve("documents.parquet/_SUCCESS"))) { tmp =>
      import spark.implicits._
      val replicas = Corpus.documents(spark, sfDir)
        .crossJoin(spark.range(k).toDF("r"))
        .as[(Long, String, String, Long)]
        .map { case (id, text, lang, r) =>
          (id + r * 10000000L, if (r == 0) text else text.split(' ').map(w => s"${w}x$r").mkString(" "), lang)
        }
        .toDF("doc_id", "text", "lang")
      val giant = spark.range(1).select(lit(GiantId).as("doc_id"),
        expr(s"array_join(transform(sequence(0, ${giantWords - 1}), i -> concat('gw', i)), ' ')").as("text"),
        lit("en").as("lang"))
      (if (giantWords > 0) replicas.union(giant) else replicas).repartition(32)
        .write.parquet(s"$tmp/documents.parquet")
    }
}
