package graft.pipeline

import graft.functions.{ExtractKernel, GraftFunctions}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Paths

/** The production extraction pipeline (SURVEY.md §3.1 Spark-side trace):
  *
  *   scan (partition-pruned, column-pruned)
  *     → content-addressed pid = xxhash64(url) mod N   [deterministic →
  *       resume at partition granularity is content-addressed, not
  *       input-split-addressed]
  *     → resume filter (anti-filter on committed pids)
  *     → extract_content native expression                [narrow, fused]
  *     → repartition(N, pid)   [the ONLY shuffle; carries extracted text,
  *       not raw html — extraction runs map-side, upstream of the
  *       exchange, so shuffle bytes ≈ output size, not input size]
  *     → single write partitionBy(pid), dynamic partition overwrite
  *       [idempotent per pid → per-key exactly-once, strictly stronger
  *       than the reference's at-most-once delivery
  *       (/root/reference/src/kafka_consumer.py:111-121,70)]; the write
  *       stage also sums each pid's lineage as it writes the rows
  *     → driver-side lineage rows + atomic manifest commit (no Spark job).
  *
  * The stream epoch of [[StreamingLineage]] runs the same tail
  * ([[extractAndCommit]]), so a run costs the write's jobs and nothing
  * after them.
  *
  * Error rows (validation/payload/unexpected) are DATA, not exceptions:
  * they live in the same table with a `reason` in the `error` column, so
  * one pass produces both sinks (no double execution of the extraction).
  */
object ExtractJob {

  final case class JobConfig(
      outputDir: String,
      numPids: Int = 64,
      /** test hook: process only these pids (simulates a killed run) */
      limitPids: Option[Set[Int]] = None,
      /** steal a stale writer lock left by a crashed run (idempotent-safe) */
      takeover: Boolean = false)

  /** Content-addressed partition id — stable across runs and input
    * layouts. Null-url rows (validation errors) go to pid 42 mod N:
    * `xxhash64` of NULL is its seed, 42.
    */
  def pidCol(nPids: Int): Column =
    pmod(xxhash64(col("url")), lit(nPids.toLong)).cast("int")

  val docsSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("in_bytes", LongType),
    StructField("extracted_text", StringType),
    StructField("spans", ArrayType(ExtractKernel.spanType, containsNull = false)),
    StructField("error", StringType),
    StructField("pid", IntegerType)))

  def docs(spark: SparkSession, outputDir: String): DataFrame =
    spark.read.schema(docsSchema).parquet(s"$outputDir/docs")

  /** Unambiguous digest record encoding: every field is either `n`
    * (NULL) or `v<charlen>:<value>` — length-prefixed, so no separator
    * or sentinel can collide with data and distinct field triples always
    * serialize distinctly (a plain `a:b:c` join is ambiguous when values
    * contain the separator, and a `~` null sentinel is a legal value).
    * NULL handled explicitly: null-url rows are a supported input class
    * (validation errors route to pid 42 mod N) — encoded, never dropped, so an
    * all-null pid group cannot turn the digest sum NULL. The same
    * formula is plain SQL in any engine (audit recipe in
    * .claude/skills/verify/SKILL.md).
    */
  def encField(c: Column): Column =
    when(c.isNull, lit("n"))
      .otherwise(concat(lit("v"), length(c).cast("string"), lit(":"), c))

  def digestRecord(url: Column, text: Column, error: Column): Column =
    concat(encField(url), encField(text), encField(error))

  def errors(spark: SparkSession, outputDir: String): DataFrame =
    docs(spark, outputDir).where(col("error").isNotNull).select(col("url"), col("error").as("reason"), col("pid"))

  /** The one extraction projection over page frames, shared by the batch
    * job, the streaming lineage sink and the page file stream:
    * (url, in_bytes, extracted_text, spans, error, pid) from a frame with
    * `url`, `html`, `lang` and `pid`. Narrow and codegen-resident — runs
    * upstream of the single pid shuffle.
    */
  private[graft] def extractColumns(withPid: DataFrame): DataFrame =
    withPid
      .select(
        col("url"),
        coalesce(length(col("html")).cast("long"), lit(0L)).as("in_bytes"),
        call_function("extract_content", col("url"), col("html"), col("lang")).as("r"),
        col("pid"))
      .select(col("url"), col("in_bytes"),
        col("r.extracted_text").as("extracted_text"),
        col("r.spans").as("spans"),
        col("r.error").as("error"),
        col("pid"))

  /** `extracted` with its per-pid lineage sums added to `sums` as the
    * write stage writes each row, in place of a second pass over the
    * written docs: `in_bytes` goes through a non-deterministic UDF that
    * returns it unchanged and adds the row to `sums` (the optimizer
    * neither moves it below the pid shuffle nor drops it, and Spark keeps
    * only a successful task's accumulator update). The digest is
    * md5-60bit (not xxhash64): any external system — DuckDB, Trino, a
    * Python auditor — can recompute the per-partition digest from the
    * written parquet alone and verify lineage integrity without running
    * this engine (x_lineage's md5-60bit sum over the length-prefixed
    * digestRecord encoding).
    */
  private[pipeline] def lineageAgg(extracted: DataFrame, sums: LineageSums): DataFrame = {
    val tap = udf { (pid: Int, bytes: Long, digest: Long, error: String) =>
      sums.addRow(pid, bytes, digest, error)
      bytes
    }.asNondeterministic()
    val dig = pmod(GraftFunctions.fp60(digestRecord(col("url"), col("extracted_text"), col("error"))),
      lit(1000000007L))
    extracted.select(extracted.columns.map {
      case "in_bytes" => tap(col("pid"), col("in_bytes"), coalesce(dig, lit(0L)), col("error")).as("in_bytes")
      case c          => col(c)
    }: _*)
  }

  private def lineageSchema(epoch: Option[Long]): StructType = StructType(Seq(
    StructField("partition_id", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("digest", StringType)) ++
    epoch.map(_ => StructField("epoch", LongType, nullable = false)))

  /** The one extraction tail, shared by the batch job and the stream
    * epoch: extract `withPid` (pages with `pid`), shuffle by pid, write
    * the docs with dynamic partition overwrite while summing each pid's
    * lineage, then commit the lineage rows — the pids seen plus `fill`,
    * which commit as (p, 0, 0, "0") when empty — and publish the run
    * record. A batch run writes `docs/pid=*` and `_metrics/run-<snap>`; a
    * stream epoch (`epoch` set) writes `docs/epoch=E/pid=*`, lineage rows
    * carrying the epoch, and `_metrics/epoch-<E>`. None = the epoch was
    * already committed (a replay), nothing recorded.
    */
  private[pipeline] def extractAndCommit(spark: SparkSession, withPid: DataFrame, outputDir: String,
      numPids: Int, fill: Seq[Int], epoch: Option[Long]): Option[RunReport] = {
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    val listener = new GraftMetricsListener
    sc.addSparkListener(listener)
    // every exit — normal end, replay, or a throw from the write or the
    // commit — unregisters the listener
    try {
      val sums = new LineageSums(numPids)
      sc.register(sums)
      val extracted = epoch.fold(extractColumns(withPid))(e => extractColumns(withPid).withColumn("epoch", lit(e)))
      listener.track(sc) {
        lineageAgg(extracted.repartition(numPids, col("pid")), sums)
          .write.mode(SaveMode.Overwrite).partitionBy(epoch.map(_ => "epoch").toSeq :+ "pid": _*)
          // scoped to THIS write (not session config): only the pids present
          // in the batch are overwritten — per-pid idempotent rerun — without
          // silently changing Overwrite semantics for other writes on the
          // caller's shared session
          .option("partitionOverwriteMode", "dynamic")
          .parquet(s"$outputDir/docs")
      }
      val seen = sums.value.map(s => s.pid -> s).toMap
      val pids = (fill ++ seen.keys).distinct.sorted.map(p => seen.getOrElse(p, PidSums(p, 0, 0, 0, 0, 0, 0, 0)))
      val c0 = System.nanoTime()
      val rows = pids.map(s => Row.fromSeq(Seq(s.pid, s.rows, s.bytes, s.digest.toString) ++ epoch))
      Lineage.commitRows(spark, outputDir, lineageSchema(epoch), rows, epoch).map { snap =>
        val now = System.nanoTime()
        val report = RunReport(snap, pids, (now - t0) / 1e9, (now - c0) / 1e6)
        val name = epoch.fold(s"run-$snap")(e => s"epoch-$e")
        Lineage.publish(Paths.get(outputDir, "_metrics", s"$name.json"),
          report.toJson(listener.snapshot).getBytes("UTF-8"))
        report
      }
    } finally sc.removeSparkListener(listener)
  }

  /** Run (or resume) the extraction over a page table. Returns the run
    * report; a no-op (everything committed) returns a zero report.
    */
  def run(spark: SparkSession, pages: DataFrame, cfg: JobConfig): RunReport = {
    GraftFunctions.register(spark)
    val lock = Lineage.acquireWriterLock(cfg.outputDir, cfg.takeover)
    try runLocked(spark, pages, cfg)
    finally Lineage.releaseWriterLock(lock)
  }

  private def runLocked(spark: SparkSession, pages: DataFrame, cfg: JobConfig): RunReport = {
    val t0 = System.nanoTime()
    val committed = Lineage.manifest(cfg.outputDir)
    val runPids: Seq[Int] = (0 until cfg.numPids)
      .filterNot(committed.pids)
      .filter(p => cfg.limitPids.forall(_.contains(p)))

    if (runPids.isEmpty) return RunReport(committed.snapshot, Nil, (System.nanoTime() - t0) / 1e9, 0.0)

    val withPid = pages
      .withColumn("pid", pidCol(cfg.numPids))
      .where(col("pid").isin(runPids: _*))
    extractAndCommit(spark, withPid, cfg.outputDir, cfg.numPids, runPids, None).get
  }
}
