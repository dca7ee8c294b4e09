package graft.pipeline

import graft.functions.{ExtractKernel, GraftFunctions}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

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
  *       (/root/reference/src/kafka_consumer.py:111-121,70)]
  *     → lineage agg over the written output + atomic manifest commit.
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
    * layouts; null-url rows (validation errors) go to pid 0.
    */
  def pidCol(nPids: Int): Column =
    coalesce(pmod(xxhash64(col("url")), lit(nPids.toLong)), lit(0L)).cast("int")

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
    * (validation errors route to pid 0) — encoded, never dropped, so an
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

  /** Per-pid lineage aggregate over WRITTEN docs rows. The digest is
    * md5-60bit (not xxhash64): any external system — DuckDB, Trino, a
    * Python auditor — can recompute the per-partition digest from the
    * written parquet alone and verify lineage integrity without running
    * this engine (x_lineage's md5-60bit sum over the length-prefixed
    * digestRecord encoding).
    */
  private[pipeline] def lineageAgg(written: DataFrame): Array[Row] = {
    val rec = digestRecord(col("url"), col("extracted_text"), col("error"))
    written.groupBy(col("pid")).agg(
      count(lit(1)).as("rows"),
      sum("in_bytes").as("bytes"),
      sum(pmod(GraftFunctions.fp60(rec), lit(1000000007L))).as("dig"),
      sum(when(col("error").isNull, 1L).otherwise(0L)).as("ok"),
      sum(when(col("error") === "validation", 1L).otherwise(0L)).as("f_val"),
      sum(when(col("error") === "payload", 1L).otherwise(0L)).as("f_pay"),
      sum(when(col("error") === "unexpected", 1L).otherwise(0L)).as("f_unx"))
      .collect()
  }

  /** The run record of `agg` ([[lineageAgg]] rows), with the stages
    * `listener` has seen, written to `<outputDir>/_metrics/<name>.json`:
    * `run-<snapshot>` for a batch run, `epoch-<id>` for a stream epoch.
    */
  private[pipeline] def writeReport(outputDir: String, name: String, snapshot: Long,
      pids: Int, agg: Array[Row], t0: Long, listener: GraftMetricsListener): RunReport = {
    val report = RunReport(
      snapshot = snapshot,
      pidsProcessed = pids,
      docsOk = agg.map(_.getLong(4)).sum,
      failedValidation = agg.map(_.getLong(5)).sum,
      failedPayload = agg.map(_.getLong(6)).sum,
      failedUnexpected = agg.map(_.getLong(7)).sum,
      bytesIn = agg.map(_.getLong(2)).sum,
      wallSec = (System.nanoTime() - t0) / 1e9)
    val mdir = Paths.get(outputDir, "_metrics")
    Files.createDirectories(mdir)
    Files.write(mdir.resolve(s"$name.json"), report.toJson(listener.snapshot).getBytes("UTF-8"))
    report
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
    val listener = new GraftMetricsListener
    spark.sparkContext.addSparkListener(listener)
    // every exit — early return, normal end, or a throw from the write,
    // lineage agg or commit — unregisters the listener
    try {
      val t0 = System.nanoTime()

      val committed = Lineage.manifest(cfg.outputDir)
      val runPids: Seq[Int] = (0 until cfg.numPids)
        .filterNot(committed.pids)
        .filter(p => cfg.limitPids.forall(_.contains(p)))

      if (runPids.isEmpty) {
        return RunReport(committed.snapshot, 0, 0, 0, 0, 0, 0, (System.nanoTime() - t0) / 1e9)
      }

      val withPid = pages
        .withColumn("pid", pidCol(cfg.numPids))
        .where(col("pid").isin(runPids: _*))

      val extracted = extractColumns(withPid)
        .repartition(cfg.numPids, col("pid"))

      extracted.write.mode(SaveMode.Overwrite).partitionBy("pid")
        // scoped to THIS write (not session config): only the pids present
        // in the batch are overwritten — per-pid idempotent rerun — without
        // silently changing Overwrite semantics for other writes on the
        // caller's shared session
        .option("partitionOverwriteMode", "dynamic")
        .parquet(s"${cfg.outputDir}/docs")

      // lineage + metrics from the WRITTEN output (column-pruned read of the
      // small result table — never a second pass over the raw html)
      val written = docs(spark, cfg.outputDir).where(col("pid").isin(runPids: _*))
      val agg = lineageAgg(written)

      val byPid = agg.map(r => r.getInt(0) -> r).toMap
      import spark.implicits._
      val lineageRows = runPids.map { p =>
        byPid.get(p) match {
          case Some(r) => (p, r.getLong(1), r.getLong(2), r.getLong(3).toString)
          case None    => (p, 0L, 0L, "0")
        }
      }.toDF("partition_id", "rows", "bytes", "digest")
      val snap = Lineage.commit(spark, cfg.outputDir, lineageRows).get

      writeReport(cfg.outputDir, s"run-$snap", snap, runPids.size, agg, t0, listener)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
