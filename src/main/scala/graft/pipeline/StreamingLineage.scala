package graft.pipeline

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The CONTINUOUS-CRAWL production path (north-star: "continuous crawl,
  * resumable, audited"): `warc-stream` micro-batches drain through the
  * same lineage-committed table protocol the batch job uses — not just a
  * Spark checkpoint.
  *
  * Per micro-batch (inside `foreachBatch`):
  *   1. extract (shared [[ExtractJob.extractColumns]] projection — the
  *      same native expression, narrow, upstream of the one pid shuffle);
  *   2. write `partitionBy(epoch, pid)` with WRITE-SCOPED dynamic
  *      overwrite — a replayed batch rewrites exactly its own
  *      `epoch=B/pid=*` partitions, so retries are idempotent and other
  *      epochs are never touched;
  *   3. per-pid lineage rows (rows, bytes, md5-60bit digest, epoch)
  *      committed via [[Lineage.commitEpoch]] — snapshot-keyed data +
  *      atomic manifest rename, with the EPOCH recorded in the manifest;
  *   4. once the commit returns, `_metrics/epoch-<id>.json`: the batch
  *      job's run record (error classes, bytes, wall time, stages) for
  *      this epoch. Trigger `durationMs` is known only after
  *      `foreachBatch` returns, so it is not in the record
  *      (`tools.Probe stream` reports it).
  *
  * Exactly-once across crashes: Spark's checkpoint replays the last
  * un-acknowledged batch after a restart; step 2 is an overwrite (no doc
  * duplication) and step 3 consults the manifest's committed epoch set
  * (no duplicate lineage rows). A crash between our manifest commit and
  * Spark's offset-log write — the classic foreachBatch double-delivery
  * window — therefore replays as a pure no-op.
  *
  * The audit trail is the same externally-recomputable one as the batch
  * job: per-(epoch, pid) md5-60bit digests any engine can verify from
  * the written parquet alone (verify-skill recipe).
  */
object StreamingLineage {

  val docsSchema: StructType = StructType(
    ExtractJob.docsSchema.fields.toSeq :+ StructField("epoch", LongType))

  /** the streaming-lineage docs table (all committed epochs) */
  def docs(spark: SparkSession, outputDir: String): DataFrame =
    spark.read.schema(docsSchema).parquet(s"$outputDir/docs")

  /** Drain every available WARC chunk under `warcDir` into the
    * lineage-committed table at `outputDir` (AvailableNow — the
    * continuous deployment simply re-runs or uses a processing-time
    * trigger; the per-batch protocol is identical). `numPids` must be
    * stable across restarts of one table. `onEpoch(epochId, committed)`
    * is a test seam: committed=false means the epoch was a replay the
    * manifest already had.
    */
  def run(spark: SparkSession, warcDir: String, outputDir: String,
          checkpoint: String, numPids: Int = 16,
          maxFilesPerTrigger: Option[Int] = None,
          takeover: Boolean = false,
          onEpoch: (Long, Boolean) => Unit = (_, _) => ()): Unit = {
    GraftFunctions.register(spark)
    val lock = Lineage.acquireWriterLock(outputDir, takeover)
    try {
      val reader0 = spark.readStream.format("warc-stream")
      val reader = maxFilesPerTrigger
        .fold(reader0)(m => reader0.option("maxFilesPerTrigger", m.toString))
      val pages = reader.load(warcDir)
        .select(col("url"), col("warc_ts"), col("html"), col("lang"))
      val q = pages.writeStream
        .queryName("st_lineage_sink")
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
          val committed = commitBatch(spark, batch, outputDir, numPids, epochId)
          onEpoch(epochId, committed)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally Lineage.releaseWriterLock(lock)
  }

  /** One micro-batch through the table protocol; false = replay no-op.
    * A committed epoch writes `_metrics/epoch-<id>.json`, the batch job's
    * run record; a replay writes none.
    */
  private def commitBatch(spark: SparkSession, batch: DataFrame,
                          outputDir: String, numPids: Int,
                          epochId: Long): Boolean = {
    if (Lineage.manifest(outputDir).epochs.contains(epochId)) return false
    val t0 = System.nanoTime()
    val listener = new GraftMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val extracted = ExtractJob.extractColumns(
          batch.withColumn("pid", ExtractJob.pidCol(numPids)))
        .withColumn("epoch", lit(epochId))
        .repartition(numPids, col("pid"))
      extracted.write.mode(SaveMode.Overwrite).partitionBy("epoch", "pid")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(s"$outputDir/docs")
      // lineage from the WRITTEN epoch (column-pruned result read, never a
      // second pass over html); rows carry the epoch as an extra column —
      // the manifest records the widened writer schema per snapshot
      val written = docs(spark, outputDir).where(col("epoch") === epochId)
      val agg = ExtractJob.lineageAgg(written)
      import spark.implicits._
      val lineageRows = agg.map(r =>
          (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3).toString, epochId))
        .toSeq.toDF("partition_id", "rows", "bytes", "digest", "epoch")
      val snap = Lineage.commit(spark, outputDir, lineageRows, Some(epochId))
      snap.foreach(ExtractJob.writeReport(outputDir, s"epoch-$epochId", _, agg.length, agg, t0, listener))
      snap.isDefined
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
