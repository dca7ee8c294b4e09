package graft.pipeline

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The CONTINUOUS-CRAWL production path (north-star: "continuous crawl,
  * resumable, audited"): `warc-stream` micro-batches drain through the
  * same lineage-committed table protocol the batch job uses — not just a
  * Spark checkpoint.
  *
  * Per micro-batch (inside `foreachBatch`), the batch job's tail
  * ([[ExtractJob.extractAndCommit]]) with the epoch set:
  *   1. extract (shared [[ExtractJob.extractColumns]] projection — the
  *      same native expression, narrow, upstream of the one pid shuffle);
  *   2. write `partitionBy(epoch, pid)` with WRITE-SCOPED dynamic
  *      overwrite — a replayed batch rewrites exactly its own
  *      `epoch=B/pid=*` partitions, so retries are idempotent and other
  *      epochs are never touched. The write stage sums each pid's
  *      lineage (rows, bytes, md5-60bit digest, error classes) as it
  *      writes; nothing re-reads the written docs;
  *   3. the per-pid lineage rows, carrying the epoch, committed by
  *      [[Lineage.commitRows]] on the driver — snapshot-keyed data +
  *      atomic manifest rename, with the EPOCH recorded in the manifest;
  *   4. once the commit returns, `_metrics/epoch-<id>.json`: the batch
  *      job's run record (error classes, bytes, wall time, commit time,
  *      stages) for this epoch. Trigger `durationMs` is known only after
  *      `foreachBatch` returns, so it is not in the record
  *      (`tools.Probe stream st_lineage` reports it).
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
                          epochId: Long): Boolean =
    !Lineage.manifest(outputDir).epochs.contains(epochId) &&
      ExtractJob.extractAndCommit(spark, batch.withColumn("pid", ExtractJob.pidCol(numPids)),
        outputDir, numPids, Nil, Some(epochId)).isDefined
}
