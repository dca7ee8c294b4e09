package graft.pipeline

import graft.queries.Curation
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Training-shard export — the materialized form of the curation pass:
  * quality-filter → exact-dedup → deterministic split/shard assignment,
  * written `partitionBy(split, shard)` so a training run reads exactly
  * its shard partition (partition-pruned scan, no planning-time work
  * proportional to the corpus).
  *
  * Scale shape: one shuffle for the dedup hash (inside the curation
  * plan), one for the doc_id join-back, then `repartition(split, shard,
  * salt)` — the salt caps files per (split, shard) directory at
  * `writersPerShard` (no tasks × dirs small-files explosion) while
  * keeping up to #(split,shard)·writersPerShard CONCURRENT writer tasks;
  * a plain repartition(split, shard) pins writer parallelism to the
  * directory count, so at 100 TB each task writes terabytes
  * single-threaded. `maxRecordsPerFile` additionally rolls any one
  * writer's output into bounded files.
  */
object ShardExport {

  /** Curate `documents` in sfDir and write shards under `$outDir/shards`.
    * Returns (docs written, shard partition count).
    * @param format "parquet" (analytics-friendly, default) or "json" —
    *               JSON Lines, the layout training loaders stream; same
    *               partitioned directory tree either way
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          writersPerShard: Int = 4, maxRecordsPerFile: Long = 0L,
          format: String = "parquet"): (Long, Long) = {
    val curated = Curation.defs("c_curate")(spark, sfDir) // doc_id, split, shard
    val docs = graft.fixtures.Corpus.documents(spark, sfDir)
    val out = docs.join(curated, Seq("doc_id"))
      .withColumn("w_salt",
        pmod(xxhash64(col("doc_id")), lit(writersPerShard.toLong)).cast("int"))
      // EXPLICIT partition count: a bare repartition(cols) lets AQE
      // coalesce the small test shuffle back to one partition — one
      // writer task again; pinning it keeps each (split, shard, salt)
      // tuple on its own writer up to the session's shuffle width
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("split"), col("shard"), col("w_salt"))
      .drop("w_salt") // projection after the exchange — partitioning kept
    out.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("split", "shard")
      .format(format)
      .save(s"$outDir/shards")
    val written = shards(spark, outDir, format)
    (written.count(), written.select("split", "shard").distinct().count())
  }

  def shards(spark: SparkSession, outDir: String,
             format: String = "parquet"): DataFrame =
    spark.read.format(format).load(s"$outDir/shards")
}
