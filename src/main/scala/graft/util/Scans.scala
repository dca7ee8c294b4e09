package graft.util

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive scan spreading (optimization guide §2.5 "input skew" /
  * §6 "input split size"): the testdata tables are single parquet files
  * with ONE row group, so Spark's byte-range splitting hands the whole
  * table to a single task — every map-heavy first stage (page building,
  * shingling, hashing) ran serially on local[32]. `spread` hash-
  * repartitions such an under-partitioned scan across the session's
  * default parallelism.
  *
  * Scale-adaptive by construction, not tuned to local[32]:
  *   - a source that already has enough splits (the 100-TB case — many
  *     files / row groups) is returned UNCHANGED, so no extra exchange
  *     is ever paid where the scan parallelizes naturally;
  *   - tiny relations (broadcast-bound dims) are returned unchanged —
  *     under `MinBytes` (512 KB, chosen so the sf0.001 correctness
  *     fixtures keep their zero-exchange plans);
  *   - the partition count is the session's `defaultParallelism`, never
  *     a constant.
  *
  * The repartition keys on a stable unique column (hash partitioning —
  * deterministic under task retry, no round-robin sort-before-repartition
  * cost), so downstream groupBy on the same key can reuse the exchange.
  */
object Scans {

  private val MinBytes: Long = 512 * 1024

  def spread(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming) df // micro-batch sources partition per source
    else if (df.queryExecution.optimizedPlan.stats.sizeInBytes < MinBytes) df
    else if (df.rdd.getNumPartitions * 2 > target) df // already parallel
    else df.repartition(target, key)
  }
}
