package graft.pipeline

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-scope oracle for the in-write lineage sums ([[LineageSums]]): the
  * former per-pid aggregate, a groupBy over the WRITTEN docs rows. It
  * shares with the hot path only [[ExtractJob.digestRecord]] and
  * `fp60`, so a difference means the fold into the write stage drifted
  * from the second-pass form.
  */
object LineageAggReference {

  def agg(written: DataFrame): Seq[PidSums] = {
    val rec = ExtractJob.digestRecord(col("url"), col("extracted_text"), col("error"))
    def count(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    written.groupBy(col("pid")).agg(
      count(lit(true)).as("rows"),
      sum("in_bytes").as("bytes"),
      sum(pmod(GraftFunctions.fp60(rec), lit(1000000007L))).as("dig"),
      count(col("error").isNull).as("ok"),
      count(col("error") === "validation").as("f_val"),
      count(col("error") === "payload").as("f_pay"),
      count(col("error") === "unexpected").as("f_unx"))
      .collect().toSeq
      .map(r => PidSums(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
      .sortBy(_.pid)
  }
}
