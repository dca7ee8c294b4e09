package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shingle-row forms of the MinHash path that `Dedup.shingleSets` and
  * `Dedup.verifiedPairs` replaced, kept in test scope as the references
  * `ShingleSetSpec` compares them against.
  */
object ShingleReference {

  /** (doc_id, sh): the former SQL-lambda shingler before its explode —
    * the distinct 3-word windows of `split(text, " ")` of each doc with at
    * least 3 words
    */
  def shingleArrays(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= 3)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(0, size(ws)-3), i -> concat_ws(' ', slice(ws, i+1, 3))))"
      ).as("sh"))

  /** (doc_id, shingle) rows, one per distinct shingle of a doc */
  def shingles(d: DataFrame): DataFrame =
    shingleArrays(d).select(col("doc_id"), explode(col("sh")).as("shingle"))

  /** the former exploded-shingle verify: candidate pairs (a_id, b_id, na,
    * nb) join both sides' shingle rows, c counts the equal ones, and the
    * pairs with jaccard >= 0.8 are kept as (a_id, b_id, jacc)
    */
  def verifiedPairs(sh: DataFrame, cands: DataFrame): DataFrame =
    cands
      .join(sh.select(col("doc_id").as("a_id"), col("shingle").as("sa")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingle").as("sb")), Seq("b_id"))
      .where(col("sa") === col("sb"))
      .groupBy(col("a_id"), col("b_id"), col("na"), col("nb")).agg(count(lit(1)).as("c"))
      .where(lit(9) * col("c") >= lit(4) * (col("na") + col("nb")))
      .select(col("a_id"), col("b_id"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6).as("jacc"))
}
