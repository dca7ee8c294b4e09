package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The band-bucket joins `Dedup.bucketPairs` replaced, kept in test scope
  * as the reference `BucketPairsSpec` compares the generator against. Both
  * read MinHash band rows (doc_id, n, band, bh).
  */
object BucketJoinReference {

  /** the former `lshCandidates` self-join before its `distinct`: pairs
    * (a_id < b_id, na, nb), once per shared band
    */
  def selfJoin(bands: DataFrame): DataFrame = {
    val a = bands.select(col("band"), col("bh"), col("doc_id").as("a_id"), col("n").as("na"))
    val b = bands.select(col("band"), col("bh"), col("doc_id").as("b_id"), col("n").as("nb"))
    a.join(b, Seq("band", "bh"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("na"), col("nb"))
  }

  /** the former `probeBandIndex` candidates: `bNew` × (`stored` ∪ `bNew`)
    * on the bucket, every x_id ≠ y_id pair ordered by least/greatest and
    * made distinct, then each side's count joined from `counts` (doc_id, n)
    */
  def probe(bNew: DataFrame, stored: DataFrame, counts: DataFrame): DataFrame =
    bNew.select(col("band"), col("bh"), col("doc_id").as("x_id"))
      .join(stored.union(bNew).select(col("band"), col("bh"), col("doc_id").as("y_id")),
        Seq("band", "bh"))
      .where(col("x_id") =!= col("y_id"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))
      .distinct()
      .join(counts.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(counts.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
}
