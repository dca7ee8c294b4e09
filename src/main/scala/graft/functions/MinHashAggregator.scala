package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** MinHash signature as a typed Aggregator: each shingle string is hashed
  * ONCE (FNV-1a 64), and the `NumPerms` permutation hashes are derived by
  * splitmix64 finalization of (h ⊕ seed·φ) — the standard one-hash
  * many-permutations construction. This replaces 64 independent
  * string-hash aggregate columns (which re-hash every string 64 times and
  * blow up the generated agg code) with one array-buffer aggregate:
  * mergeable, order-independent, map-side-combining.
  *
  * Input is the shingle STRING alone (not a (doc_id, shingle) tuple):
  * applied through `functions.udaf` + a relational `groupBy(doc_id)`, the
  * grouping key is the doc_id column itself, so an upstream
  * hash-partitioning on doc_id (the Scans.spread layout) satisfies the
  * aggregation's distribution and the exchange is ELIDED — the typed
  * groupByKey form appended a serialized key column Catalyst cannot
  * equate with doc_id and therefore always paid a corpus-wide shuffle of
  * the partial buffers. Every Dedup call site today aggregates a cached
  * shingle table, whose InMemoryRelation boundary hides that
  * partitioning, so there the exchange remains.
  */
object MinHashAggregator extends Aggregator[String, Array[Long], Seq[Long]] {

  val NumPerms = 64
  private val Phi = 0x9e3779b97f4a7c15L

  @inline private def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    h
  }

  @inline private def splitmix64(x0: Long): Long = {
    var z = x0 + Phi
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  override def zero: Array[Long] = Array.fill(NumPerms)(Long.MaxValue)

  override def reduce(buf: Array[Long], shingle: String): Array[Long] = {
    val h0 = fnv1a64(shingle)
    var i = 0
    while (i < NumPerms) {
      val m = splitmix64(h0 ^ (Phi * (i + 1)))
      if (m < buf(i)) buf(i) = m
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < NumPerms) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(r: Array[Long]): Seq[Long] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(r)

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
}
