package graft.pipeline

import org.apache.spark.util.AccumulatorV2

/** One pid's lineage sums: row count, input bytes, the md5-60bit digest
  * sum (each row's `fp60(digestRecord) mod 1e9+7`, summed without a
  * further modulus, as x_lineage and the DuckDB audit compute it), ok
  * rows and the three error classes.
  */
final case class PidSums(pid: Int, rows: Long, bytes: Long, digest: Long, ok: Long,
    failedValidation: Long, failedPayload: Long, failedUnexpected: Long)

/** Per-pid [[PidSums]] gathered inside the docs write stage (the fold of
  * the former re-read aggregate into the write). Spark applies a result
  * task's accumulator update once, on its successful attempt, so a
  * retried write task is counted once. `value` holds the pids that saw a
  * row, in pid order.
  */
final class LineageSums(numPids: Int) extends AccumulatorV2[PidSums, Seq[PidSums]] {

  private val Width = 7
  private val sums = new Array[Long](numPids * Width)

  /** one written row */
  def addRow(pid: Int, bytes: Long, digest: Long, error: String): Unit = {
    val o = pid * Width
    sums(o) += 1
    sums(o + 1) += bytes
    sums(o + 2) += digest
    val k = error match {
      case null         => 3
      case "validation" => 4
      case "payload"    => 5
      case "unexpected" => 6
      case _            => -1
    }
    if (k > 0) sums(o + k) += 1
  }

  override def add(v: PidSums): Unit = {
    val o = v.pid * Width
    Seq(v.rows, v.bytes, v.digest, v.ok, v.failedValidation, v.failedPayload, v.failedUnexpected)
      .zipWithIndex.foreach { case (x, i) => sums(o + i) += x }
  }

  override def merge(other: AccumulatorV2[PidSums, Seq[PidSums]]): Unit = other match {
    case o: LineageSums => o.sums.indices.foreach(i => sums(i) += o.sums(i))
    case _ => throw new UnsupportedOperationException(s"cannot merge ${other.getClass.getName}")
  }

  override def value: Seq[PidSums] = (0 until numPids).filter(p => sums(p * Width) > 0).map { p =>
    val o = p * Width
    PidSums(p, sums(o), sums(o + 1), sums(o + 2), sums(o + 3), sums(o + 4), sums(o + 5), sums(o + 6))
  }

  override def isZero: Boolean = sums.forall(_ == 0)
  override def copy(): LineageSums = {
    val c = new LineageSums(numPids)
    sums.copyToArray(c.sums)
    c
  }
  override def reset(): Unit = java.util.Arrays.fill(sums, 0L)
  override def toString: String = s"LineageSums(id=${if (isRegistered) id else -1}, pids=$numPids)"
}
