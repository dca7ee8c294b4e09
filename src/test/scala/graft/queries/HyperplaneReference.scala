package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The typed `Dataset.flatMap` hyperplane signature that `Dedup.embedBands`
  * (the `HashKernel.hyperplaneBands` row kernel) replaced, kept in test
  * scope as the bit-identity reference `SignatureSpec` compares it against.
  */
object HyperplaneReference {

  private val EBands = 8
  private val EBitsPerBand = 16 // total planes = EBands * EBitsPerBand = 128

  @inline private def planePositive(p: Int, d: Int): Boolean = {
    var z = (p.toLong << 32 | d.toLong) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) < 0
  }

  private val signCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private def planeSigns(dims: Int): Array[Double] =
    signCache.computeIfAbsent(dims, d => {
      val out = new Array[Double](EBands * EBitsPerBand * d)
      var p = 0
      while (p < EBands * EBitsPerBand) {
        var k = 0
        while (k < d) {
          out(p * d + k) = if (planePositive(p, k)) 1.0 else -1.0
          k += 1
        }
        p += 1
      }
      out
    })

  /** (vec_id, band, bh) sign-bit signatures of a corpus (vec_id, e) */
  def hyperplaneBands(s: SparkSession, corpus: DataFrame): DataFrame = {
    import s.implicits._
    corpus.select("vec_id", "e").as[(Long, Seq[Double])]
      .flatMap { case (id, e) =>
        val dims = e.length
        val ea = e.toArray
        val signs = planeSigns(dims)
        val out = new Array[(Long, Int, Int)](EBands)
        var b = 0
        while (b < EBands) {
          var h = 0
          var k = 0
          while (k < EBitsPerBand) {
            val p = b * EBitsPerBand + k
            val off = p * dims
            var dot = 0.0
            var d = 0
            while (d < dims) {
              dot += signs(off + d) * ea(d)
              d += 1
            }
            h = (h << 1) | (if (dot > 0) 1 else 0)
            k += 1
          }
          out(b) = (id, b, h)
          b += 1
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      }
      .toDF("vec_id", "band", "bh")
  }
}
