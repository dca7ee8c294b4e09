package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The row kernels of every LSH signature (the shingle set and its
  * MinHash, the SimHash fingerprint, the hyperplane band hashes) and of
  * the md5-60bit fingerprint, static so generated code calls them
  * virtual-free (as [[NfcKernel]]). Each computes a whole row's signature
  * in one call, so a signature table is one narrow projection. They hold
  * the wrapping 64-bit multiplies, which Spark's ANSI `*` rejects as
  * overflow, and work on bytes where the SQL form would build strings.
  */
object HashKernel {

  private val Phi = 0x9e3779b97f4a7c15L

  /** MinHash permutations per signature */
  private val Perms = 64

  /** The distinct 3-word shingles of a text, in first-occurrence order:
    * the words are Spark's `split(text, " ")` (Java `split(" ", -1)`, so
    * double, leading and trailing spaces make empty words), shingle i is
    * words i..i+2 joined by single spaces. As the separators are single
    * spaces, each shingle is a byte range of the text, so the shingles
    * share one copy of its bytes. Fewer than 3 words: no shingles.
    */
  def shingleSet(text: UTF8String): ArrayData = {
    val n = text.numBytes
    val bytes = new Array[Byte](n)
    text.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val sp = new Array[Int](spaces)
    spaces = 0
    i = 0
    while (i < n) { if (bytes(i) == ' ') { sp(spaces) = i; spaces += 1 }; i += 1 }
    // words k = 0..spaces; word k ends at sp(k) (the last at n) and the
    // next starts one byte later; shingle k runs from word k to word k+2
    val seen = new java.util.HashSet[UTF8String]()
    val out = new Array[Any](math.max(spaces - 1, 0))
    var m = 0
    var k = 0
    while (k + 2 <= spaces) {
      val start = if (k == 0) 0 else sp(k - 1) + 1
      val end = if (k + 2 == spaces) n else sp(k + 2)
      val s = UTF8String.fromBytes(bytes, start, end - start)
      if (seen.add(s)) { out(m) = s; m += 1 }
      k += 1
    }
    new GenericArrayData(if (m == out.length) out else out.take(m))
  }

  /** MinHash signature of a shingle set: for each permutation i, the
    * minimum of `mix64(fnv1a64(s), i)` over its shingles s (all
    * `Long.MaxValue` for an empty set)
    */
  def minhash(sh: ArrayData): ArrayData = {
    val m = Array.fill(Perms)(Long.MaxValue)
    var k = 0
    while (k < sh.numElements) {
      val h = fnv1a64(sh.getUTF8String(k))
      var i = 0
      while (i < Perms) {
        val v = mix64(h, i)
        if (v < m(i)) m(i) = v
        i += 1
      }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(m)
  }

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** FNV-1a 64 over the string's UTF-16 code units */
  private def fnv1a64(s: UTF8String): Long = {
    val t = s.toString
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < t.length) {
      h = (h ^ t.charAt(i)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /** Permutation `i` of hash `h`: the splitmix64 finalizer of
    * h ⊕ φ·(i+1). One string hash then yields every permutation.
    */
  private def mix64(h: Long, i: Int): Long = {
    var z = (h ^ (Phi * (i + 1))) + Phi
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** md5-60bit: the first 60 bits of md5 over the string's UTF-8 bytes,
    * i.e. its first 15 hex digits read as a number
    */
  def fp60(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    d.update(s.getByteBuffer)
    val h = d.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** 60-bit SimHash of a text: its words are Spark's `split(text, " ")`
    * (as in [[shingleSet]], empty words count), n their number, and bit j
    * is set iff 2·c_j > n, c_j the number of words whose [[fp60]] has bit
    * j set: the sign of the sum of ±tf over the distinct words.
    */
  def simhash(text: UTF8String): Long = {
    val n = text.numBytes
    val bytes = new Array[Byte](n)
    text.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    val c = new Array[Int](60)
    var words, start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') { // a word ends at every space and at the end
        val h = fp60(UTF8String.fromBytes(bytes, start, i - start))
        var j = 0
        while (j < 60) { c(j) += ((h >>> j) & 1L).toInt; j += 1 }
        words += 1
        start = i + 1
      }
      i += 1
    }
    (0 until 60).foldLeft(0L)((sh, j) => if (2 * c(j) > words) sh | 1L << j else sh)
  }

  /** Hyperplane LSH geometry: 8 bands of 16 sign bits, 128 planes. For a
    * planted near-dup pair (angle ≲ 0.02 rad, flip prob θ/π ≲ 0.006 per
    * plane) P(miss all 8 bands) < 1e-8; for background pairs (cos ≤ .51,
    * flip ≥ 1/3) P(band match) ≤ (2/3)^16 ≈ 1.5e-3.
    */
  private val HBands = 8
  private val HBitsPerBand = 16

  /** The random-hyperplane band hashes of a vector: bit k of band b is
    * the sign (strict `> 0`) of its dot product, dims ascending, with
    * plane p = 16b + k, the first plane of a band its highest bit. Plane
    * p's dim d is the sign of splitmix64 of (p, d) as a ±1.0 multiplier.
    */
  def hyperplaneBands(e: ArrayData): ArrayData = {
    val v = e.toDoubleArray()
    val dims = v.length
    val signs = planes(dims)
    val out = new Array[Int](HBands)
    var p = 0
    while (p < HBands * HBitsPerBand) {
      val off = p * dims
      var dot = 0.0
      var k = 0
      while (k < dims) { dot += signs(off + k) * v(k); k += 1 }
      val b = p / HBitsPerBand
      out(b) = (out(b) << 1) | (if (dot > 0) 1 else 0)
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** the planes of `dims` dimensions, flat [plane·dims + d], built once
    * per dims and JVM: a sign costs three multiplies to derive, one to use
    */
  private val planesByDims = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private def planes(dims: Int): Array[Double] =
    planesByDims.computeIfAbsent(dims, _ => Array.tabulate(HBands * HBitsPerBand * dims) { i =>
      val (p, d) = (i / dims, i % dims)
      var z = (p.toLong << 32 | d.toLong) + Phi
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      if ((z ^ (z >>> 31)) < 0) 1.0 else -1.0
    })
}
