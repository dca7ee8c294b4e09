package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Row kernels of the dedup signatures and the md5-60bit fingerprint,
  * static so generated code calls them virtual-free (as [[NfcKernel]]).
  * They hold the wrapping 64-bit multiplies, which Spark's ANSI `*`
  * rejects as overflow, and work on bytes where the SQL form would build
  * strings.
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
}
