package graft.functions

import java.security.MessageDigest
import org.apache.spark.unsafe.types.UTF8String

/** Row kernels of the dedup signatures and the md5-60bit fingerprint,
  * static so generated code calls them virtual-free (as [[NfcKernel]]).
  * They hold the wrapping 64-bit multiplies, which Spark's ANSI `*`
  * rejects as overflow, and hash bytes where the SQL form would build
  * strings.
  */
object HashKernel {

  private val Phi = 0x9e3779b97f4a7c15L

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** FNV-1a 64 over the string's UTF-16 code units */
  def fnv1a64(s: UTF8String): Long = {
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
  def mix64(h: Long, i: Int): Long = {
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
