package org.apache.spark.sql.graftshim

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Row-local forms of the two hash bases ([[graft.operators.HashBase]]):
  * UTF-8 string → unsigned 32-bit long, bit-identical to each base's Column
  * form. The native expressions call these inside their per-shingle and
  * per-k-gram loops, and [[Md5PrefixLong]] calls the md5 prefix fold.
  *
  * This object also holds the one thread-local MD5 digest: Spark's `md5()`
  * (`DigestUtils.md5Hex`) looks the algorithm up in the JCA provider
  * registry on every call, which at one digest per shingle or token is
  * pure overhead.
  */
object RowHash {
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** The unsigned value of the first `width` HEX DIGITS (nibbles) of
    * md5(bytes) — bit-identical to
    * `conv(substring(md5(x), 1, width), 16, 10)` parsed as a long.
    * `width` ≤ 15 so the value fits a signed 64-bit integer.
    */
  def md5PrefixLong(bytes: Array[Byte], width: Int): Long = {
    val h = digest.get().digest(bytes) // digest() resets the instance
    var v = 0L
    var i = 0
    while (i < width) {
      val b = h(i >> 1) & 0xFF
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xF)
      i += 1
    }
    v
  }

  /** Unsigned value of the first 4 md5 bytes of s's UTF-8 encoding —
    * identical to `md5_prefix_long(s, 8)` and to DuckDB's
    * `('0x' || substr(md5(s), 1, 8))::BIGINT`.
    */
  def md5Prefix32(s: String): Long = md5PrefixLong(s.getBytes(UTF_8), 8)

  /** Low 32 bits of Spark's xxhash64 (seed 42) over s's UTF-8 bytes —
    * identical to `pmod(xxhash64(s), 2^32)`: the low 32 bits ARE the
    * mathematical mod for two's-complement longs. No digest, no hex
    * round-trip.
    */
  def xxFold32(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L) & 0xffffffffL
  }
}
