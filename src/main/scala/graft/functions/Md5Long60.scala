package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** The engine's 60-bit stable string hash as one native [[Kernel]]
  * (`md5_long60`): numerically identical to
  * `conv(substring(md5(x), 1, 15), 16, 10)` — the value of the first 15
  * hex digits of the MD5, i.e. the first 7.5 digest bytes big-endian — but
  * computed straight from the digest bytes, skipping the hex-string
  * materialization and the radix-parsing `conv` walk. This chain runs once
  * per (doc, token, seed) in the minhash/simhash/fingerprint family, so the
  * string round-trip was measurable. DuckDB oracle equivalent unchanged:
  * `('0x' || substr(md5(x),1,15))::BIGINT`.
  */
object Md5Long60 {
  // MessageDigest.digest(bytes) resets the instance after each call, so a
  // cached per-thread instance is safe for repeated single-shot use; a JCA
  // provider lookup per row would tax the hot path this kernel exists
  // to speed up
  private[functions] val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 15 hex digits of md5(s) as a non-negative long. */
  def hash(input: UTF8String): Long = {
    val d = digest.get().digest(input.getBytes)
    // first 15 hex digits = bytes 0..6 fully + high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  def apply(c: Expression): Expression =
    Kernel("md5_long60", this, "hash", LongType, Seq(c))

  def apply(c: Column): Column =
    GraftBridge.column(apply(GraftBridge.expression(c)))
}
