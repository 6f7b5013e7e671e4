package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData,
  XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-document distinct shingle hashes as ONE codegen'd byte-scan pass
  * — the streaming twin of [[graft.dedup.Dedup.shingleHashes]]'s
  * window-lead derivation ([[graft.streaming.DocStream]]'s row-local
  * form; window functions don't exist on streams).
  *
  * Why a kernel: the retired column form was three nested higher-order
  * functions per document — `transform(toks, xxhash64)`, then
  * `transform(sequence(0, n-k), i -> xxhash64(coalesce(get(ths, i+j),
  * sentinel) × k))`, then `array_distinct` — all CodegenFallback, so
  * every streamed document paid interpreted per-element lambdas, k boxed
  * `get` calls per shingle position, and three intermediate arrays. This
  * kernel tokenizes (the [[WhitespaceTokens]] byte-scan), hashes each
  * token IN PLACE off the document's byte array (no token UTF8Strings
  * materialized at all), chains the k-gram combine over the long array,
  * and dedups with an open-addressed long set — first-occurrence order,
  * `array_distinct`'s contract.
  *
  * Hash parity is exact by construction: token hash =
  * `XXH64.hashUnsafeBytes(docBytes, start, len, 42)` — the same bytes
  * and seed `xxhash64(token)` hashes; shingle hash = `hashLong` chained
  * from seed 42 over the k slot values (out-of-range slots
  * sentinel-filled) — exactly `xxhash64(c0, ..., c_{k-1})`'s fold. The
  * n < k single-partial-shingle branch (including n = 0: all-sentinel)
  * mirrors the retired `when(n >= k, ...).otherwise(array(...))`.
  * Spec-pinned equal to the retired column form in DedupAnnSpec, and
  * streaming ≡ batch decontamination stays pinned by DocStreamSpec. */
object ShingleHashes extends Kernel("shingle_hashes", Seq(StringType), "string",
    ArrayType(LongType, containsNull = false)) {

  def apply(child: Expression, shingleSize: Int): Expression = {
    require(shingleSize >= 1, s"shingleSize must be >= 1: $shingleSize")
    KernelExpression(this, Seq(child), Seq(shingleSize))
  }

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[UTF8String], in(1).asInstanceOf[Int])

  /** The shingleHashes sentinel: fills the missing tail of a partial
    * shingle so its hash is well-defined (Dedup.shingleHashes's value). */
  private val Sentinel = 0x9E3779B97F4A7C15L
  private[functions] val Seed = 42L

  /** Tokenize (the [[WhitespaceTokens]] byte scan) and hash each token
    * IN PLACE off the document's byte array — same bytes and seed as
    * `xxhash64(token)`. Shared by [[ShingleHashes]] and [[GramHashes]]. */
  private[functions] def tokenHashes(s: UTF8String): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    val nTok = WhitespaceTokens.countTokens(bytes)
    val th = new Array[Long](nTok)
    var t = 0
    var i = 0
    while (i < n) {
      if (!WhitespaceTokens.isWs(bytes(i))) {
        val start = i
        while (i < n && !WhitespaceTokens.isWs(bytes(i))) i += 1
        th(t) = XXH64.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, Seed)
        t += 1
      } else i += 1
    }
    th
  }

  def kernel(s: UTF8String, k: Int): ArrayData = {
    val th = tokenHashes(s)
    val nTok = th.length
    // chain the k-gram combine; distinct with first-occurrence order
    val nSh = if (nTok >= k) nTok - k + 1 else 1
    var cap = 4
    while (cap < nSh * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val filled = new Array[Boolean](cap)
    val out = new Array[Long](nSh)
    var kept = 0; var si = 0
    while (si < nSh) {
      var h = Seed; var j = 0
      while (j < k) {
        val c = if (si + j < nTok) th(si + j) else Sentinel
        h = XXH64.hashLong(c, h)
        j += 1
      }
      // open-addressed insert; duplicates skipped
      var slot = (java.lang.Long.hashCode(h) & 0x7fffffff) & mask
      var dup = false
      while (filled(slot) && !dup) {
        if (table(slot) == h) dup = true else slot = (slot + 1) & mask
      }
      if (!dup) {
        filled(slot) = true; table(slot) = h
        out(kept) = h; kept += 1
      }
      si += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (kept == out.length) out else java.util.Arrays.copyOf(out, kept))
  }
}

/** Positional full n-gram hashes as one codegen'd byte-scan pass —
  * array<struct<p: 1-based token offset, h: gram hash>> — the streaming
  * span-dedup front ([[graft.streaming.DocStream.streamingSpanDedup]]'s
  * row-local twin of the batch gram explode). Same kernel family as
  * [[ShingleHashes]] (shared tokenize+hash pass; gram hash = `hashLong`
  * fold from seed 42 over k in-range token hashes — exactly
  * `xxhash64(get(ths,i), ..., get(ths,i+k-1))`), but positional, full
  * grams only, NO distinct and NO sentinel: documents shorter than k
  * tokens emit an EMPTY array (the retired `otherwise(array())` branch;
  * explode then drops the doc — null text returns null, which explode
  * drops identically). The retired form paid k interpreted boxed `get`
  * calls per gram position (k=50 at the span default) — the same
  * CodegenFallback class [[ShingleHashes]] measured at ~100×.
  * Spec-pinned equal (order + positions) in DedupAnnSpec. */
object GramHashes extends Kernel("gram_hashes", Seq(StringType), "string",
    ArrayType(StructType(Seq(
      StructField("p", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))), containsNull = false)) {

  def apply(child: Expression, gramSize: Int): Expression = {
    require(gramSize >= 1, s"gramSize must be >= 1: $gramSize")
    KernelExpression(this, Seq(child), Seq(gramSize))
  }

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[UTF8String], in(1).asInstanceOf[Int])

  def kernel(s: UTF8String, k: Int): ArrayData = {
    val th = ShingleHashes.tokenHashes(s)
    val nTok = th.length
    if (nTok < k) return new GenericArrayData(new Array[Any](0))
    val nG = nTok - k + 1
    val out = new Array[Any](nG)
    var i = 0
    while (i < nG) {
      var h = ShingleHashes.Seed; var j = 0
      while (j < k) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      out(i) = new GenericInternalRow(Array[Any](i + 1, h))
      i += 1
    }
    new GenericArrayData(out)
  }
}
