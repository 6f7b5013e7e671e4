package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokenization as ONE codegen'd byte scan — the corpus
  * tokenizer behind [[TextFunctions.tokens]] (the unigram/bigram LM,
  * TF-IDF, BM25, NB, chunking and shingle paths all start here, once
  * per corpus document).
  *
  * Why a kernel and not `filter(split(text, "\\s+"), ...)` or
  * `regexp_extract_all(text, "\\S+")`: Java's `\s` is the five ASCII
  * delimiters + space (0x09-0x0D, 0x20) and nothing else, and in UTF-8
  * a multi-byte code point never contains an ASCII-range byte — so the
  * token boundaries of BOTH regex forms are computable by a single pass
  * over the raw UTF-8 bytes with six byte compares per byte, no regex
  * engine, no decode. The split form additionally materialized empty
  * leading/trailing tokens and paid a per-token interpreted lambda to
  * drop them (higher-order `filter` is CodegenFallback); the
  * extract-all form runs a full java.util.regex matcher per document
  * (measured ~25-40% MORE scan cpu than split+filter on the
  * unigram-explode queries — the matcher's per-char dispatch beats the
  * lambda's savings). This kernel copies the document's bytes once and
  * wraps each token as a zero-copy UTF8String slice of that copy.
  *
  * Token arrays are EXACTLY equal to both retired forms (maximal runs
  * of non-\s bytes, in order; empty/blank → empty array; null → null) —
  * spec-pinned in DedupAnnSpec against the filter(split) form on
  * whitespace/unicode edges. */
object WhitespaceTokens extends Kernel("whitespace_tokens", Seq(StringType),
    "string", ArrayType(StringType, containsNull = false)) {

  def apply(child: Expression): Expression = KernelExpression(this, Seq(child))

  def eval(in: Array[Any], st: Array[AnyRef]): Any = kernel(in(0).asInstanceOf[UTF8String])

  /** Java-regex `\s` byte set: HT VT LF FF CR (0x09-0x0D) and space. */
  @inline private[functions] def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Maximal runs of non-`\s` bytes: the exact size of the output array,
    * so neither token pass grows a buffer. */
  private[functions] def countTokens(bytes: Array[Byte]): Int = {
    var count = 0; var i = 0; var inTok = false
    while (i < bytes.length) {
      val ws = isWs(bytes(i))
      if (!ws && !inTok) { count += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    count
  }

  def kernel(s: UTF8String): ArrayData = {
    // one defensive copy of the document (getBytes is the backing array
    // itself when the string spans it exactly, a copy otherwise); every
    // token below is a zero-copy slice of it
    val bytes = s.getBytes
    val n = bytes.length
    val count = countTokens(bytes)
    if (count == 0) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](count)
    var k = 0
    var i = 0
    while (i < n) {
      if (!isWs(bytes(i))) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        out(k) = UTF8String.fromBytes(bytes, start, i - start)
        k += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }
}
