package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** token array → array<struct<bk, k1, k2>> of xxhash64 bigram keys —
  * the corpus-facing front of [[TextFunctions.bigramLogScore]] (x56) as
  * ONE codegen'd pass.
  *
  * Why a kernel: the retired form built the bigram stream with a
  * higher-order `transform(sequence(...), i -> struct(element_at...))`
  * — Spark's higher-order array functions are CodegenFallback, so every
  * corpus document paid a per-row interpreted eval inside the generated
  * stage (sequence materialization, a boxed per-element lambda, a
  * struct of COPIED token strings per position) before the explode.
  * And because the three key hashes were taken AFTER
  * the explode, every position hashed w1 twice (once as k1, once as the
  * first chain step of bk) and the exploded rows carried raw token
  * strings. This kernel walks the token array once: n token hashes,
  * then one chained hash per bigram — 2n-1 string hashes total instead
  * of 4(n-1) — and emits fixed-width longs, so nothing downstream of
  * the tokenizer moves strings at all.
  *
  * Hash parity is EXACT by construction: Spark's `xxhash64(a, b)` is
  * `XXH64.hashUTF8String(b, XXH64.hashUTF8String(a, 42L))`, and the
  * kernel calls the same `XXH64` entry points with the same seeds
  * (null tokens — impossible from the tokenizer, handled anyway —
  * leave the running hash unchanged, the builtin's null rule).
  * bk = xxhash64(w1, w2), k1 = xxhash64(w1), k2 = xxhash64(w2); scores
  * bit-identical to the retired derivation (spec-pinned equality in
  * DedupAnnSpec; the x56 oracle hash-matches through it).
  *
  * NULL for arrays with fewer than 2 tokens — the retired
  * `when(size >= 2, ...)` contract (explode then drops the doc). */
object BigramKeys extends Kernel("bigram_keys", Seq(ArrayType(StringType)),
    "array<string>", ArrayType(StructType(Seq(
      StructField("bk", LongType, nullable = false),
      StructField("k1", LongType, nullable = false),
      StructField("k2", LongType, nullable = false))), containsNull = false),
    NullRule.Returned) {

  def eval(in: Array[Any], st: Array[AnyRef]): Any = kernel(in(0).asInstanceOf[ArrayData])

  private val Seed = 42L

  /** One pass over the token array; see the scaladoc above for the
    * parity argument. Returns null below 2 tokens. */
  def kernel(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 2) return null
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      th(i) = if (t == null) Seed else XXH64.hashUTF8String(t, Seed)
      i += 1
    }
    val out = new Array[Any](n - 1)
    i = 0
    while (i < n - 1) {
      val t2 = toks.getUTF8String(i + 1)
      val bk = if (t2 == null) th(i) else XXH64.hashUTF8String(t2, th(i))
      out(i) = new GenericInternalRow(Array[Any](bk, th(i), th(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column form. */
  def bigramKeys(tokens: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(KernelExpression(this,
      Seq(org.apache.spark.sql.GraftColumnBridge.expression(tokens))))
}
