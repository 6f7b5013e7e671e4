package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.types.{BooleanType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd Bloom-filter membership probe over a broadcast sketch:
  * `bloom.mightContainLong(h)` for a LONG hash column — the candidate
  * pre-filter of [[graft.dedup.Dedup.decontaminateBloom]] and its
  * streaming twin [[graft.streaming.DocStream.streamingDecontaminateBloom]].
  *
  * Why a kernel and not a scalar UDF: the probe sits on the per-shingle
  * hot path (every shingle of every corpus document passes through it
  * exactly once), and a Scala UDF there breaks whole-stage codegen
  * around the projection AND pays boxing + closure dispatch per hash —
  * the same interpreted-lambda class the batch minhash band keys
  * eliminated (README scale notes). Spark's own `BloomFilterMightContain`
  * is internal (runtime row-level filtering only), so the engine carries
  * its own: the expression holds the BROADCAST handle (the bits ship
  * once per executor, never per task binary), resolves it to the filter
  * object once per generated class, and probes inside the fused stage.
  *
  * Determinism: the probe is a pure function of (filter bits, hash) —
  * same broadcast, same answer, on driver and executors alike. */
object BloomMightContain extends Kernel("bloom_might_contain", Seq(LongType),
    "a long hash input", BooleanType,
    stateTypes = Seq(classOf[BloomFilter].getName)) {

  /** Column form: true iff `hash` might be in the broadcast filter. */
  def apply(hash: Column, bloom: Broadcast[BloomFilter]): Column =
    GraftColumnBridge.column(KernelExpression(this,
      Seq(GraftColumnBridge.expression(hash)), Seq(bloom)))

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[Long], st(0).asInstanceOf[BloomFilter])

  def kernel(h: Long, bloom: BloomFilter): Boolean = bloom.mightContainLong(h)
}
