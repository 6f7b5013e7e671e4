package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Pack an `array<long>` of signed majority counters into one 64-bit
  * signature: bit b is set iff counts[b] > 0 (null elements unset; only
  * the first 64 elements count). The SimHash bit-packing step
  * ([[graft.dedup.Dedup.simhashSignatures]]).
  *
  * Why a kernel and not `(0 until 64).map(when(s_b > 0, 1L << b))
  * .reduce(bitwiseOR)`: that reduce is ONE 64-level nested expression
  * tree, and Spark's codegen cannot split a single expression across
  * methods — fused into the final HashAggregate's generated method it
  * pushed the unit to 8,379 bytecodes, past HotSpot's 8,000-bytecode
  * DontCompileHugeMethods cliff, so the per-group merge ran INTERPRETED
  * (caught by the round-16 PLANS.md codegen-size audit; the class
  * BASELINE round-15 addendum 5 convicted on the brute-truth path). As
  * one static call over an array input the packing is a handful of
  * bytecodes, and the CreateArray feeding it evaluates its 64 elements
  * through codegen's own expression splitter — every generated method
  * stays far under the cliff. */
object PackSignBits extends Kernel("pack_sign_bits", Seq(ArrayType(LongType)),
    "an array<long> input", LongType) {

  def apply(child: Expression): Expression = KernelExpression(this, Seq(child))

  def eval(in: Array[Any], st: Array[AnyRef]): Any = kernel(in(0).asInstanceOf[ArrayData])

  def kernel(x: ArrayData): Long = {
    val n = math.min(x.numElements(), 64)
    var sig = 0L; var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && x.getLong(i) > 0L) sig |= (1L << i)
      i += 1
    }
    sig
  }
}
