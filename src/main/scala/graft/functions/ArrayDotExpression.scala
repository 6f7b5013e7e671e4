package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Native codegen'd dot product over two `array<double>` columns — the
  * hot inner loop of every cosine-similarity scan (brute-force ANN,
  * LSH/IVF verification, embedding near-dup).
  *
  * Why an Expression and not `aggregate(zip_with(...))`: Spark's
  * higher-order-function lambdas are INTERPRETED — each element pays
  * per-element closure dispatch and boxing. This kernel participates in
  * whole-stage codegen as one static call per row into a primitive loop
  * over the unsafe array words (one multiply-add per dimension, no
  * allocation).
  *
  * Semantics: Σ aᵢ·bᵢ over the common prefix length; null ELEMENTS are
  * skipped (contribute 0); a null ARRAY yields null. Embedding pipelines
  * produce equal-length, null-free vectors — the guards are for
  * robustness, not a semantic contract. */
object ArrayDot extends Kernel("array_dot", Seq(Kernel.Doubles, Kernel.Doubles),
    "two array<double> inputs", DoubleType) {

  // callers (VectorFunctions.dot) cast both sides to array<double>; the
  // type check guards direct construction
  def apply(left: Expression, right: Expression): Expression =
    KernelExpression(this, Seq(left, right))

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[ArrayData], in(1).asInstanceOf[ArrayData])

  def kernel(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }
}
