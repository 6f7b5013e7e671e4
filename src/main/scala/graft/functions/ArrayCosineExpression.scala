package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Fused codegen'd cosine similarity over two `array<double>` columns:
  * ONE traversal accumulates Σab, Σa², Σb² (vs three separate dot-product
  * passes), then cos = Σab / (√Σa²·√Σb²). NULL when the denominator is
  * not positive (zero norm — the relational zero-norm guard — or a NaN
  * element) or either array is null; an `Inf` element gives NaN, a value,
  * not NULL. Skips null elements pairwise, mirroring [[ArrayDot]]. The
  * accumulation order and the final formula are exactly the decomposed
  * form's, so results are bitwise-identical to dot/norm composition (and
  * to the DuckDB oracle's list_dot_product formula). */
object ArrayCosine extends Kernel("array_cosine", Seq(Kernel.Doubles, Kernel.Doubles),
    "two array<double> inputs", DoubleType, NullRule.Flagged) {

  def apply(left: Expression, right: Expression): Expression =
    KernelExpression(this, Seq(left, right))

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[ArrayData], in(1).asInstanceOf[ArrayData],
      st(0).asInstanceOf[Array[Boolean]])

  def kernel(x: ArrayData, y: ArrayData, isNull: Array[Boolean]): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var sab = 0.0; var saa = 0.0; var sbb = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xi = x.getDouble(i)
        val yi = y.getDouble(i)
        sab += xi * yi
        saa += xi * xi
        sbb += yi * yi
      }
      i += 1
    }
    val denom = math.sqrt(saa) * math.sqrt(sbb)
    isNull(0) = !(denom > 0.0)
    sab / denom
  }
}
