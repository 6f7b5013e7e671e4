package graft.similarity

import graft.functions.{Kernel, KernelExpression}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The flat IVF nearest-cell argmin as a native codegen'd kernel — the
  * ONE full-corpus pass of every cell-partitioned operation
  * (semanticDedup, IvfIndex build·append·search under every codec,
  * SemDeDupIndex, embedding-centroid assignment).
  *
  * Why a kernel and not the scalar `Seq[Double] => Int` UDF it
  * replaces: the UDF paid a Catalyst→Scala Seq conversion per corpus row
  * plus closure dispatch, and broke whole-stage fusion around the
  * assignment projection — on the only operator family whose per-row
  * work is a dense k×d loop, the conversion overhead is a material
  * fraction at small k. The kernel reads the vector once via
  * `ArrayData.toDoubleArray` (bulk copy), resolves the broadcast
  * centroid matrix once per generated class, and runs the IDENTICAL
  * arithmetic in the identical order — statement-for-statement the old
  * UDF, so scores and cells are bit-equal (SemanticDedupSpec's routed ≡
  * flat bit-equality test and the x45/x59/x84/x96 byte-parity gates all
  * pin this; doubles in Java evaluate in program order, so nothing can
  * reassociate the sums).
  *
  * The scoring form ([[NearestCellScored]]) returns the argmin's own key
  * — ||cen||² − 2·(v·cen)/||v|| — alongside the cell, for the
  * farthest-survivor policy and scored index appends; the kernel leaves
  * it in a one-slot state array, so neither form allocates for it. Zero
  * vectors pass through unnormalized (inv = 1), matching `Ann.withNorm`. */
private[graft] object NearestCell extends Kernel("nearest_cell", Seq(Kernel.Doubles),
    "an array<double> input", IntegerType,
    stateTypes = Seq("double[][]", "double[]", "double[]")) {

  def apply(child: Expression, cents: Broadcast[Array[Array[Double]]],
      cn2: Broadcast[Array[Double]]): Expression =
    KernelExpression(this, Seq(child), Seq(cents, cn2))

  override def state(bcs: Seq[Broadcast[_]]): Seq[AnyRef] =
    super.state(bcs) :+ new Array[Double](1)

  /** 1/||a||, or 1 for a zero vector (which passes through unnormalized,
    * matching `Ann.withNorm`) — shared by the cell, PQ and SQ8 kernels. */
  def invNorm(a: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * a(i); i += 1 }
    if (d > 0.0) 1.0 / math.sqrt(d) else 1.0
  }

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[ArrayData], st(0).asInstanceOf[Array[Array[Double]]],
      st(1).asInstanceOf[Array[Double]], st(2).asInstanceOf[Array[Double]])

  /** The cell; its score goes to `score(0)`. */
  def kernel(v: ArrayData, cents: Array[Array[Double]], cn2: Array[Double],
      score: Array[Double]): Int = {
    val a = v.toDoubleArray()
    val inv = invNorm(a)
    var best = 0; var bs = Double.MaxValue; var ci = 0
    while (ci < cents.length) {
      val cen = cents(ci)
      var dp = 0.0; var j = 0
      while (j < cen.length) { dp += a(j) * cen(j); j += 1 }
      val s = cn2(ci) - 2.0 * dp * inv
      if (s < bs) { bs = s; best = ci }
      ci += 1
    }
    score(0) = bs
    best
  }
}

/** [[NearestCell]] returning struct<cell:int, score:double>. */
private[graft] object NearestCellScored extends Kernel("nearest_cell_scored",
    Seq(Kernel.Doubles), "an array<double> input", StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    stateTypes = NearestCell.stateTypes) {

  def apply(child: Expression, cents: Broadcast[Array[Array[Double]]],
      cn2: Broadcast[Array[Double]]): Expression =
    KernelExpression(this, Seq(child), Seq(cents, cn2))

  override def state(bcs: Seq[Broadcast[_]]): Seq[AnyRef] = NearestCell.state(bcs)

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[ArrayData], st(0).asInstanceOf[Array[Array[Double]]],
      st(1).asInstanceOf[Array[Double]], st(2).asInstanceOf[Array[Double]])

  def kernel(v: ArrayData, cents: Array[Array[Double]], cn2: Array[Double],
      score: Array[Double]): InternalRow = {
    val cell = NearestCell.kernel(v, cents, cn2, score)
    new GenericInternalRow(Array[Any](cell, score(0)))
  }
}
