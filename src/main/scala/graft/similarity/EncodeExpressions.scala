package graft.similarity

import graft.functions.{Kernel, KernelExpression}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** array<double> vector → array<int> PQ codes against the broadcast
  * codebooks: normalize in-register and argmin each subspace against its
  * codebook.
  *
  * The PQ / SQ8 corpus ENCODERS ([[PqEncode]], [[SqEncode]]) are the
  * build-time complement of [[AdcScore]]/[[SqCosine]] (round-17 addendum
  * 11 named them the next candidates). The encode runs once per corpus
  * row of every PQ/IVFADC/SQ8 build, append and compact pass; as scalar
  * UDFs each row paid a Catalyst→`Seq[Double]` conversion (boxing every
  * component) plus closure dispatch, and the converter boundary split
  * the encode stage's codegen. The kernels read the vector's primitive
  * array straight off the unsafe row (`ArrayData.toDoubleArray`), mirror
  * the retired UDF bodies statement for statement (normalize
  * in-register, zero-vector passthrough, the same argmin / clamp
  * arithmetic), and resolve the broadcast quantizer once per generated
  * class — codes bit-equal, pinned by the x45/x58/x59/x96 byte-parity
  * gates and the PQ/SQ suites. */
private[similarity] object PqEncode extends Kernel("pq_encode", Seq(Kernel.Doubles),
    "array<double>", ArrayType(IntegerType, containsNull = false),
    stateTypes = Seq("double[][][]")) {

  def apply(child: Expression,
      books: Broadcast[Array[Array[Array[Double]]]]): Expression =
    KernelExpression(this, Seq(child), Seq(books))

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[ArrayData], st(0).asInstanceOf[Array[Array[Array[Double]]]])

  def kernel(v: ArrayData, bks: Array[Array[Array[Double]]]): ArrayData = {
    val a = v.toDoubleArray()
    val inv = NearestCell.invNorm(a)
    val mm = bks.length
    val dsub = a.length / mm
    val out = new Array[Int](mm)
    var j = 0
    while (j < mm) {
      val book = bks(j)
      var best = 0; var bs = Double.MaxValue; var ci = 0
      while (ci < book.length) {
        val cen = book(ci)
        var s = 0.0; var t = 0
        while (t < dsub) {
          val dd = a(j * dsub + t) * inv - cen(t); s += dd * dd; t += 1
        }
        if (s < bs) { bs = s; best = ci }
        ci += 1
      }
      out(j) = best
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** array<double> vector → struct<_1: binary codes, _2: double decoded
  * norm> against the broadcast (mins, steps) scalar quantizer: normalize
  * in-register, clamp-quantize each dimension to one byte, carry the
  * decoded norm (including the loud dimension guard). Field names mirror
  * the retired UDF's Tuple2 encoding so call sites (`sq._1` / `sq._2`)
  * are untouched. See [[PqEncode]] for why this is a kernel. */
private[similarity] object SqEncode extends Kernel("sq_encode", Seq(Kernel.Doubles),
    "array<double>", StructType(Seq(
      StructField("_1", BinaryType, nullable = false),
      StructField("_2", DoubleType, nullable = false))),
    stateTypes = Seq("double[]", "double[]")) {

  def apply(child: Expression,
      quant: Broadcast[(Array[Double], Array[Double])]): Expression =
    KernelExpression(this, Seq(child), Seq(quant))

  override def state(bcs: Seq[Broadcast[_]]): Seq[AnyRef] = {
    val (mins, steps) = bcs.head.value.asInstanceOf[(Array[Double], Array[Double])]
    Seq(mins, steps)
  }

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[ArrayData], st(0).asInstanceOf[Array[Double]],
      st(1).asInstanceOf[Array[Double]])

  def kernel(v: ArrayData, mins: Array[Double], steps: Array[Double]): InternalRow = {
    val a = v.toDoubleArray()
    val inv = NearestCell.invNorm(a)
    require(a.length == mins.length,
      s"SQ8: vector of length ${a.length} against a dim-${mins.length} quantizer")
    val codes = new Array[Byte](a.length)
    var n2 = 0.0
    var j = 0
    while (j < a.length) {
      val code =
        if (steps(j) > 0.0)
          math.max(0L, math.min(255L,
            math.round((a(j) * inv - mins(j)) / steps(j)))).toInt
        else 0
      codes(j) = code.toByte
      val xh = mins(j) + code * steps(j)
      n2 += xh * xh
      j += 1
    }
    new GenericInternalRow(Array[Any](codes, math.sqrt(n2)))
  }
}

/** array<double> vector → array<double> rotated vector against a
  * broadcast orthonormal basis (d row vectors): element i is the dot
  * product row_i · v with EXACTLY [[graft.functions.ArrayDot]]'s
  * arithmetic (sequential sum over the common prefix, null elements
  * contribute 0) — bit-equal to the `array(dot(v, lit(row_0)), ...)`
  * column it replaces. Why a kernel and not that literal form: at
  * d = 64 the inlined form is 64 codegen'd loops over 64-element literal
  * arrays in ONE generated method — measured 10,096 bytecodes fused into
  * x89's ADC scan span, over HotSpot's 8,000-bytecode
  * DontCompileHugeMethods cliff, so the whole per-(cand,query) scan loop
  * ran INTERPRETED (the round-16 ~15x hazard; round-17's one bench
  * regression). This form is one static kernel call per row.
  *
  * A NULL input vector gives a NULL output (the shared null rule), where
  * the literal form gives an array of d NULLs — the one input on which
  * the two differ; AnnOpqSpec pins it. Embeddings on the ANN paths are
  * non-null. */
private[similarity] object RotateVec extends Kernel("rotate_vec", Seq(Kernel.Doubles),
    "array<double>", ArrayType(DoubleType, containsNull = false),
    stateTypes = Seq("double[][]")) {

  def apply(child: Expression, rot: Broadcast[Array[Array[Double]]]): Expression =
    KernelExpression(this, Seq(child), Seq(rot))

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[ArrayData], st(0).asInstanceOf[Array[Array[Double]]])

  def kernel(v: ArrayData, rot: Array[Array[Double]]): ArrayData = {
    val out = new Array[Double](rot.length)
    var i = 0
    while (i < rot.length) {
      val row = rot(i)
      val n = math.min(v.numElements(), row.length)
      var s = 0.0; var t = 0
      while (t < n) {
        if (!v.isNullAt(t)) s += v.getDouble(t) * row(t)
        t += 1
      }
      out(i) = s
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
