package graft.similarity

import graft.functions.{Kernel, KernelExpression, NullRule}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The PQ asymmetric-distance (ADC) scorer as a native codegen'd kernel
  * — the per-candidate inner loop of every PQ/IVFADC scan
  * ([[Ann.pqTopK]], [[Ann.ivfPqTopK]], [[IvfIndex.search]] over
  * [[CellCodec.Pq]]): m table lookups per candidate.
  *
  * Why a kernel and not the scalar UDF it replaces: the scorer runs once
  * per (candidate, query) row of the scan — the single hottest loop of
  * ANN serving — and its body is only m (=8) array adds, so the UDF's
  * per-row `Seq[Int]` conversion and closure dispatch were a material
  * fraction of scan cost, and the converter boundary split the scan's
  * codegen stage. The kernel reads the code array directly (no
  * conversion) and mirrors the retired UDF statement for statement —
  * scores bit-equal (the x58/x59 byte-parity gates and the OPQ and
  * IVF-PQ index specs pin it).
  *
  * The query's distance table comes out of a broadcast indexed by the
  * row's `qi`, NOT a join column: a dtab is m·ksub doubles (512 at the
  * defaults), and carrying it as an array column costs a full Catalyst
  * array deserialization per SCORED row — measured 13.5 s for an 8-probe
  * search over 2M vectors, vs ~1 s with the broadcast lookup. `dtabs(qi)`
  * is the flattened m×ksub table of query `qi` (the [[Ann.indexedDtabs]]
  * layout; kk = len/m recovers ksub); the matrix resolves once per
  * generated class. */
private[similarity] object AdcScore extends Kernel("adc_score",
    Seq(ArrayType(IntegerType), IntegerType), "(array<int> codes, int qi)",
    DoubleType, stateTypes = Seq("double[][]")) {

  def apply(codes: Expression, qi: Expression,
      dtabs: Broadcast[Array[Array[Double]]]): Expression =
    KernelExpression(this, Seq(codes, qi), Seq(dtabs))

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[ArrayData], in(1).asInstanceOf[Int],
      st(0).asInstanceOf[Array[Array[Double]]])

  def kernel(codes: ArrayData, qi: Int, dtabs: Array[Array[Double]]): Double = {
    val dtab = dtabs(qi)
    val m = codes.numElements()
    val kk = dtab.length / m
    var s = 0.0; var j = 0
    while (j < m) { s += dtab(j * kk + codes.getInt(j)); j += 1 }
    s
  }
}

/** The SQ8 query-weight dot scorer as a native codegen'd kernel — the
  * per-candidate inner loop of the SQ8 scans ([[Ann.sqTopK]],
  * [[IvfIndex.search]] over [[CellCodec.Sq8]]). Same rationale as
  * [[AdcScore]]; the kernel is d byte-unmask-multiply-adds against the
  * query's weight vector (wⱼ = qⱼ·stepⱼ, constant k_q = Σ qⱼ·minⱼ — the
  * [[Ann.indexedSqWeights]] layout), and the score divides by the
  * candidate's decoded norm. NULL (not NaN/Inf) for zero-norm
  * candidates — the engine-wide zero-norm rule; the tuple array unpacks
  * once per generated class into parallel weight/constant arrays, so no
  * row touches a tuple or unboxes k_q. Scores bit-equal to the retired
  * UDF (x96's byte-parity gate, AnnSq8Spec, the IVF-SQ index spec). */
private[similarity] object SqCosine extends Kernel("sq_cosine",
    Seq(BinaryType, DoubleType, IntegerType),
    "(binary codes, double dnorm, int qi)", DoubleType, NullRule.Flagged,
    Seq("double[][]", "double[]")) {

  def apply(codes: Expression, dnorm: Expression, qi: Expression,
      weights: Broadcast[Array[(Array[Double], Double)]]): Expression =
    KernelExpression(this, Seq(codes, dnorm, qi), Seq(weights))

  override def state(bcs: Seq[Broadcast[_]]): Seq[AnyRef] = {
    val t = bcs.head.value.asInstanceOf[Array[(Array[Double], Double)]]
    Seq(t.map(_._1), t.map(_._2))
  }

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[Array[Byte]], in(1).asInstanceOf[Double],
      in(2).asInstanceOf[Int], st(0).asInstanceOf[Array[Array[Double]]],
      st(1).asInstanceOf[Array[Double]], st(2).asInstanceOf[Array[Boolean]])

  def kernel(codes: Array[Byte], dnorm: Double, qi: Int, ws: Array[Array[Double]],
      kqs: Array[Double], isNull: Array[Boolean]): Double = {
    isNull(0) = dnorm == 0.0
    if (isNull(0)) return 0.0
    val w = ws(qi)
    var s = kqs(qi); var j = 0
    while (j < codes.length) { s += w(j) * (codes(j) & 0xFF); j += 1 }
    s / dnorm
  }
}
