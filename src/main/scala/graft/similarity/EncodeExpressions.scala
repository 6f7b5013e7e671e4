package graft.similarity

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** The PQ / SQ8 corpus ENCODERS as native codegen'd expressions — the
  * build-time complement of [[AdcScore]]/[[SqCosine]] (round-17
  * addendum 11 named them the next candidates). The encode runs once
  * per corpus row of every PQ/IVFADC/SQ8 build, append and compact
  * pass; as scalar UDFs each row paid a Catalyst→`Seq[Double]`
  * conversion (boxing every component) plus closure dispatch, and the
  * converter boundary split the encode stage's codegen. The kernels
  * below read the vector's primitive array straight off the unsafe row
  * (`ArrayData.toDoubleArray`), mirror the retired UDF bodies statement
  * for statement (normalize in-register, zero-vector passthrough, the
  * same argmin / clamp arithmetic), and resolve the broadcast quantizer
  * once per generated class — codes bit-equal, pinned by the
  * x45/x58/x59/x96 byte-parity gates and the PQ/SQ suites.
  *
  * The per-row work is a d×ksub (PQ) / d (SQ) loop, so the generated
  * code calls a compiled kernel (one static call per row, JIT-inlined)
  * rather than inlining the loop text — the AdcScore discipline of
  * keeping generated methods small, at zero per-row cost. */
private[similarity] object EncodeKernels {
  /** PQ: normalize in-register and argmin each subspace against its
    * codebook. Mirrors the retired pqEncodeUdf body exactly. */
  def pqEncode(v: ArrayData, bks: Array[Array[Array[Double]]]): ArrayData = {
    val a = v.toDoubleArray()
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * a(i); i += 1 }
    val inv = if (d > 0.0) 1.0 / math.sqrt(d) else 1.0
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

  /** SQ8: normalize in-register, clamp-quantize each dimension to one
    * byte, carry the decoded norm. Mirrors the retired sqEncodeUdf body
    * exactly (including the loud dimension guard). */
  def sqEncode(v: ArrayData, mins: Array[Double],
      steps: Array[Double]): InternalRow = {
    val a = v.toDoubleArray()
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * a(i); i += 1 }
    val inv = if (d > 0.0) 1.0 / math.sqrt(d) else 1.0
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
  * column it replaces. Why an expression and not that literal form:
  * at d = 64 the inlined form is 64 codegen'd loops over 64-element
  * literal arrays in ONE generated method — measured 10,096 bytecodes
  * fused into x89's ADC scan span, over HotSpot's 8,000-bytecode
  * DontCompileHugeMethods cliff, so the whole per-(cand,query) scan
  * loop ran INTERPRETED (the round-16 ~15x hazard; round-17's one
  * bench regression). This form is one static kernel call per row.
  *
  * A NULL input vector gives a NULL output (UnaryExpression null
  * propagation), where the literal form gives an array of d NULLs —
  * the one input on which the two differ; AnnOpqSpec pins it. Embeddings
  * on the ANN paths are non-null. */
private[similarity] case class RotateVec(child: Expression,
    rot: Broadcast[Array[Array[Double]]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"rotate_vec needs array<double>, got $t")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "rotate_vec"

  override protected def nullSafeEval(vAny: Any): Any =
    RotateVec.kernel(vAny.asInstanceOf[ArrayData], rot.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcName = classOf[Broadcast[_]].getName
    val bcRef = ctx.addReferenceObj("rotBc", rot, bcName)
    val rotRef = ctx.addMutableState("double[][]", "rotRows",
      v => s"$v = (double[][]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.similarity.RotateVec.kernel($v, $rotRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

private[similarity] object RotateVec {
  /** Mirrors ArrayDot.nullSafeEval row by row: min-length prefix,
    * null elements skipped, sequential accumulation. */
  def kernel(v: ArrayData, rot: Array[Array[Double]]): ArrayData = {
    val out = new Array[Double](rot.length)
    var i = 0
    while (i < rot.length) {
      val row = rot(i)
      val n = math.min(v.numElements(), row.length)
      var s = 0.0
      var t = 0
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

/** array<double> vector → array<int> PQ codes against the broadcast
  * codebooks. See [[EncodeKernels.pqEncode]]. */
private[similarity] case class PqEncode(child: Expression,
    books: Broadcast[Array[Array[Array[Double]]]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode needs array<double>, got $t")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(vAny: Any): Any =
    EncodeKernels.pqEncode(vAny.asInstanceOf[ArrayData], books.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcName = classOf[Broadcast[_]].getName
    val bcRef = ctx.addReferenceObj("pqBooksBc", books, bcName)
    val bks = ctx.addMutableState("double[][][]", "pqBooks",
      v => s"$v = (double[][][]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.similarity.EncodeKernels.pqEncode($v, $bks);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<double> vector → struct<_1: binary codes, _2: double decoded
  * norm> against the broadcast (mins, steps) scalar quantizer. Field
  * names mirror the retired UDF's Tuple2 encoding so call sites
  * (`sq._1` / `sq._2`) are untouched. See [[EncodeKernels.sqEncode]]. */
private[similarity] case class SqEncode(child: Expression,
    quant: Broadcast[(Array[Double], Array[Double])]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sq_encode needs array<double>, got $t")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("_1", BinaryType, nullable = false),
    StructField("_2", DoubleType, nullable = false)))

  override def prettyName: String = "sq_encode"

  override protected def nullSafeEval(vAny: Any): Any = {
    val (mins, steps) = quant.value
    EncodeKernels.sqEncode(vAny.asInstanceOf[ArrayData], mins, steps)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcName = classOf[Broadcast[_]].getName
    val bcRef = ctx.addReferenceObj("sqQuantBc", quant, bcName)
    val mins = ctx.addMutableState("double[]", "sqMins")
    val steps = ctx.addMutableState("double[]", "sqSteps",
      v => s"""
         |scala.Tuple2 sqQuant = (scala.Tuple2) $bcRef.value();
         |$mins = (double[]) sqQuant._1();
         |$v = (double[]) sqQuant._2();
       """.stripMargin)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.similarity.EncodeKernels.sqEncode($v, $mins, $steps);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
