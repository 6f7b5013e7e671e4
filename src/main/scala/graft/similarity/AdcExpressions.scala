package graft.similarity

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The PQ asymmetric-distance (ADC) scorer as a native codegen'd
  * expression — the per-candidate inner loop of every PQ/IVFADC scan
  * ([[Ann.pqTopK]], [[Ann.ivfPqTopK]], [[IvfIndex.search]] over
  * [[CellCodec.Pq]]).
  *
  * Why an Expression and not the scalar UDF it replaces: the scorer
  * runs once per (candidate, query) row of the scan — the single
  * hottest loop of ANN serving — and its kernel is only m (=8) array
  * adds, so the UDF's per-row `Seq[Int]` conversion and closure
  * dispatch were a material fraction of scan cost, and the converter
  * boundary split the scan's codegen stage. The expression reads the
  * code array directly (no conversion), resolves the broadcast
  * distance-table matrix once per generated class, and mirrors the
  * retired kernel statement for statement — scores bit-equal (the
  * x58/x59 byte-parity gates and the OPQ and IVF-PQ index specs pin it).
  *
  * `dtabs(qi)` is the flattened m×ksub table of query `qi` (the
  * [[Ann.indexedDtabs]] layout; kk = len/m recovers ksub). */
private[similarity] case class AdcScore(left: Expression, right: Expression,
    dtabs: Broadcast[Array[Array[Double]]]) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_score needs (array<int> codes, int qi), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "adc_score"

  override protected def nullSafeEval(codesAny: Any, qiAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val dtab = dtabs.value(qiAny.asInstanceOf[Int])
    val m = codes.numElements()
    val kk = dtab.length / m
    var s = 0.0; var j = 0
    while (j < m) { s += dtab(j * kk + codes.getInt(j)); j += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcName = classOf[Broadcast[_]].getName
    val bcRef = ctx.addReferenceObj("dtabsBc", dtabs, bcName)
    val tabs = ctx.addMutableState("double[][]", "adcDtabs",
      v => s"$v = (double[][]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, (codes, qi) => {
      val dtab = ctx.freshName("dtab")
      val m = ctx.freshName("m")
      val kk = ctx.freshName("kk")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      s"""
         |double[] $dtab = $tabs[$qi];
         |int $m = $codes.numElements();
         |int $kk = $dtab.length / $m;
         |double $s = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $s += $dtab[$j * $kk + $codes.getInt($j)];
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The SQ8 query-weight dot scorer as a native codegen'd expression —
  * the per-candidate inner loop of the SQ8 scans ([[Ann.sqTopK]],
  * [[IvfIndex.search]] over [[CellCodec.Sq8]]). Same rationale as [[AdcScore]]; the kernel
  * is d byte-unmask-multiply-adds against the query's weight vector
  * (wⱼ = qⱼ·stepⱼ, constant k_q = Σ qⱼ·minⱼ — the
  * [[Ann.indexedSqWeights]] layout), and the score divides by the
  * candidate's decoded norm. NULL (not NaN/Inf) for zero-norm
  * candidates — the engine-wide zero-norm rule; the tuple array
  * unpacks once per generated class into parallel weight/constant
  * arrays. Scores bit-equal to the retired UDF (x96's byte-parity
  * gate, AnnSq8Spec, the IVF-SQ index spec). */
private[similarity] case class SqCosine(first: Expression,
    second: Expression, third: Expression,
    weights: Broadcast[Array[(Array[Double], Double)]])
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (BinaryType, DoubleType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"sq_cosine needs (binary codes, double dnorm, int qi), " +
          s"got ($a, $b, $c)")
    }

  override def dataType: DataType = DoubleType

  // null also for zero-norm candidates, not only null inputs
  override def nullable: Boolean = true

  override def prettyName: String = "sq_cosine"

  override protected def nullSafeEval(codesAny: Any, dnormAny: Any,
      qiAny: Any): Any = {
    val dnorm = dnormAny.asInstanceOf[Double]
    if (dnorm == 0.0) null
    else {
      val (w, kq) = weights.value(qiAny.asInstanceOf[Int])
      val codes = codesAny.asInstanceOf[Array[Byte]]
      var s = kq; var j = 0
      while (j < codes.length) { s += w(j) * (codes(j) & 0xFF); j += 1 }
      s / dnorm
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcName = classOf[Broadcast[_]].getName
    val bcRef = ctx.addReferenceObj("sqWeightsBc", weights, bcName)
    // unpack the Tuple2 array ONCE per generated class into parallel
    // primitive arrays — no per-row tuple access or kq unboxing
    val ws = ctx.addMutableState("double[][]", "sqWs")
    val kqs = ctx.addMutableState("double[]", "sqKqs",
      v => s"""
         |scala.Tuple2[] sqTuples = (scala.Tuple2[]) $bcRef.value();
         |$ws = new double[sqTuples.length][];
         |$v = new double[sqTuples.length];
         |for (int sqI = 0; sqI < sqTuples.length; sqI++) {
         |  $ws[sqI] = (double[]) sqTuples[sqI]._1();
         |  $v[sqI] = ((java.lang.Double) sqTuples[sqI]._2()).doubleValue();
         |}
       """.stripMargin)
    nullSafeCodeGen(ctx, ev, (codes, dnorm, qi) => {
      val w = ctx.freshName("w")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      s"""
         |if ($dnorm == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $w = $ws[$qi];
         |  double $s = $kqs[$qi];
         |  for (int $j = 0; $j < $codes.length; $j++) {
         |    $s += $w[$j] * ($codes[$j] & 0xFF);
         |  }
         |  ${ev.value} = $s / $dnorm;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
