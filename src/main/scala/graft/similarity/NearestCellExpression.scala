package graft.similarity

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The flat IVF nearest-cell argmin as a native codegen'd expression —
  * the ONE full-corpus pass of every cell-partitioned operation
  * (semanticDedup, IvfIndex build·append·search under every codec,
  * SemDeDupIndex, embedding-centroid assignment).
  *
  * Why an Expression and not the scalar `Seq[Double] => Int` UDF it
  * replaces: the UDF paid a Catalyst→Scala Seq conversion per corpus
  * row plus closure dispatch, and broke whole-stage fusion around the
  * assignment projection — on the only operator family whose per-row
  * work is a dense k×d loop, the conversion overhead is a material
  * fraction at small k. The expression reads the vector once via
  * `ArrayData.toDoubleArray` (bulk copy), resolves the broadcast
  * centroid matrix once per generated class, and runs the IDENTICAL
  * arithmetic in the identical order — statement-for-statement the old
  * kernel, so scores and cells are bit-equal (SemanticDedupSpec's
  * routed ≡ flat bit-equality test and the x45/x59/x84/x96 byte-parity
  * gates all pin this; doubles in Java evaluate in program order, so
  * codegen cannot reassociate the sums).
  *
  * Scoring form ([[NearestCellScored]]) returns the argmin's own key —
  * ||cen||² − 2·(v·cen)/||v|| — alongside the cell, for the
  * farthest-survivor policy and scored index appends. Zero vectors
  * pass through unnormalized (inv = 1), matching `Ann.withNorm`. */
private[graft] case class NearestCell(child: Expression,
    cents: Broadcast[Array[Array[Double]]], cn2: Broadcast[Array[Double]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell needs an array<double> input, got $t")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "nearest_cell"

  override protected def nullSafeEval(v: Any): Any =
    NearestCell.kernel(v.asInstanceOf[ArrayData].toDoubleArray(),
      cents.value, cn2.value)._1

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val (centsVar, cn2Var) = NearestCell.genState(ctx, cents, cn2)
      val (body, best, _) = NearestCell.genKernel(ctx, v, centsVar, cn2Var)
      s"""
         |$body
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[NearestCell]] returning struct<cell:int, score:double>. */
private[graft] case class NearestCellScored(child: Expression,
    cents: Broadcast[Array[Array[Double]]], cn2: Broadcast[Array[Double]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell_scored needs an array<double> input, got $t")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  override def prettyName: String = "nearest_cell_scored"

  override protected def nullSafeEval(v: Any): Any = {
    val (cell, score) = NearestCell.kernel(
      v.asInstanceOf[ArrayData].toDoubleArray(), cents.value, cn2.value)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](cell, score))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val (centsVar, cn2Var) = NearestCell.genState(ctx, cents, cn2)
      val (body, best, bs) = NearestCell.genKernel(ctx, v, centsVar, cn2Var)
      val rowCls =
        "org.apache.spark.sql.catalyst.expressions.GenericInternalRow"
      s"""
         |$body
         |${ev.value} = new $rowCls(new Object[]{$best, $bs});
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

private[similarity] object NearestCell {

  /** The exact arithmetic of the retired UDF kernel, statement for
    * statement — shared by the interpreted path and (as generated Java)
    * the codegen path. */
  def kernel(a: Array[Double], cents: Array[Array[Double]],
      cn2: Array[Double]): (Int, Double) = {
    var d = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * a(i); i += 1 }
    val inv = if (d > 0.0) 1.0 / math.sqrt(d) else 1.0
    var best = 0; var bs = Double.MaxValue; var ci = 0
    while (ci < cents.length) {
      val cen = cents(ci)
      var dp = 0.0; var j = 0
      while (j < cen.length) { dp += a(j) * cen(j); j += 1 }
      val s = cn2(ci) - 2.0 * dp * inv
      if (s < bs) { bs = s; best = ci }
      ci += 1
    }
    (best, bs)
  }

  /** Per-class broadcast resolution: the centroid matrix and its norms
    * materialize once per generated class, not per row. */
  def genState(ctx: CodegenContext,
      cents: Broadcast[Array[Array[Double]]],
      cn2: Broadcast[Array[Double]]): (String, String) = {
    val bcName = classOf[Broadcast[_]].getName
    val centsRef = ctx.addReferenceObj("centsBc", cents, bcName)
    val cn2Ref = ctx.addReferenceObj("cn2Bc", cn2, bcName)
    val centsVar = ctx.addMutableState("double[][]", "nearestCents",
      v => s"$v = (double[][]) $centsRef.value();")
    val cn2Var = ctx.addMutableState("double[]", "nearestCn2",
      v => s"$v = (double[]) $cn2Ref.value();")
    (centsVar, cn2Var)
  }

  /** Generated-Java mirror of [[kernel]]; returns (code, bestVar,
    * bestScoreVar). */
  def genKernel(ctx: CodegenContext, v: String, centsVar: String,
      cn2Var: String): (String, String, String) = {
    val a = ctx.freshName("a")
    val d = ctx.freshName("d")
    val inv = ctx.freshName("inv")
    val best = ctx.freshName("best")
    val bs = ctx.freshName("bs")
    val ci = ctx.freshName("ci")
    val cen = ctx.freshName("cen")
    val dp = ctx.freshName("dp")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val s = ctx.freshName("s")
    val code =
      s"""
         |double[] $a = $v.toDoubleArray();
         |double $d = 0.0;
         |for (int $i = 0; $i < $a.length; $i++) { $d += $a[$i] * $a[$i]; }
         |double $inv = ($d > 0.0) ? 1.0 / java.lang.Math.sqrt($d) : 1.0;
         |int $best = 0;
         |double $bs = Double.MAX_VALUE;
         |for (int $ci = 0; $ci < $centsVar.length; $ci++) {
         |  double[] $cen = $centsVar[$ci];
         |  double $dp = 0.0;
         |  for (int $j = 0; $j < $cen.length; $j++) { $dp += $a[$j] * $cen[$j]; }
         |  double $s = $cn2Var[$ci] - 2.0 * $dp * $inv;
         |  if ($s < $bs) { $bs = $s; $best = $ci; }
         |}
       """.stripMargin
    (code, best, bs)
  }
}
