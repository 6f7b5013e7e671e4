package graft.opt

import breeze.linalg.{diag, DenseMatrix, DenseVector}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mean-variance portfolio construction (SURVEY.md §2.8 N1-N5):
  * per-date covariance assembly Σ = B F Bᵀ + D², a long-only
  * simplex-constrained QP, λ calibration to a target active risk, and the
  * per-date fan-out.
  *
  * Replaces the reference's cvxpy + Ray stack
  * (/root/reference/pipelines/utils/portfolio.py,
  * utils/covariance_matrix.py, portfolio_weights_flow.py:17-60):
  *  - QP max wᵀα − ½λ wᵀΣw s.t. Σw = 1, w ≥ 0 — FISTA with adaptive
  *    restart and exact Euclidean simplex projection, stopped on a
  *    measured fixed-point residual (deterministic, no external solver);
  *  - Σ is never materialised: [[FactorSigma]] keeps B (n×k), F (k×k) and
  *    d² and applies Σv = B(F(Bᵀv)) + d²∘v in O(nk + k²) per matvec
  *    instead of O(n²) — about 45× fewer flops at the reference's
  *    N ≈ 500, K = 5;
  *  - λ loop: start at 100, refit M = (X·σ)/(X·X) with X = 1/(2λ), predict
  *    λ = M/(2·target); ≤5 iterations, tolerance 0.005 — exactly the
  *    reference's schedule (portfolio.py:90-121);
  *  - fan-out: the five inputs are grouped per date with collect_list and
  *    joined on date, then each date's QP runs inside an executor task —
  *    Spark's shuffle replaces Ray's object store; dates are the natural
  *    parallel axis (N≈500 per date is a driver-free, task-local solve).
  */
object PortfolioOptimizer {

  /** Σ = B·F·Bᵀ + diag(d²) in factored form: `b` is n×k row-major, `f`
    * k×k row-major, `d2` the n idiosyncratic variances. Not thread-safe
    * (two k-length scratch vectors); one instance per date's solve. */
  private[graft] final class FactorSigma(
      val n: Int, val k: Int,
      b: Array[Double], f: Array[Double], d2: Array[Double]) {
    require(b.length == n * k && f.length == k * k && d2.length == n,
      s"factor shapes: b ${b.length} != $n×$k, f ${f.length} != $k×$k, d2 ${d2.length} != $n")
    private val btv = new Array[Double](k)
    private val fbtv = new Array[Double](k)

    /** out = Σ·v, O(nk + k²). `out` must not alias `v`. */
    def times(v: Array[Double], out: Array[Double]): Unit = {
      java.util.Arrays.fill(btv, 0.0)
      var i = 0
      while (i < n) {
        val vi = v(i)
        val row = i * k
        var a = 0
        while (a < k) { btv(a) += b(row + a) * vi; a += 1 }
        i += 1
      }
      var a = 0
      while (a < k) {
        var s = 0.0
        var c = 0
        while (c < k) { s += f(a * k + c) * btv(c); c += 1 }
        fbtv(a) = s
        a += 1
      }
      i = 0
      while (i < n) {
        val row = i * k
        var s = 0.0
        a = 0
        while (a < k) { s += b(row + a) * fbtv(a); a += 1 }
        out(i) = s + d2(i) * v(i)
        i += 1
      }
    }

    /** ‖Σ‖∞, the max row sum of |Σ_ij| over the exact dense entries,
      * read column by column as Σe_j — O(n²k); [[QpKernel]] takes it
      * once per date and every λ refit's step size shares it. A plain
      * method on purpose: as a lazy val initializer the same O(n²k) loop
      * ran ~70× slower (JDK 17 HotSpot). */
    def normInf(): Double = {
      val e = new Array[Double](n)
      val col = new Array[Double](n)
      val rowSums = new Array[Double](n)
      var j = 0
      while (j < n) {
        e(j) = 1.0
        times(e, col)
        e(j) = 0.0
        var i = 0
        while (i < n) { rowSums(i) += math.abs(col(i)); i += 1 }
        j += 1
      }
      rowSums.foldLeft(0.0)(math.max)
    }
  }

  /** Euclidean projection of `v` onto the probability simplex into `out`
    * (Duchi et al. 2008, "Efficient Projections onto the l1-Ball" —
    * public algorithm). `sorted` is n-length scratch: an ascending
    * primitive sort scanned in reverse gives the descending order. */
  private[graft] def projectSimplex(
      v: Array[Double], out: Array[Double], sorted: Array[Double]): Unit = {
    val n = v.length
    System.arraycopy(v, 0, sorted, 0, n)
    java.util.Arrays.sort(sorted)
    var cssv = 0.0
    var theta = 0.0
    var i = 0
    while (i < n) {
      val u = sorted(n - 1 - i)
      cssv += u
      val t = (cssv - 1.0) / (i + 1)
      if (u - t > 0) theta = t
      i += 1
    }
    i = 0
    while (i < n) { out(i) = math.max(v(i) - theta, 0.0); i += 1 }
  }

  /** QP solve outcome: weights + an explicit convergence signal (the
    * projected-gradient fixed-point residual at the returned iterate). */
  private[graft] final case class QpResult(
      w: Array[Double], converged: Boolean, iterations: Int,
      residual: Double)

  /** One λ solve of the [[solveDynamic]] loop: its active risk, FISTA
    * iteration count, fixed-point residual and convergence flag. */
  private[graft] final case class LambdaStep(
      lambda: Double, risk: Double, iterations: Int, residual: Double,
      converged: Boolean)

  /** [[solveDynamic]] outcome. `converged` is true only if EVERY inner QP
    * solve hit its fixed-point tolerance, since each solve's risk feeds
    * the λ refit (an unconverged intermediate solve contaminates the
    * calibration even if the last one converges). */
  private[graft] final case class Calibrated(
      w: Array[Double], lambda: Double, risk: Double, converged: Boolean,
      history: Seq[LambdaStep])

  /** N2/N4 for one date: the long-only QP and the active risk over a
    * [[FactorSigma]], with every work array allocated once and reused by
    * all of the date's λ refits. Not thread-safe. */
  private[graft] final class QpKernel(sigma: FactorSigma, alphas: Array[Double]) {
    private val n = sigma.n
    require(alphas.length == n, s"alphas ${alphas.length} != n $n")
    // Lipschitz bound for the gradient is λ·‖Σ‖∞; floored so Σ = 0 stays finite
    private val lmax = math.max(sigma.normInf(), 1e-12)
    private var w = new Array[Double](n)
    private var wPrev = new Array[Double](n)
    private var wNext = new Array[Double](n)
    private val y = new Array[Double](n)
    private val sv = new Array[Double](n)
    private val g = new Array[Double](n)
    private val sorted = new Array[Double](n)

    /** out = P(v + (α − λΣv)·step). */
    private def pgStep(v: Array[Double], lambda: Double, step: Double,
        out: Array[Double]): Unit = {
      sigma.times(v, sv)
      var i = 0
      while (i < n) { g(i) = v(i) + (alphas(i) - sv(i) * lambda) * step; i += 1 }
      projectSimplex(g, out, sorted)
    }

    /** ‖P(w + s∇f(w)) − w‖∞, computed into the free `wNext` buffer. */
    private def fixedPointResidual(lambda: Double, step: Double): Double = {
      pgStep(w, lambda, step, wNext)
      var r = 0.0
      var i = 0
      while (i < n) { r = math.max(r, math.abs(wNext(i) - w(i))); i += 1 }
      r
    }

    /** N2: long-only QP via FISTA (accelerated projected gradient with
      * adaptive restart, O'Donoghue & Candès 2015 — public algorithm).
      *
      * Convergence is MEASURED, not assumed: w* is optimal iff it is a
      * fixed point of the projected-gradient map, so we stop when
      * ||P(w + s∇f(w)) − w||∞ ≤ tol and report the residual either way.
      * For ill-conditioned Σ or large calibrated λ the caller sees
      * `converged=false` instead of silently consuming a far-from-optimal
      * iterate after `maxIter` steps. */
    def solve(lambda: Double, maxIter: Int = 4000, tol: Double = 1e-7): QpResult = {
      val step = 1.0 / (lambda * lmax + 1e-12)
      java.util.Arrays.fill(w, 1.0 / n)
      System.arraycopy(w, 0, wPrev, 0, n)
      System.arraycopy(w, 0, y, 0, n)
      var t = 1.0
      var it = 0
      var residual = Double.PositiveInfinity
      var converged = false
      while (it < maxIter && !converged) {
        pgStep(y, lambda, step, wNext)
        // adaptive restart: kill momentum when it points against the step
        var mom = 0.0
        var i = 0
        while (i < n) { mom += (wNext(i) - w(i)) * (w(i) - wPrev(i)); i += 1 }
        val momAgainst = mom < 0.0
        val tNext = if (momAgainst) 1.0 else (1.0 + math.sqrt(1.0 + 4.0 * t * t)) / 2.0
        val beta = if (momAgainst) 0.0 else (t - 1.0) / tNext
        var moved = 0.0
        i = 0
        while (i < n) {
          val d = wNext(i) - w(i)
          y(i) = wNext(i) + d * beta
          moved += d * d
          i += 1
        }
        // rotate buffers: wPrev ← w, w ← wNext, the old wPrev is scratch
        val free = wPrev
        wPrev = w
        w = wNext
        wNext = free
        t = tNext
        it += 1
        // two triggers for the true fixed-point residual (one extra matvec):
        // the iterate barely moved, OR a periodic heartbeat — without the
        // heartbeat a slowly-creeping iterate never gets its residual
        // measured and the loop always burns the whole budget
        if (math.sqrt(moved) <= tol * 10.0 || it % 50 == 0) {
          residual = fixedPointResidual(lambda, step)
          if (residual <= tol) converged = true
        }
      }
      if (!converged) residual = fixedPointResidual(lambda, step)
      QpResult(w.clone(), converged || residual <= tol, it, residual)
    }

    /** N4: annualized active risk √(wₐᵀ Σ wₐ)·√252 with wₐ = w − benchmark. */
    def activeRisk(weights: Array[Double], benchmark: Array[Double]): Double = {
      var i = 0
      while (i < n) { g(i) = weights(i) - benchmark(i); i += 1 }
      sigma.times(g, sv)
      var q = 0.0
      i = 0
      while (i < n) { q += g(i) * sv(i); i += 1 }
      math.sqrt(math.max(q, 0.0)) * math.sqrt(252.0)
    }
  }

  /** N1 as a dense Breeze matrix Σ = B F Bᵀ + D². The QP never builds
    * it (see [[FactorSigma]]); it is the reference the [[factorRiskMatrix]]
    * and [[FactorSigma]] specs compare against. */
  private[graft] def covarianceMatrix(
      b: DenseMatrix[Double],
      f: DenseMatrix[Double],
      idio: DenseVector[Double]): DenseMatrix[Double] =
    b * f * b.t + diag(idio *:* idio)

  /** N1 in DISTRIBUTED long form: Σ_ij = Σ_kl B_ik F_kl B_jl + 1[i=j]·dᵢ²
    * as two joins + aggregates over long frames — the scale path when the
    * asset universe is too large for a dense in-core matrix. (The per-date
    * QP fan-out keeps Σ factored in-task as [[FactorSigma]]; this form
    * shards the N² output over the cluster and never materializes it on
    * one host.)
    *
    * Plan shape, default (`saltBuckets = 0`): A = B·F via a broadcast join
    * on the K² covariance relation + one hash aggregate keyed
    * (ticker, factor); then BOTH sides collapse to per-ticker K-vectors
    * (N compact rows each) and Σ streams as ONE codegen'd [[ArrayDot]]
    * pass over the N² pair product with the B-vector side broadcast — no
    * N²·K-row exchange ever materializes (measured ~70× the relational
    * contraction at N = 8000 on local[8]; BASELINE.md). Broadcast
    * feasibility bounds
    * this path at roughly N ≲ 10⁶ (K·N doubles ≈ 40 MB at K = 5).
    *
    * Past that, pass `saltBuckets > 0` for the fully-relational
    * contraction: the A·Bᵀ join keys on `factor` (K distinct values), so
    * its parallelism is K-bounded and each factor key spreads over
    * `saltBuckets` reducers ([[graft.ops.Skew.saltedJoin]] — identical
    * result, K×buckets-way parallel, no broadcast of either side). The N²
    * blow-up itself is inherent to a dense Σ — bound the universe or
    * consume the pair stream incrementally.
    *
    * Like the in-core kernel, `loadings` must cover the full ticker×factor
    * grid (the default path aligns K-vectors positionally by sorted
    * factor; a ticker missing a factor would mis-align — fill zeros
    * upstream, exactly as the dense matrix form requires).
    *
    * @param loadings    (ticker, factor, loading)
    * @param covariances (factor_1, factor_2, covariance) — full K×K grid
    * @param idioVol     (ticker, idio_vol)
    * @return (ticker_1, ticker_2, sigma) — the full dense pair grid
    */
  def factorRiskMatrix(
      loadings: DataFrame,
      covariances: DataFrame,
      idioVol: DataFrame,
      saltBuckets: Int = 0): DataFrame = {
    val s = loadings.sparkSession
    import s.implicits._
    val a = loadings
      .select($"ticker".as("ticker_1"), $"factor".as("factor_1"), $"loading".as("b1"))
      .join(broadcast(covariances.select($"factor_1", $"factor_2", $"covariance")),
        Seq("factor_1"))
      .groupBy($"ticker_1", $"factor_2")
      .agg(sum($"b1" * $"covariance").as("a"))
    val pairs =
      if (saltBuckets > 0) {
        val l2 = loadings
          .select($"factor".as("factor_2"), $"ticker".as("ticker_2"), $"loading".as("b2"))
        graft.ops.Skew.saltedJoin(a, l2, Seq("factor_2"), saltBuckets)
          .groupBy($"ticker_1", $"ticker_2")
          .agg(sum($"a" * $"b2").as("sigma_f"))
      } else {
        // per-ticker K-vectors, factor-sorted on both sides so positions
        // align; the interpreted transform() runs on N rows, not N² —
        // the N² hot loop below is the native codegen'd dot
        val aV = a.groupBy($"ticker_1").agg(
          transform(sort_array(collect_list(struct($"factor_2", $"a"))),
            x => x.getField("a")).as("av"))
        val bV = loadings.groupBy($"ticker").agg(
          transform(sort_array(collect_list(struct($"factor", $"loading"))),
            x => x.getField("loading")).as("bv"))
          .select($"ticker".as("ticker_2"), $"bv")
        aV.crossJoin(broadcast(bV))
          .select($"ticker_1", $"ticker_2",
            graft.functions.VectorFunctions.dot($"av", $"bv").as("sigma_f"))
      }
    pairs
      .join(idioVol.select($"ticker".as("ticker_1"), $"idio_vol"),
        Seq("ticker_1"), "left")
      .withColumn("sigma", $"sigma_f" +
        when($"ticker_1" === $"ticker_2" && $"idio_vol".isNotNull,
          $"idio_vol" * $"idio_vol").otherwise(lit(0.0)))
      .select($"ticker_1", $"ticker_2", $"sigma")
  }

  /** N3: the reference's λ calibration loop (portfolio.py:90-121), one
    * [[QpKernel]] shared by every refit.
    * @return the final weights, λ and risk, plus every solve's
    *         (λ, risk, FISTA iterations, residual) in order. */
  private[graft] def solveDynamic(
      alphas: Array[Double],
      sigma: FactorSigma,
      benchmark: Array[Double],
      targetActiveRisk: Double = 0.05): Calibrated = {
    val error = 0.005
    val maxIterations = 5
    val kernel = new QpKernel(sigma, alphas)
    var lambda = Double.NaN
    var risk = Double.PositiveInfinity
    var w: Array[Double] = null
    var iterations = 1
    val hist = scala.collection.mutable.ArrayBuffer.empty[LambdaStep]
    var stop = false
    while (!stop && math.abs(risk - targetActiveRisk) > error) {
      lambda =
        if (lambda.isNaN) 100.0
        else {
          // fit σ ≈ M·X, X = 1/(2λ); λ_next = M / (2·target)
          val xs = hist.map(h => 1.0 / (2.0 * h.lambda))
          val ss = hist.map(_.risk)
          val m = xs.zip(ss).map { case (x, s) => x * s }.sum /
            xs.map(x => x * x).sum
          m / (2.0 * targetActiveRisk)
        }
      val qp = kernel.solve(lambda)
      w = qp.w
      risk = kernel.activeRisk(w, benchmark)
      hist += LambdaStep(lambda, risk, qp.iterations, qp.residual, qp.converged)
      if (iterations >= maxIterations) stop = true else iterations += 1
    }
    Calibrated(w, lambda, risk, hist.forall(_.converged), hist.toSeq)
  }

  private val outSchema = StructType(Seq(
    StructField("date", DateType),
    StructField("ticker", StringType),
    StructField("weight", DoubleType),
    StructField("lambda", DoubleType),
    StructField("active_risk", DoubleType),
    StructField("qp_converged", BooleanType),
    StructField("is_metric", BooleanType)))

  /** N5: per-date optimization fan-out. Groups the five inputs by date (one
    * shuffle each), joins the per-date bundles, and solves each date's QP in
    * an executor task — the Spark-native analogue of the reference's Ray
    * task-per-date with object-store broadcast.
    *
    * Alignment mirrors portfolio_weights_flow.py:26-46: the asset axis is
    * the sorted distinct tickers of that date's alphas; loadings/idio/
    * benchmark are aligned by ticker (missing → 0.0); the factor axis is
    * the sorted factor names of that date's covariance slice.
    *
    * Deliberate divergences, degenerate inputs only: a ticker with no
    * loadings row makes the reference's pivot matrix lose a row (numpy
    * shape crash, covariance_matrix.py:8-14) — here it contributes zero
    * loadings; a ticker missing from benchmark weights nulls the
    * reference's active weight and the NaN active risk silently EXITS its
    * λ loop (portfolio.py:66-78,103) — here it counts as benchmark weight
    * 0. On covered dates (alphas ⊆ universe ⊆ benchmark) both behave
    * identically.
    *
    * @return combined frame; split with [[weights]] / [[metrics]].
    */
  def optimizeAllDates(
      alphas: DataFrame,
      benchmarkWeights: DataFrame,
      factorLoadings: DataFrame,
      factorCovariances: DataFrame,
      idioVol: DataFrame,
      targetActiveRisk: Double = 0.05): DataFrame = {
    val s = alphas.sparkSession
    import s.implicits._

    val aG = alphas.groupBy($"date")
      .agg(collect_list(struct($"ticker", $"alpha")).as("alphas"))
    val bG = benchmarkWeights.groupBy($"date")
      .agg(collect_list(struct($"ticker", $"weight")).as("bench"))
    val lG = factorLoadings.groupBy($"date")
      .agg(collect_list(struct($"ticker", $"factor", $"loading")).as("loadings"))
    val cG = factorCovariances.groupBy($"date")
      .agg(collect_list(struct($"factor_1", $"factor_2", $"covariance")).as("covs"))
    val iG = idioVol.groupBy($"date")
      .agg(collect_list(struct($"ticker", $"idio_vol")).as("idios"))

    // Inner joins: a date is optimized only when ALL five inputs cover it.
    // Warmup dates (no covariances/loadings yet) are skipped by design —
    // use [[uncoveredDates]] to audit what was dropped rather than crash
    // mid-fan-out the way the reference's per-date numpy slicing would.
    val bundled = aG.join(bG, Seq("date")).join(lG, Seq("date"))
      .join(cG, Seq("date")).join(iG, Seq("date"))

    bundled.mapPartitions { rows =>
      rows.flatMap { row =>
        val date = row.getAs[java.sql.Date]("date")
        def pairs(field: String, k: String, v: String): Map[String, Double] =
          row.getAs[scala.collection.Seq[Row]](field).map(r =>
            r.getAs[String](k) -> r.getAs[Double](v)).toMap
        val alphaMap = pairs("alphas", "ticker", "alpha")
        val benchMap = pairs("bench", "ticker", "weight")
        val idioMap = pairs("idios", "ticker", "idio_vol")
        val loadRows = row.getAs[scala.collection.Seq[Row]]("loadings")
        val covRows = row.getAs[scala.collection.Seq[Row]]("covs")

        val tickers = alphaMap.keys.toArray.sorted
        val factors = covRows.map(_.getAs[String]("factor_1")).distinct.sorted.toArray
        val n = tickers.length
        val k = factors.length
        if (n == 0 || k == 0) Iterator.empty
        else {
          val tIdx = tickers.zipWithIndex.toMap
          val fIdx = factors.zipWithIndex.toMap
          val b = new Array[Double](n * k)
          loadRows.foreach { r =>
            (tIdx.get(r.getAs[String]("ticker")), fIdx.get(r.getAs[String]("factor"))) match {
              case (Some(ti), Some(fi)) =>
                val v = r.getAs[Any]("loading")
                if (v != null) b(ti * k + fi) = v.asInstanceOf[Double]
              case _ =>
            }
          }
          val f = new Array[Double](k * k)
          covRows.foreach { r =>
            (fIdx.get(r.getAs[String]("factor_1")), fIdx.get(r.getAs[String]("factor_2"))) match {
              case (Some(i), Some(j)) =>
                val v = r.getAs[Any]("covariance")
                if (v != null) f(i * k + j) = v.asInstanceOf[Double]
              case _ =>
            }
          }
          val d2 = tickers.map { t => val d = idioMap.getOrElse(t, 0.0); d * d }
          val alphaV = tickers.map(alphaMap.getOrElse(_, 0.0))
          val benchV = tickers.map(benchMap.getOrElse(_, 0.0))
          val c = solveDynamic(alphaV, new FactorSigma(n, k, b, f, d2),
            benchV, targetActiveRisk)
          val weightRows = tickers.iterator.zipWithIndex.map { case (t, i) =>
            Row(date, t, c.w(i), null, null, null, false)
          }
          weightRows ++ Iterator(Row(date, null, null, c.lambda, c.risk, c.converged, true))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Audit helper: alpha dates that produced no portfolio weights (i.e.
    * dates skipped by the fan-out because another input didn't cover
    * them). Empty means full coverage. */
  def uncoveredDates(alphas: DataFrame, combined: DataFrame): DataFrame =
    alphas.select(col("date")).distinct()
      .join(combined.select(col("date")).distinct(), Seq("date"), "left_anti")

  /** portfolio_weights table rows from the combined fan-out result.
    * Unsorted, like `metrics`: their consumer is the lake upsert, whose
    * merge re-partitions on the primary key. */
  def weights(combined: DataFrame): DataFrame = {
    val s = combined.sparkSession
    import s.implicits._
    combined.filter(!$"is_metric")
      .select($"ticker", $"date", year($"date").as("year"), $"weight")
  }

  /** portfolio_metrics table rows from the combined fan-out result. */
  def metrics(combined: DataFrame): DataFrame = {
    val s = combined.sparkSession
    import s.implicits._
    combined.filter($"is_metric")
      .select($"date", $"lambda", $"active_risk", $"qp_converged")
  }
}
