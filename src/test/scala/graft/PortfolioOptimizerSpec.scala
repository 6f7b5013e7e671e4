package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import java.sql.Date
import graft.opt.PortfolioOptimizer
import graft.opt.PortfolioOptimizer._

/** QP + λ calibration + fan-out: analytic 2-asset solution, constraint
  * properties, λ-monotone risk, the factored Σ against its dense form,
  * KKT optimality at the reference's N ≈ 500 / K = 5 shape, and the
  * per-date distributed fan-out. */
class PortfolioOptimizerSpec extends SparkSpec {
  import spark.implicits._

  private def project(v: Array[Double]): Array[Double] = {
    val out = new Array[Double](v.length)
    projectSimplex(v, out, new Array[Double](v.length))
    out
  }

  private def rowMajor(m: DenseMatrix[Double]): Array[Double] =
    Array.tabulate(m.rows * m.cols)(i => m(i / m.cols, i % m.cols))

  /** A dense Σ written exactly in factored form: B = I, F = Σ, d = 0. */
  private def denseFactored(sigma: DenseMatrix[Double]): FactorSigma = {
    val n = sigma.rows
    new FactorSigma(n, n, rowMajor(DenseMatrix.eye[Double](n)), rowMajor(sigma),
      new Array[Double](n))
  }

  /** m·mᵀ + ridge·I in factored form: B = m, F = I, d² = ridge. */
  private def gramFactored(m: DenseMatrix[Double], ridge: Double): FactorSigma =
    new FactorSigma(m.rows, m.cols, rowMajor(m),
      rowMajor(DenseMatrix.eye[Double](m.cols)), Array.fill(m.rows)(ridge))

  test("simplex projection: sums to 1, non-negative, idempotent on simplex") {
    val rnd = new scala.util.Random(5)
    val random = Seq.fill(20)(Array.fill(10)(rnd.nextGaussian() * 3))
    val edge = Seq(
      Array(0.5, 0.5, 0.5), Array(2.0, 2.0, 0.0), Array(0.3, 0.3, 0.3, 0.3),
      Array(0.7), Array(-4.5), Array(-3.0, -1.0, -2.0), Array(-1.0, -1.0))
    (random ++ edge).foreach { v =>
      val p = project(v)
      assert(approxEqual(p.sum, 1.0, 1e-9), s"${v.toSeq} -> ${p.toSeq}")
      assert(p.forall(_ >= 0.0))
      val p2 = project(p)
      assert(p2.indices.forall(i => math.abs(p2(i) - p(i)) < 1e-9))
    }
    // exact answers: ties split evenly, one asset takes everything, and an
    // all-negative input keeps only what clears θ
    assert(project(Array(0.5, 0.5, 0.5)).forall(x => approxEqual(x, 1.0 / 3, 1e-15)))
    assert(project(Array(2.0, 2.0, 0.0)).toSeq == Seq(0.5, 0.5, 0.0))
    assert(project(Array(0.7)).toSeq == Seq(1.0))
    assert(project(Array(-4.5)).toSeq == Seq(1.0))
    assert(project(Array(-3.0, -1.0, -2.0)).toSeq == Seq(0.0, 1.0, 0.0))
    assert(project(Array(-1.0, -1.0)).toSeq == Seq(0.5, 0.5))
  }

  test("2-asset QP matches the analytic interior solution") {
    // analytic: w1 = ((a1-a2)/λ + s22 - s12) / (s11 + s22 - 2 s12)
    val a = Array(0.03, 0.01)
    val sigma = DenseMatrix((0.04, 0.01), (0.01, 0.09))
    val res = new QpKernel(denseFactored(sigma), a)
      .solve(lambda = 2.0, maxIter = 20000, tol = 1e-12)
    assert(res.converged, s"QP did not converge (residual ${res.residual})")
    assert(approxEqual(res.w(0), 0.818181818182, 1e-6))
    assert(approxEqual(res.w(1), 0.181818181818, 1e-6))
  }

  test("QP respects constraints and risk decreases with λ") {
    val rnd = new scala.util.Random(9)
    val n = 25
    val m = DenseMatrix.fill(n, n)(rnd.nextGaussian() * 0.01)
    val a = Array.fill(n)(rnd.nextGaussian() * 0.02)
    val bench = Array.fill(n)(1.0 / n)
    val kernel = new QpKernel(gramFactored(m, 0.001), a)
    var lastRisk = Double.PositiveInfinity
    Seq(1.0, 10.0, 100.0, 1000.0).foreach { lam =>
      val qp = kernel.solve(lam)
      assert(qp.converged, s"λ=$lam unconverged, residual ${qp.residual}")
      val w = qp.w
      assert(approxEqual(w.sum, 1.0, 1e-8))
      assert(w.forall(_ >= -1e-10))
      val risk = kernel.activeRisk(w, bench)
      assert(risk <= lastRisk + 1e-9, s"risk not decreasing at λ=$lam")
      lastRisk = risk
    }
  }

  test("λ calibration approaches the target active risk") {
    val rnd = new scala.util.Random(4)
    val n = 20
    val m = DenseMatrix.fill(n, n)(rnd.nextGaussian() * 0.01)
    val a = Array.fill(n)(rnd.nextGaussian() * 0.02)
    val bench = Array.fill(n)(1.0 / n)
    val c = solveDynamic(a, gramFactored(m, 0.0005), bench, targetActiveRisk = 0.05)
    assert(approxEqual(c.w.sum, 1.0, 1e-8))
    assert(c.converged, "inner QP solves should converge on a well-conditioned Σ")
    assert(c.lambda > 0)
    // ≤5 iterations: either converged within tolerance or hit the cap —
    // risk must at least be finite and positive
    assert(c.risk > 0 && c.risk.isFinite)
    assert(c.history.nonEmpty && c.history.size <= 5)
    assert(c.history.head.lambda == 100.0)
    assert(c.history.last.lambda == c.lambda && c.history.last.risk == c.risk)
  }

  test("factored Σv and ‖Σ‖∞ equal the dense covarianceMatrix forms") {
    val rnd = new scala.util.Random(11)
    def check(n: Int, k: Int, bMat: DenseMatrix[Double]): Unit = {
      val g = DenseMatrix.fill(k, k)(rnd.nextGaussian())
      val fMat = (g * g.t) * 1e-4
      val d = DenseVector.fill(n)(0.01 + rnd.nextDouble() * 0.02)
      val dense = PortfolioOptimizer.covarianceMatrix(bMat, fMat, d)
      val sigma = new FactorSigma(n, k, rowMajor(bMat), rowMajor(fMat),
        d.toArray.map(x => x * x))
      val out = new Array[Double](n)
      (1 to 5).foreach { _ =>
        val v = DenseVector.fill(n)(rnd.nextGaussian())
        sigma.times(v.toArray, out)
        val want = dense * v
        (0 until n).foreach(i => assert(math.abs(out(i) - want(i)) <= 1e-12,
          s"n=$n k=$k (Σv)($i): ${out(i)} vs ${want(i)}"))
      }
      val rowSums = (0 until n).map(i => (0 until n).map(j => math.abs(dense(i, j))).sum)
      assert(math.abs(sigma.normInf() - rowSums.max) <= 1e-12,
        s"n=$n k=$k ‖Σ‖∞ ${sigma.normInf()} vs ${rowSums.max}")
    }
    check(50, 5, DenseMatrix.fill(50, 5)(rnd.nextGaussian()))
    check(50, 50, DenseMatrix.eye[Double](50))
  }

  test("KKT conditions hold at N = 500, K = 5 against the dense Σ") {
    val rnd = new scala.util.Random(13)
    val n = 500; val k = 5
    val bMat = DenseMatrix.fill(n, k)(rnd.nextGaussian())
    val g = DenseMatrix.fill(k, k)(rnd.nextGaussian())
    val fMat = (g * g.t) * 1e-4 + DenseMatrix.eye[Double](k) * 1e-4
    val d = DenseVector.fill(n)(0.01 + rnd.nextDouble() * 0.02)
    val dense = PortfolioOptimizer.covarianceMatrix(bMat, fMat, d)
    val alphas = Array.fill(n)(rnd.nextGaussian() * 0.02)
    val bench = Array.fill(n)(1.0 / n)
    val c = solveDynamic(alphas,
      new FactorSigma(n, k, rowMajor(bMat), rowMajor(fMat), d.toArray.map(x => x * x)),
      bench)
    assert(c.converged, s"unconverged: ${c.history}")
    val w = DenseVector(c.w)
    assert(approxEqual(c.w.sum, 1.0, 1e-9))
    assert(c.w.forall(_ >= 0.0))
    // a fixed point of w ↦ P(w + s·∇) with residual r ≤ tol puts the
    // gradient α − λΣw within r/s of one level μ on the support and at
    // most r/s above it off the support; s = 1/(λ‖Σ‖∞)
    val normInf = (0 until n).map(i => (0 until n).map(j => math.abs(dense(i, j))).sum).max
    val slack = 2.0 * 1e-7 * c.lambda * normInf + 1e-12
    val grad = DenseVector(alphas) - (dense * w) * c.lambda
    val support = (0 until n).filter(i => c.w(i) > 1e-7)
    assert(support.nonEmpty)
    val onSupp = support.map(grad(_))
    val level = onSupp.min
    assert(onSupp.max - level <= slack, s"support spread ${onSupp.max - level} > $slack")
    (0 until n).filterNot(support.contains).foreach(i =>
      assert(grad(i) <= level + slack, s"off-support grad($i) ${grad(i)} > $level + $slack"))
    // the active risk runs through the same factored matvec
    val active = w - DenseVector(bench)
    val denseRisk = math.sqrt(active dot (dense * active)) * math.sqrt(252.0)
    assert(math.abs(c.risk - denseRisk) <= 1e-12 * denseRisk)
  }

  test("per-date fan-out produces weights + metrics per date") {
    val dates = Seq(Date.valueOf("2024-01-02"), Date.valueOf("2024-01-03"))
    val tickers = Seq("AAA", "BBB", "CCC")
    val factors = Seq("F1", "F2")
    val rnd = new scala.util.Random(8)
    val alphas = for (d <- dates; t <- tickers)
      yield (t, d, rnd.nextGaussian() * 0.01)
    val bench = for (d <- dates; t <- tickers) yield (t, d, 1.0 / 3)
    val loadings = for (d <- dates; t <- tickers; f <- factors)
      yield (t, d, f, rnd.nextGaussian())
    val covs = for (d <- dates; f1 <- factors; f2 <- factors)
      yield (d, f1, f2, if (f1 == f2) 0.0004 else 0.0001)
    val idio = for (d <- dates; t <- tickers) yield (t, d, 0.02)

    val combined = PortfolioOptimizer.optimizeAllDates(
      alphas.toDF("ticker", "date", "alpha"),
      bench.toDF("ticker", "date", "weight"),
      loadings.toDF("ticker", "date", "factor", "loading"),
      covs.toDF("date", "factor_1", "factor_2", "covariance"),
      idio.toDF("ticker", "date", "idio_vol")).cache()

    val w = PortfolioOptimizer.weights(combined).collect()
    val m = PortfolioOptimizer.metrics(combined).collect()
    assert(w.length == dates.length * tickers.length)
    assert(m.length == dates.length)
    assert(m.forall(_.getAs[Boolean]("qp_converged")),
      "fan-out metrics should report QP convergence per date")
    dates.foreach { d =>
      val sum = w.filter(_.getAs[Date]("date") == d).map(_.getAs[Double]("weight")).sum
      assert(approxEqual(sum, 1.0, 1e-6), s"weights at $d sum to $sum")
    }
    assert(w.forall(_.getAs[Double]("weight") >= -1e-9))
  }

  test("distributed factorRiskMatrix matches the Breeze covariance assembly") {
    val rnd = new scala.util.Random(7)
    val n = 12; val k = 4
    val tickers = (0 until n).map(i => f"T$i%02d")
    val factors = (0 until k).map(i => s"F$i")
    val bArr = Array.fill(n, k)(rnd.nextDouble() * 2 - 1)
    // symmetric PSD-ish F = G·Gᵀ scaled
    val g = DenseMatrix.fill(k, k)(rnd.nextDouble() - 0.5)
    val fMat = (g * g.t) * 1e-3
    val dArr = Array.fill(n)(rnd.nextDouble() * 0.05)

    val loadings = (for (i <- 0 until n; j <- 0 until k)
      yield (tickers(i), factors(j), bArr(i)(j))).toDF("ticker", "factor", "loading")
    val covs = (for (a <- 0 until k; c <- 0 until k)
      yield (factors(a), factors(c), fMat(a, c))).toDF("factor_1", "factor_2", "covariance")
    val idio = tickers.zip(dArr).toDF("ticker", "idio_vol")

    val expected = PortfolioOptimizer.covarianceMatrix(
      new DenseMatrix(n, k, bArr.flatten, 0, k, isTranspose = true),
      fMat, DenseVector(dArr))

    // the salted and unsalted join paths must both reproduce it exactly
    Seq(0, 8).foreach { buckets =>
      val got = PortfolioOptimizer.factorRiskMatrix(loadings, covs, idio, buckets)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      assert(got.size == n * n)
      for (i <- 0 until n; j <- 0 until n)
        assert(approxEqual(got((tickers(i), tickers(j))), expected(i, j), 1e-12),
          s"sigma($i,$j) buckets=$buckets")
    }
  }
}
