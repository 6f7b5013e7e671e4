package graft.opt

/** Staging/provenance tool for `x36_qp_iterative`'s oracle literals (no
  * Spark). The x34 gate runs the QP plumbing on a closed-form instance
  * where FISTA converges at iteration 1 and the λ loop exits at λ₀ — the
  * ITERATIVE dynamics (portfolio.py:90-121's 1/(2λ)-model refit, multi-step
  * FISTA) were spec-only. x36 gates them against precomputed literals: this
  * main runs [[PortfolioOptimizer.solveDynamic]] on the staged instance and
  * prints its (λ, σ) history, per-solve FISTA iteration counts, and the
  * final outputs at full precision + 6dp, with each rounded value's
  * distance from its 6dp grid midpoint.
  *
  * The solver is pure deterministic double arithmetic (no parallel
  * reductions), so the printed values are bitwise-reproducible inside the
  * per-date fan-out task — the oracle can carry round(v, 6) as literals.
  * Run: `sbt "runMain graft.opt.StageQp"`; paste the LITERAL block into the
  * x36 oracle (queries/ExtraQueries.scala) when changing the instance.
  */
object StageQp {

  private def bench(): Array[Double] =
    Array.fill(X36.tickers.length)(1.0 / X36.tickers.length)

  private def inBand(c: PortfolioOptimizer.Calibrated): Boolean =
    math.abs(c.risk - X36.target) <= 0.005

  /** `sweep` mode: run the λ loop over a grid of alpha scales to find an
    * instance with ≥2 refits AND an in-band exit (the two dynamics x36 must
    * gate). The x²-weighted refit anchors λ near its first sample, so the
    * usable region is narrow — search it, don't hand-derive it. */
  private def sweep(): Unit = {
    for (s <- BigDecimal(0.002) to BigDecimal(0.012) by BigDecimal(0.0005);
         dir <- Seq(Seq(1.2, 0.2, -1.0), Seq(1.0, 0.4, -0.8), Seq(0.3, 1.1, -0.2))) {
      val c = PortfolioOptimizer.solveDynamic(
        dir.map(_ * s.toDouble).toArray, X36.sigma(), bench(), X36.target)
      val steps = c.history.map(h => f"(${h.lambda}%.2f,${h.risk}%.4f)").mkString(" ")
      val refits = c.history.size - 1
      if (refits >= 2 && inBand(c)) println(f"HIT  s=$s dir=$dir refits=$refits $steps")
      else println(f"miss s=$s dir=$dir refits=$refits inBand=${inBand(c)} $steps")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("sweep")) { sweep(); return }
    for (d <- 0 until X36.nDates) {
      println(s"=== date index $d  alphas=${X36.alphas(d).mkString("(", ", ", ")")}")
      val c = PortfolioOptimizer.solveDynamic(
        X36.alphas(d).toArray, X36.sigma(), bench(), X36.target)
      c.history.zipWithIndex.foreach { case (h, i) =>
        println(f"  solve ${i + 1}%d: lambda=${h.lambda}%.10f risk=${h.risk}%.10f " +
          f"fistaIters=${h.iterations}%d converged=${h.converged} residual=${h.residual}%.2e")
      }
      println(s"  refits=${c.history.size - 1} inBandExit=${inBand(c)} allConverged=${c.converged}")
      def grid(v: Double): String = {
        val r = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        val mid = ((v * 1e6 - math.floor(v * 1e6)) - 0.5).abs
        f"${r.toDouble}%.6f (midpoint dist ${mid * 1e-6}%.2e)"
      }
      X36.tickers.zipWithIndex.foreach { case (t, i) =>
        println(f"  w[$t] = ${c.w(i)}%.17g -> ${grid(c.w(i))}")
      }
      println(f"  lambda = ${c.lambda}%.17g -> ${grid(c.lambda)}")
      println(f"  risk   = ${c.risk}%.17g -> ${grid(c.risk)}")
    }
  }
}

/** The staged x36 instance — shared between [[StageQp]] (literal
  * provenance) and the x36 query (ExtraQueries), so the gate and its
  * staging can never drift apart. */
private[graft] object X36 {
  val tickers: Seq[String] = Seq("R0", "R1", "R2")
  val factors: Seq[String] = Seq("F0", "F1")
  val nDates = 2
  val target = 0.05

  /** per-date alpha vectors, ticker order R0,R1,R2 */
  /** Chosen by `StageQp sweep`: date 0 exits the λ loop in band at solve 3
    * (2 refits), date 1 at solve 4 (3 refits) — both with every FISTA solve
    * taking tens of iterations, so the gate exercises the multi-step
    * accelerated path AND the 1/(2λ)-model refit arithmetic, unlike x34's
    * deliberately closed-form exit-at-λ₀ instance. */
  def alphas(d: Int): Seq[Double] =
    if (d == 0) Seq(0.006, 0.001, -0.005) else Seq(0.00165, 0.00605, -0.0011)

  /** loadings, ticker-major (R0..R2) x factor (F0,F1) — same every date.
    * Near-symmetric so the min-variance portfolio (the w(λ→∞) limit of the
    * TOTAL-variance-penalized QP) sits near the uniform benchmark: the
    * active-risk floor must lie BELOW the 0.05 target or the λ loop can
    * never enter the band. */
  val loadings: Seq[Seq[Double]] =
    Seq(Seq(1.0, 0.2), Seq(1.0, -0.2), Seq(1.0, 0.0))

  /** factor covariance (F0,F1) x (F0,F1) */
  val fcov: Seq[Seq[Double]] =
    Seq(Seq(0.00036, 0.00006), Seq(0.00006, 0.00016))

  /** idio vols per ticker */
  val idio: Seq[Double] = Seq(0.012, 0.012, 0.012)

  /** Σ = B F Bᵀ + D² for the staged instance, in the QP's factored form. */
  def sigma(): PortfolioOptimizer.FactorSigma =
    new PortfolioOptimizer.FactorSigma(tickers.length, factors.length,
      loadings.flatten.toArray, fcov.flatten.toArray, idio.map(d => d * d).toArray)
}
