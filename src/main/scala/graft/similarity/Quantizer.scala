package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import graft.functions.VectorFunctions.asDouble

/** The coarse quantizer of every IVF path (one-shot [[Ann.ivfTopK]] /
  * [[Ann.ivfTopKAdaptive]] / [[Ann.ivfPqTopK]], the persisted
  * [[IvfIndex]], [[graft.dedup.Dedup.semanticDedup]] and
  * [[graft.dedup.SemDeDupIndex]]): which cell a corpus row lands in and
  * which cells a query reads. Two regimes, chosen ONCE by
  * [[Quantizer.train]]:
  *
  *   - [[Quantizer.Flat]] (k ≤ [[Quantizer.FlatQuantizerMax]]):
  *     driver-trained centroids, O(k) argmin per row through the native
  *     [[NearestCell]] kernel — the bytes of every contract
  *     configuration;
  *   - [[Quantizer.Routed]] (larger k): √k top routers plus each
  *     router's sub-centroids, O(√k) route-then-refine per row.
  *
  * Cell ids are global in both (`cells` order — the centroid table's
  * layout, what radii and stored rows index). Probes look where
  * assignment put the candidates: each regime's `probe` and
  * `extraProbe` read ONE phase-A probe-order function, so the adaptive
  * search's phase B excludes exactly the cells phase A scored — the
  * full-cap byte-parity certificate rests on it (QuantizerSpec pins
  * disjoint, exhaustive phases). */
private[graft] sealed trait Quantizer {
  /** Centroids in global cell-id order. */
  def cells: Array[Array[Double]]

  /** (cand_id, cv) rows plus `cell`. `assign` > 1 stores each row in its
    * `assign` nearest cells (Flat only — routed assignment is
    * single-cell by construction). */
  def assign(c: DataFrame, assign: Int = 1): DataFrame

  /** [[assign]] plus the winning cell's squared-distance `score`
    * (||cen||² − 2·(v·cen)/||v|| — the argmin's own key), with cells
    * bit-identical to [[assign]]'s. The 'farthest' survivor policy ranks
    * on it. */
  def assignScored(c: DataFrame): DataFrame

  /** One row per (query, probed cell): (query_id, qv, cell), the query's
    * first `nProbe` cells in the phase-A probe order. */
  def probe(queries: DataFrame, idCol: String, vecCol: String,
      nProbe: Int): DataFrame

  /** Phase-B expansion of the adaptive search: per query, the cells past
    * the phase-A set of [[probe]]`(nProbeMin)` whose cosine upper bound
    * cos(max(0, θ(q̂, ĉ) − radius)) can still beat the query's k-th hit
    * (`kth`: query_id, kth), capped at nProbeMax probes in total. Queries
    * absent from `kth` probe up to the cap; the 1e-6 slack absorbs the
    * 6dp score rounding — pruning errs toward probing, which is what
    * makes full-cap adaptive byte-equal to a full probe. */
  def extraProbe(queries: DataFrame, idCol: String, vecCol: String,
      radii: Array[Double], kth: DataFrame, nProbeMin: Int,
      nProbeMax: Int): DataFrame
}

private[graft] object Quantizer {

  /** Largest centroid count the FLAT driver-side trainer serves. The
    * flat path Lloyd-trains on a fixed bottom-4096-by-hash sample, so
    * (a) k beyond 4096 is structurally meaningless (k-means cannot emit
    * more centroids than sample points) and (b) well before that the
    * sample stops covering the centroids (≥16 points per centroid at
    * 256). Past this bound [[train]] switches to the two-level
    * distributed trainer — web-scale SemDeDup configs and billion-vector
    * IVF want 2^14–2^16 cells, which no driver-sample Lloyd can produce.
    * 256 is also ≥ every configuration the contract queries pin
    * byte-parity on, so the flat path (and its bytes) is untouched for
    * them. */
  private val FlatQuantizerMax = 256

  /** Whether a k-cell quantizer routes — the regime [[train]] picks and
    * [[QuantizerStore.load]] checks a store against. */
  private[similarity] def routes(k: Int): Boolean = k > FlatQuantizerMax

  /** Deterministic coarse-quantizer training over a (cand_id, cv) frame
    * from its [[Ann.hashSample]] (callers that feed several trainers
    * from one sample pass it in). */
  def train(c: DataFrame, sample: Array[Array[Double]], k: Int): Quantizer =
    if (routes(k)) Routed.train(c, sample, k) else Flat.train(sample, k)

  def train(c: DataFrame, k: Int): Quantizer = train(c, Ann.hashSample(c), k)

  private def probeInput(queries: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))

  private def explodeCells(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("qv"), explode(col("cells")).as("cell"))

  /** Centroids trained on the driver sample, assigned by [[NearestCell]]. */
  final case class Flat(cells: Array[Array[Double]]) extends Quantizer {
    // per-centroid ||c||²: lets assignment use argmin(||c||² − 2·(v·cen)/||v||)
    // ≡ argmin |v/||v|| − cen|² on the RAW vector — no normalized copy
    private val norm2 = cells.map(cen => cen.map(x => x * x).sum)

    /** The one full-corpus pass: the native [[NearestCell]] kernel for
      * single assignment; multi-assignment (FAISS-style, an indexing-time
      * storage dial that lets boundary vectors survive pruned probes)
      * ranks the same score, ties on cell id, so assign = 1 and the
      * first of assign = a agree. */
    def assign(c: DataFrame, assign: Int = 1): DataFrame = {
      require(assign >= 1 && assign <= cells.length,
        s"assign must be in [1, ${cells.length}], got $assign")
      val sc = c.sparkSession.sparkContext
      val bc = sc.broadcast(cells)
      val bcNorm2 = sc.broadcast(norm2)
      if (assign == 1)
        c.withColumn("cell", column(NearestCell(expression(col("cv")), bc, bcNorm2)))
      else {
        val a = assign
        val topCells = udf { (v: Seq[Double]) =>
          val x = v.toArray
          val inv = NearestCell.invNorm(x)
          val cents = bc.value; val cn2 = bcNorm2.value
          val scores = new Array[Double](cents.length)
          var ci = 0
          while (ci < cents.length) {
            val cen = cents(ci)
            var dp = 0.0; var j = 0
            while (j < cen.length) { dp += x(j) * cen(j); j += 1 }
            scores(ci) = cn2(ci) - 2.0 * dp * inv
            ci += 1
          }
          // top-a by repeated argmin (a ≤ a few): no sort, no boxing —
          // this runs once per corpus row, keep it allocation-lean
          val out = new Array[Int](a)
          var s = 0
          while (s < a) {
            var best = -1; var bs = Double.MaxValue
            var cj = 0
            while (cj < scores.length) {
              if (scores(cj) < bs) { bs = scores(cj); best = cj }
              cj += 1
            }
            out(s) = best
            scores(best) = Double.MaxValue
            s += 1
          }
          out
        }
        c.withColumn("cell", explode(topCells(col("cv"))))
      }
    }

    def assignScored(c: DataFrame): DataFrame = {
      val sc = c.sparkSession.sparkContext
      c.withColumn("__a", column(NearestCellScored(expression(col("cv")),
          sc.broadcast(cells), sc.broadcast(norm2))))
        .withColumn("cell", col("__a.cell"))
        .withColumn("score", col("__a.score"))
        .drop("__a")
    }

    /** The full cell ranking runs on the (tiny) query side, never the
      * corpus side. */
    def probe(queries: DataFrame, idCol: String, vecCol: String,
        nProbe: Int): DataFrame = {
      val bc = queries.sparkSession.sparkContext.broadcast(cells)
      val order = udf { (v: Seq[Double]) => Flat.order(v.toArray, bc.value) }
      explodeCells(Ann.withNorm(probeInput(queries, idCol, vecCol), "qv", "qnorm")
        .withColumn("cells", slice(order(col("qnorm")), 1, nProbe)).drop("qnorm"))
    }

    def extraProbe(queries: DataFrame, idCol: String, vecCol: String,
        radii: Array[Double], kth: DataFrame, nProbeMin: Int,
        nProbeMax: Int): DataFrame = {
      val sc = queries.sparkSession.sparkContext
      val bc = sc.broadcast(cells)
      val br = sc.broadcast(radii)
      val (pMin, pMax) = (nProbeMin, nProbeMax)
      val extraUdf = udf { (qn: Seq[Double], kthCos: Double) =>
        val a = qn.toArray
        val cents = bc.value
        def bound(ci: Int): Double = {
          val cen = cents(ci)
          var dp = 0.0; var cn = 0.0; var i = 0
          while (i < cen.length) { dp += a(i) * cen(i); cn += cen(i) * cen(i); i += 1 }
          val cnorm = math.sqrt(cn)
          val cosQC = if (cnorm > 0.0) math.max(-1.0, math.min(1.0, dp / cnorm)) else -1.0
          val rc = math.acos(math.max(-1.0, math.min(1.0, br.value(ci))))
          math.cos(math.max(0.0, math.acos(cosQC) - rc))
        }
        // stable sort on -bound alone: the rest stays in probe order, so
        // SATURATED bounds (big radii clipping to cos 0 = 1.0) tie-break
        // to the fixed-probe cell choice rather than cell id — on
        // radius-vacuous corpora adaptive then spends its cap on the
        // same cells a fixed probe would, instead of id-ordered picks
        Flat.order(a, cents).drop(pMin)
          .map(ci => (bound(ci), ci))
          .sortBy { case (b, _) => -b }
          .filter { case (b, _) => b >= kthCos - 1e-6 }
          .take(pMax - pMin)
          .map(_._2)
      }
      explodeCells(Ann.withNorm(probeInput(queries, idCol, vecCol), "qv", "qnorm")
        .join(broadcast(kth), Seq("query_id"), "left")
        .withColumn("cells",
          extraUdf(col("qnorm"), coalesce(col("kth"), lit(-2.0))))
        .drop("qnorm", "kth"))
    }
  }

  object Flat {
    /** Plain seeded Lloyd on the driver sample ([[Ann.lloyd]]). */
    def train(sample: Array[Array[Double]], k: Int): Flat =
      Flat(Ann.lloyd(sample, k, iters = 8, seed = 42L))

    /** THE phase-A probe order: every cell by L2 to the normalized
      * query, stable on cell id. */
    private def order(qn: Array[Double],
        cents: Array[Array[Double]]): IndexedSeq[Int] =
      cents.indices.sortBy { ci =>
        val cen = cents(ci)
        var s = 0.0; var i = 0
        while (i < cen.length) { val d = qn(i) - cen(i); s += d * d; i += 1 }
        s
      }
  }

  /** Two-level quantizer: √k TOP router centroids plus each router's
    * SUB-centroids. Assignment ROUTES (argmin over tops, then argmin
    * within the routed top's subs — O(√k) comparisons per row). A row's
    * global cell is `offsets(top) + subIdx`, its index into `cells`.
    * The routing is APPROXIMATE at branch boundaries (a vector whose true
    * nearest sub-centroid lives under another router resolves to its own
    * branch's best sub — the inverted-multi-index trade); what
    * cell-bucketing consumers need is that IDENTICAL normalized vectors
    * route identically, which holds exactly. Centroid norms are computed
    * once here and ship with the one broadcast of the quantizer. */
  final case class Routed(top: Array[Array[Double]],
      subs: Array[Array[Array[Double]]]) extends Quantizer {
    val offsets: Array[Int] = subs.scanLeft(0)(_ + _.length).init
    def nCells: Int = offsets.last + subs.last.length
    @transient lazy val cells: Array[Array[Double]] = subs.flatten
    private val topN2 = top.map(cen => cen.map(x => x * x).sum)
    private val subN2 = subs.map(_.map(cen => cen.map(x => x * x).sum))

    private def branchOf(a: Array[Double], inv: Double): Int =
      Routed.argminAt(a, inv, top, topN2)
    private def subOf(a: Array[Double], inv: Double, b: Int): Int =
      Routed.argminAt(a, inv, subs(b), subN2(b))

    def assign(c: DataFrame, assign: Int = 1): DataFrame = {
      require(assign == 1,
        "multi-assignment serves the flat regime; routed assignment is " +
          "single-cell by construction")
      val bq = c.sparkSession.sparkContext.broadcast(this)
      val routed = udf { (v: Seq[Double]) =>
        val qq = bq.value
        val a = v.toArray
        val inv = NearestCell.invNorm(a)
        val b = qq.branchOf(a, inv)
        qq.offsets(b) + qq.subOf(a, inv, b)
      }
      c.withColumn("cell", routed(col("cv")))
    }

    def assignScored(c: DataFrame): DataFrame = {
      val bq = c.sparkSession.sparkContext.broadcast(this)
      val routed = udf { (v: Seq[Double]) =>
        val qq = bq.value
        val a = v.toArray
        val inv = NearestCell.invNorm(a)
        val b = qq.branchOf(a, inv)
        val sub = qq.subOf(a, inv, b)
        val cen = qq.subs(b)(sub)
        var dp = 0.0; var j = 0
        while (j < cen.length) { dp += a(j) * cen(j); j += 1 }
        (qq.offsets(b) + sub, qq.subN2(b)(sub) - 2.0 * dp * inv)
      }
      c.withColumn("__a", routed(col("cv")))
        .withColumn("cell", col("__a._1"))
        .withColumn("score", col("__a._2"))
        .drop("__a")
    }

    /** THE phase-A probe set: the query's OWN ROUTED CELL first (the
      * assignment arithmetic on the raw vector, so a candidate with the
      * query's exact direction is always found — the branch-first routed
      * cell need not be globally sub-nearest, which is why forcing it is
      * load-bearing), then the top max(2, nProbe) branches' subs by
      * (score, cell id). Per query O(√k · nProbe) score evaluations. */
    private def phaseA(a: Array[Double], inv: Double,
        nProbe: Int): IndexedSeq[Int] = {
      val rb = branchOf(a, inv)
      val routed = offsets(rb) + subOf(a, inv, rb)
      val topScores = Routed.scores(a, inv, top, topN2)
      val bp = math.min(top.length, math.max(2, nProbe))
      val ranked = top.indices
        .sortBy(bi => (topScores(bi), bi)).take(bp)
        .flatMap { bi =>
          val ss = Routed.scores(a, inv, subs(bi), subN2(bi))
          ss.indices.map(si => (ss(si), offsets(bi) + si))
        }
        .sortBy(identity).map(_._2)
      (routed +: ranked.filterNot(_ == routed)).take(nProbe)
    }

    def probe(queries: DataFrame, idCol: String, vecCol: String,
        nProbe: Int): DataFrame = {
      val bq = queries.sparkSession.sparkContext.broadcast(this)
      val np = nProbe
      val probeUdf = udf { (v: Seq[Double]) =>
        val a = v.toArray
        bq.value.phaseA(a, NearestCell.invNorm(a), np)
      }
      explodeCells(probeInput(queries, idCol, vecCol)
        .withColumn("cells", probeUdf(col("qv"))))
    }

    /** Per-branch angular envelope: branch b's angle is max over its
      * cells i of θ(router_b, ĉᵢ) + radiusᵢ, so for any member v of any
      * cell under router r, θ(q̂, v̂) ≥ θ(q̂, r̂) − envelope (two chained
      * spherical triangle inequalities), and
      * cos(max(0, θ(q̂, r̂) − envelope)) upper-bounds every member cosine
      * in the WHOLE BRANCH — what lets [[extraProbe]] prune at the branch
      * level. Driver-side O(k·dim), reused across the query batch. */
    private[similarity] def branchAngles(radii: Array[Double]): Array[Double] =
      Array.tabulate(top.length) { b =>
        val r = top(b)
        var rn = 0.0; var i = 0
        while (i < r.length) { rn += r(i) * r(i); i += 1 }
        val rnorm = math.sqrt(rn)
        val bs = subs(b)
        var worst = 0.0
        var si = 0
        while (si < bs.length) {
          val cen = bs(si)
          var dp = 0.0; var cn = 0.0; var j = 0
          while (j < cen.length) {
            dp += r(j) * cen(j); cn += cen(j) * cen(j); j += 1
          }
          val den = rnorm * math.sqrt(cn)
          // degenerate (zero-norm) router/sub-centroid: the angle is
          // undefined, so contribute π (cos −1, unprunable) — cos +1
          // would shrink the envelope and could prune a branch holding
          // true top-k hits, breaking the full-cap certificate
          val cosRC =
            if (den > 0.0) math.max(-1.0, math.min(1.0, dp / den)) else -1.0
          val cellAng = math.acos(math.max(-1.0,
            math.min(1.0, radii(offsets(b) + si))))
          val ang = math.acos(cosRC) + cellAng
          if (ang > worst) worst = ang
          si += 1
        }
        worst
      }

    /** Branch envelope first, then the surviving branches' subs against
      * the per-cell radius bound — O(√k + √k · surviving branches) per
      * query instead of ranking every cell bound. */
    def extraProbe(queries: DataFrame, idCol: String, vecCol: String,
        radii: Array[Double], kth: DataFrame, nProbeMin: Int,
        nProbeMax: Int): DataFrame = {
      val sc = queries.sparkSession.sparkContext
      val bq = sc.broadcast(this)
      val br = sc.broadcast(radii)
      val bEnv = sc.broadcast(branchAngles(radii))
      val (pMin, pMax) = (nProbeMin, nProbeMax)
      val extraUdf = udf { (v: Seq[Double], kthCos: Double) =>
        val qq = bq.value
        val a = v.toArray
        val inv = NearestCell.invNorm(a)
        val probedA = qq.phaseA(a, inv, pMin)
        val probedSet = probedA.toSet
        def angTo(cen: Array[Double], cn2: Double): Double = {
          var dp = 0.0; var j = 0
          while (j < cen.length) { dp += a(j) * cen(j); j += 1 }
          val cnorm = math.sqrt(cn2)
          val c = if (cnorm > 0.0)
            math.max(-1.0, math.min(1.0, dp * inv / cnorm)) else -1.0
          math.acos(c)
        }
        val out =
          scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Int)]
        var bi = 0
        while (bi < qq.top.length) {
          val angQR = angTo(qq.top(bi), qq.topN2(bi))
          val bBound = math.cos(math.max(0.0, angQR - bEnv.value(bi)))
          if (bBound >= kthCos - 1e-6) {
            val bs = qq.subs(bi)
            var si = 0
            while (si < bs.length) {
              val ci = qq.offsets(bi) + si
              if (!probedSet.contains(ci)) {
                val rc = math.acos(math.max(-1.0,
                  math.min(1.0, br.value(ci))))
                val ang = angTo(bs(si), qq.subN2(bi)(si))
                val bound = math.cos(math.max(0.0, ang - rc))
                if (bound >= kthCos - 1e-6) out += ((bound, ang, ci))
              }
              si += 1
            }
          }
          bi += 1
        }
        // ties on the bound (saturated big-radius cells all clipping to
        // 1.0) break by query angle — the fixed-probe choice — so on
        // radius-vacuous corpora the cap buys the cells fixed probing
        // would read, not id-ordered picks
        out.sortBy { case (b, ang, ci) => (-b, ang, ci) }
          .take(math.max(0, pMax - probedA.length))
          .map(_._3)
          .toSeq
      }
      explodeCells(probeInput(queries, idCol, vecCol)
        .join(broadcast(kth), Seq("query_id"), "left")
        .withColumn("cells",
          extraUdf(col("qv"), coalesce(col("kth"), lit(-2.0))))
        .drop("kth"))
    }
  }

  object Routed {
    /** Two-level distributed Lloyd (the standard hierarchical
      * coarse-quantizer construction): √k TOP cells train flat on the
      * driver sample, the corpus takes one broadcast-argmin pass onto
      * them, each top cell draws its own deterministic bottom-N-by-hash
      * sub-sample, and √k SUB-centroids per cell train IN THE EXECUTORS
      * (one `mapGroups` task per top cell, seeded per cell) — k total
      * centroids from bounded driver state, with training parallelism
      * that grows with k.
      *
      * The only full-corpus work is the one argmin pass; per-cell
      * sampling is a SALTED two-stage bottom-N (row_number over (cell,
      * hash-salt) then over cell), so no window task ever owns a whole
      * cell's population. Deterministic on any layout: salts and order
      * keys are id hashes, per-cell Lloyd seeds with 42+cell, output
      * concatenates in cell order. Empty top cells (corpus smaller than
      * k) contribute no subs — `nCells` may fall short of k on tiny
      * corpora, and ceil(k/√k)·√k may exceed it. */
    def train(c: DataFrame, topSample: Array[Array[Double]], k: Int,
        subSampleMax: Int = 4096): Routed = {
      val k1 = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
      val k2 = (k + k1 - 1) / k1 // ceil — k1·k2 ≥ k
      val top = Flat.train(topSample, k1)
      val hk = xxhash64(col("cand_id").cast("long"))
      // each salt class's bottom-N is a superset of its contribution to
      // the cell's global bottom-N, so the second stage over
      // ≤ 64·subSampleMax rows per cell is exact
      val w1 = Window.partitionBy(col("cell"), col("__salt"))
        .orderBy(hk, col("cand_id"))
      val w2 = Window.partitionBy(col("cell")).orderBy(hk, col("cand_id"))
      val sampled = top.assign(c)
        .withColumn("__salt", pmod(hk, lit(64)))
        .withColumn("__r1", row_number().over(w1))
        .filter(col("__r1") <= subSampleMax)
        .withColumn("__r2", row_number().over(w2))
        .filter(col("__r2") <= subSampleMax)
      val spark = c.sparkSession
      import spark.implicits._
      val subTrained = Ann.withNorm(sampled, "cv", "cnorm")
        .select(col("cell"), col("cand_id").cast("long").as("cand_id"),
          col("cnorm"))
        .as[(Int, Long, Seq[Double])]
        .groupByKey(_._1)
        .mapGroups { (cell, it) =>
          val pts = it.toArray.sortBy(_._2).map(_._3.toArray)
          cell -> Ann.lloyd(pts, k2, iters = 8, seed = 42L + cell)
            .map(_.toSeq).toSeq
        }
        .collect()
        .sortBy(_._1)
      // occupied top cells only — keep top routers aligned with their subs
      Routed(
        subTrained.map { case (cell, _) => top.cells(cell) },
        subTrained.map { case (_, ss) => ss.map(_.toArray).toArray })
    }

    /** ||cen||² − 2·(v·cen)·inv per centroid — the [[NearestCell]] score. */
    private def scores(a: Array[Double], inv: Double,
        cents: Array[Array[Double]], cn2: Array[Double]): Array[Double] =
      Array.tabulate(cents.length) { ci =>
        val cen = cents(ci)
        var dp = 0.0; var j = 0
        while (j < cen.length) { dp += a(j) * cen(j); j += 1 }
        cn2(ci) - 2.0 * dp * inv
      }

    /** Argmin of [[scores]] without the array (the per-row assignment
      * runs it twice). */
    private def argminAt(a: Array[Double], inv: Double,
        cents: Array[Array[Double]], cn2: Array[Double]): Int = {
      var best = 0; var bs = Double.MaxValue; var ci = 0
      while (ci < cents.length) {
        val cen = cents(ci)
        var dp = 0.0; var j = 0
        while (j < cen.length) { dp += a(j) * cen(j); j += 1 }
        val s = cn2(ci) - 2.0 * dp * inv
        if (s < bs) { bs = s; best = ci }
        ci += 1
      }
      best
    }
  }
}
