package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query set broadcasts;
  *    each candidate partition streams once — cost O(|Q|·|C|) flops but
  *    only one pass over the big side, no shuffle of candidates. The
  *    correct baseline whenever |Q| is small (the common "probe" shape).
  *  - [[lshTopK]]: hyperplane-LSH bucketed search — candidates and queries
  *    shuffle on the bucket key only; each query scores just its bucket
  *    (+ optional multi-probe neighbors). The 100 TB path: shuffle volume
  *    drops by ~2^planes and per-query work by the same factor; recall
  *    traded via nPlanes/nProbes.
  *
  * Ranking is tie-stable: ORDER BY rounded cosine DESC, candidate id — so
  * output is deterministic under any partitioning.
  */
object Ann {

  private[graft] def ranked(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc_nulls_last, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cosine"))
  }

  /** Exact cosine top-k of `candidates` for each row of `queries`.
    * The scored stream is projected to (query_id, cand_id, cosine)
    * BEFORE ranking: the row_number window shuffles and sorts its
    * whole input, and carrying the two vector arrays through it
    * multiplies the sort bytes by ~the vector width (at 48 queries ×
    * 1M × 64 dims the window input is 1.2 GB narrow vs ~50 GB with
    * the arrays — the difference between an in-memory sort and a
    * spill). 48×1M end-to-end measures ~10-15 s narrow (r15 probe). */
  def bruteForceTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val c = candidates.select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))
      .select(col("query_id"), col("cand_id"), col("cosine"))
    ranked(scored, k)
  }

  /** [[bruteForceTopK]] as a MAP-SIDE TOP-K AGGREGATE — the corpus-scale
    * ground-truth path. The window form shuffles and sorts the full
    * |Q|×|C| scored stream (480M rows at 48 queries × 10M vectors —
    * tens of minutes of sorter insertions); here each partition keeps a
    * bounded per-query top-k buffer while the candidates stream through
    * ONCE, and only partitions×|Q|×k partial rows reach the final
    * (tiny) ranking. Selection order is IDENTICAL to the window's
    * (6dp-ROUNDED cosine desc NULLS LAST, cand_id asc — rounding
    * happens before selection in both forms), and the cosine replicates
    * [[graft.functions.ArrayCosine]]'s fused fold exactly (element
    * order, pairwise null-skip, null on zero norms) with Spark's
    * HALF_UP BigDecimal round (NaN/Infinity pass through un-rounded,
    * Spark's RoundBase special case) — DedupAnnSpec pins byte-equality
    * against [[bruteForceTopK]] on a corpus with zero-norm rows, null
    * elements and an overflow (NaN-cosine) row. Queries must be
    * BOUNDED (collected + broadcast). Ids are required integral and
    * returned as LONGS — unlike [[bruteForceTopK]], which preserves
    * the input id type (the one schema difference between the forms;
    * the parity spec runs on long ids). */
  def bruteForceTopKHeap(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType, StructField, StructType}
    Seq(queries, candidates).foreach { df =>
      val t = df.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"bruteForceTopKHeap: id column '$idCol' must be integral " +
          s"(returned as long), got $t — use bruteForceTopK for other id types")
    }
    val spark = queries.sparkSession
    val qRows: Array[(Long, IndexedSeq[java.lang.Double])] = queries
      .select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null
        else r.getSeq[java.lang.Double](1).toIndexedSeq))
    val bq = spark.sparkContext.broadcast(qRows)
    // (rounded cosine, cand_id) under the window's total order; null
    // cosine sorts last, ties break to the smaller id. `worse(a, b)` =
    // a ranks strictly after b. Double.compare replicates Spark's
    // double ordering for the NaN edge (NaN sorts greatest, so FIRST
    // under desc — an overflowed cosine outranks every finite one in
    // both forms; -0.0 vs 0.0 cannot arise: the BigDecimal round never
    // emits -0.0 and NaN/Inf bypass it).
    def worse(a: (java.lang.Double, Long), b: (java.lang.Double, Long)): Boolean = {
      if (a._1 == null && b._1 == null) a._2 > b._2
      else if (a._1 == null) true
      else if (b._1 == null) false
      else {
        val c = java.lang.Double.compare(a._1.doubleValue(), b._1.doubleValue())
        if (c != 0) c < 0 else a._2 > b._2
      }
    }
    val partialRdd = candidates
      .select(col(idCol).cast("long").as("cand_id"),
        asDouble(col(vecCol)).as("cv"))
      .rdd.mapPartitions { it =>
        val qs = bq.value
        // per-query bounded buffer, kept sorted worst-first is overkill
        // at k ≤ tens: a flat array + max-scan of the worst slot
        val buf = Array.fill(qs.length)(
          scala.collection.mutable.ArrayBuffer.empty[(java.lang.Double, Long)])
        it.foreach { r =>
          val cid = r.getLong(0)
          val cv = if (r.isNullAt(1)) null else r.getSeq[java.lang.Double](1)
          var qi = 0
          while (qi < qs.length) {
            val (qid, qv) = qs(qi)
            if (qid != cid) {
              // ArrayCosine's fused fold: element order, pairwise
              // null-skip, null on zero denominators or null arrays
              var sab = 0.0; var saa = 0.0; var sbb = 0.0
              if (qv != null && cv != null) {
                val n = math.min(qv.length, cv.length)
                var i = 0
                while (i < n) {
                  val x = qv(i); val y = cv(i)
                  if (x != null && y != null) {
                    val xd = x.doubleValue(); val yd = y.doubleValue()
                    sab += xd * yd; saa += xd * xd; sbb += yd * yd
                  }
                  i += 1
                }
              }
              val denom = math.sqrt(saa) * math.sqrt(sbb)
              val cos: java.lang.Double =
                if (qv != null && cv != null && denom > 0.0) {
                  val raw = sab / denom
                  // RoundBase passes NaN/Infinity through un-rounded
                  // (BigDecimal would throw on them)
                  java.lang.Double.valueOf(
                    if (raw.isNaN || raw.isInfinite) raw
                    else scala.math.BigDecimal(raw)
                      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
                      .doubleValue)
                } else null
              val b = buf(qi)
              val cand = (cos, cid)
              if (b.length < k) b += cand
              else {
                // replace the current worst if the candidate beats it
                var wi = 0; var j = 1
                while (j < b.length) { if (worse(b(j), b(wi))) wi = j; j += 1 }
                if (worse(b(wi), cand)) b(wi) = cand
              }
            }
            qi += 1
          }
        }
        buf.iterator.zipWithIndex.flatMap { case (b, qi) =>
          b.iterator.map(t =>
            org.apache.spark.sql.Row(qs(qi)._1, t._2, t._1))
        }
      }
    val partial = spark.createDataFrame(partialRdd,
      StructType(Seq(StructField("query_id", LongType),
        StructField("cand_id", LongType),
        StructField("cosine", DoubleType))))
    ranked(partial, k)
  }

  /** Plain Lloyd k-means on an in-memory sample (seeded, deterministic).
    * k and the sample are tiny (≤ few thousand rows) — this runs in
    * milliseconds on the driver and exists so the coarse quantizer costs
    * zero Spark jobs. Empty cells respawn on the farthest point.
    *
    * Init is deterministic FARTHEST-POINT (the greedy k-means++ variant):
    * seed-picked first centroid, then each next = the sample point with
    * max distance² to its nearest chosen centroid. Random init (round 2-6)
    * regularly dropped near-duplicate centroids into one dense region and
    * cost measurable recall at fixed nProbe — the x39 gate made that a
    * recorded number (ivf .38/.50/.44 across SFs); farthest-point spreads
    * the cells and costs O(k·n·dim) once, still driver-milliseconds. */
  private[graft] def lloyd(points: Array[Array[Double]], k: Int,
      iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs a non-empty sample")
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    val kk = math.min(k, points.length)
    val cents = new Array[Array[Double]](kk)
    cents(0) = points(rnd.nextInt(points.length)).clone()
    val minD = Array.fill(points.length)(Double.MaxValue)
    var ci0 = 1
    while (ci0 < kk) {
      var pi = 0
      var far = 0
      var farD = -1.0
      while (pi < points.length) {
        val p = points(pi)
        val c = cents(ci0 - 1)
        var s = 0.0; var j = 0
        while (j < p.length) { val d = p(j) - c(j); s += d * d; j += 1 }
        if (s < minD(pi)) minD(pi) = s
        if (minD(pi) > farD) { farD = minD(pi); far = pi }
        pi += 1
      }
      cents(ci0) = points(far).clone()
      ci0 += 1
    }
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var it = 0
    val bestD = new Array[Double](points.length)
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      var pi = 0
      while (pi < points.length) {
        val p = points(pi)
        var best = 0; var bd = Double.MaxValue; var ci = 0
        while (ci < kk) { val dd = d2(p, cents(ci)); if (dd < bd) { bd = dd; best = ci }; ci += 1 }
        bestD(pi) = bd
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        pi += 1
      }
      // respawn each empty cell on a DISTINCT worst-served point (all
      // respawning onto one shared farthest point would collapse the
      // duplicates back to a single effective cell next iteration)
      lazy val worstOrder = points.indices.sortBy(i => -bestD(i))
      var spawn = 0
      var ci = 0
      while (ci < kk) {
        if (counts(ci) > 0) {
          var j = 0
          while (j < dim) { cents(ci)(j) = sums(ci)(j) / counts(ci); j += 1 }
        } else { cents(ci) = points(worstOrder(spawn)).clone(); spawn += 1 }
        ci += 1
      }
      it += 1
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nLists` cells; each query scores only the
    * candidates in its `nProbe` nearest cells. The classic
    * recall-vs-compute dial for billion-vector search: shuffle volume and
    * per-query flops drop by ~nLists/nProbe.
    *
    * The quantizer trains DRIVER-SIDE on a deterministic hash-sample
    * (standard IVF practice: the coarse centroids only need a
    * representative sample, and in-process Lloyd iterations avoid the
    * ~15 Spark jobs an MLlib fit schedules for the same tiny problem).
    * Centroids are tiny (nLists × dim) and broadcast for both the
    * distributed corpus assignment and probe selection. At 100 TB the
    * corpus assignment is one map-side pass and the search shuffles only
    * on the cell id. */
  def ivfTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nLists: Int = 16, nProbe: Int = 2): DataFrame = {
    // raw corpus feeds two passes (sample bottom-k, cell assignment) —
    // persist once; callers own cache lifecycle (the bench harness
    // clearCache()s between queries). Normalization happens in the tiny
    // places that need it (the 4k training sample, the query side, and
    // inside the assignment UDF via a dot identity) — NOT as a corpus-wide
    // interpreted transform() lambda.
    val c = candidates.select(col(idCol).as("cand_id"),
        asDouble(col(vecCol)).as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = Quantizer.train(c, nLists)
    scoreCells(q.assign(c), q.probe(queries, idCol, vecCol, nProbe), k)
  }

  /** L2-normalize an array column: cosine search ⇒ cluster on NORMALIZED
    * vectors (spherical k-means) — cells must partition by direction, not
    * magnitude. Norm computed ONCE per vector (a lambda-internal dot()
    * would re-evaluate per element); zero vectors pass through
    * unnormalized instead of emitting NaN. */
  private[similarity] def withNorm(df: DataFrame, vc: String, out: String): DataFrame = df
    .withColumn("__nrm", sqrt(dot(col(vc), col(vc))))
    .withColumn(out, when(col("__nrm") > 0.0,
      transform(col(vc), x => x / col("__nrm"))).otherwise(col(vc)))
    .drop("__nrm")

  /** The deterministic bottom-4096-by-hash NORMALIZED sample every
    * quantizer trainer draws from. The coarse quantizer only needs a
    * representative SAMPLE — training k-means on the full corpus is
    * wasted work at any scale. Bottom-4096-by-hash is a deterministic
    * uniform sample that needs NO corpus-size knowledge:
    * orderBy(hash).limit(k) plans as TakeOrderedAndProject (per-partition
    * heaps, only 4096 rows per partition reach the driver), so sampling
    * costs one pass and the same cells come out of the same data on any
    * cluster layout. Exposed separately so IVFADC builds ([[ivfPqTopK]],
    * [[IvfIndex.build]]) run the sampling job ONCE and feed the coarse
    * and codec trainers from it. */
  private[graft] def hashSample(c: DataFrame): Array[Array[Double]] = {
    // hash the id at LongType regardless of the caller's integral width:
    // xxhash64(int) != xxhash64(long) for the same value, and the persisted
    // index path (IvfIndex, every codec) stores cand_id as long — widening
    // HERE makes the one-shot and index paths draw the byte-identical
    // training sample for byte/short/int id corpora too (long ids hash the
    // same bytes as before, so long-id results are unchanged)
    val trainRows = c
      .orderBy(xxhash64(col("cand_id").cast("long")), col("cand_id"))
      .limit(4096)
    val sample = withNorm(trainRows, "cv", "cnorm")
      .select(col("cand_id"), col("cnorm"))
      .orderBy(col("cand_id")) // deterministic order regardless of layout
      .collect().map(r => r.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "quantizer training needs a non-empty corpus")
    sample
  }

  /** Join assigned corpus rows with probe rows on the cell id — scored
    * rows pre-ranking, so the adaptive path can union two probe phases
    * before one final [[ranked]] pass. The only corpus data touched is
    * the probed cells'. */
  private[graft] def scoredCells(cAssigned: DataFrame,
      q: DataFrame): DataFrame =
    cAssigned.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))

  private[graft] def scoreCells(cAssigned: DataFrame, q: DataFrame,
      k: Int): DataFrame =
    ranked(scoredCells(cAssigned, q), k)

  /** Per-query k-th best (rounded) cosine of a scored frame — the
    * adaptive probe's pruning threshold. Queries with fewer than k
    * scored rows emit NO row (the caller treats a missing threshold as
    * "probe up to the cap"). */
  private[graft] def kthCosine(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc_nulls_last, col("cand_id"))
    // null cosines (zero-norm vectors) are not real hits: a query whose
    // k-th row is null must emit NO threshold (→ probe up to the cap),
    // not a null that would silently disable its phase B
    scored.filter(col("cosine").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === k)
      .select(col("query_id"), col("cosine").as("kth"))
  }

  /** Per-cell angular radius, stored as the MINIMUM member-to-centroid
    * cosine (min cos ⇔ max angle): one aggregate over the assigned
    * corpus, collected as ≤ nLists rows. Cells with no members read
    * 1.0 (zero radius — their bound is the centroid direction itself).
    * The radius is what makes the adaptive probe's cell bound sound:
    * for any member v of cell i, angle(q̂, v̂) ≥ angle(q̂, ĉᵢ) − radiusᵢ
    * (spherical triangle inequality), so
    * cos(max(0, angle(q̂, ĉᵢ) − radiusᵢ)) upper-bounds every member's
    * cosine. Deletions only shrink cells, so a stored radius stays a
    * sound (conservative) bound without rewrites. A zero-norm member or
    * degenerate centroid has no defined angle — it contributes cos −1
    * (radius π), so its cell is never envelope-pruned. */
  private[graft] def cellRadii(cAssigned: DataFrame,
      centroids: Array[Array[Double]]): Array[Double] = {
    val bc = cAssigned.sparkSession.sparkContext.broadcast(centroids)
    val cosToCentroid = org.apache.spark.sql.functions.udf {
      (cell: Int, v: Seq[Double]) =>
        val cen = bc.value(cell)
        var dp = 0.0; var vn = 0.0; var cn = 0.0; var i = 0
        while (i < cen.length) {
          dp += v(i) * cen(i); vn += v(i) * v(i); cn += cen(i) * cen(i)
          i += 1
        }
        val den = math.sqrt(vn) * math.sqrt(cn)
        // den == 0 (zero-norm member OR degenerate centroid): the angle
        // is undefined, so the only SOUND radius is the maximal one —
        // return cos = -1 (radius π), matching the phase-B bound
        // convention of Quantizer.extraProbe. Returning 1.0 here would
        // give a populated degenerate-centroid cell a ZERO radius while
        // the phase-B cell bound scores its cosQC as -1, making the
        // cell maximally prunable despite possibly holding true top-k
        // members (round-15 ADVICE item 2).
        if (den > 0.0) dp / den else -1.0
    }
    val rows = cAssigned
      .withColumn("__mc", cosToCentroid(col("cell"), col("cv")))
      .groupBy(col("cell")).agg(min(col("__mc")).as("rcos"))
      .collect()
    val out = Array.fill(centroids.length)(1.0)
    rows.foreach(r => out(r.getInt(0)) = r.getDouble(1))
    out
  }

  /** Query-adaptive IVF top-k (the 100 TB serving dial): phase A scores
    * the query's nProbeMin nearest cells; phase B then probes ONLY the
    * remaining cells whose geometric bound (centroid angle minus cell
    * radius — see [[cellRadii]]) can still beat the query's current
    * k-th hit, capped at nProbeMax. Two properties fall out:
    *   - on corpora with cluster structure the bound prunes hard — most
    *     queries stop at nProbeMin cells with recall ≈ full-probe;
    *   - on adversarial near-orthogonal corpora (vacuous radii) it
    *     degrades gracefully to a fixed nProbeMax probe — recall is the
    *     nProbeMax recall, never less, and IO never exceeds the cap.
    * With nProbeMax = nLists the result is BYTE-EQUAL to a full probe
    * (pruning only drops cells provably below the k-th hit) — the
    * spec-pinned soundness certificate.
    *
    * `assign` > 1 additionally stores each candidate in its `assign`
    * nearest cells ([[Quantizer.Flat.assign]] — assign× scan/storage
    * premium) so boundary vectors survive pruned probes; duplicate
    * (query, cand) scores collapse before ranking. nProbeMin = nProbeMax
    * degenerates to the fixed-probe [[ivfTopK]] plan plus the
    * multi-assign option.
    *
    * In the routed large-k regime phase B prunes at the BRANCH level
    * first ([[Quantizer.Routed.extraProbe]]) — per-query probe selection
    * stays O(√k · survivors) instead of ranking 2^14+ cell bounds, which
    * is what keeps adaptive serving viable at billion-vector cell
    * counts. Multi-assignment stays a flat-regime dial (routed
    * assignment is single-cell by construction). */
  def ivfTopKAdaptive(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nLists: Int = 16, nProbeMin: Int = 2, nProbeMax: Int = 8,
      assign: Int = 1): DataFrame = {
    require(nProbeMin >= 1 && nProbeMin <= nProbeMax,
      s"need 1 <= nProbeMin <= nProbeMax, got ($nProbeMin, $nProbeMax)")
    val c = candidates.select(col(idCol).as("cand_id"),
        asDouble(col(vecCol)).as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = Quantizer.train(c, nLists)
    val cAssigned = q.assign(c, assign)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val radii = cellRadii(cAssigned, q.cells)
    val qA = q.probe(queries, idCol, vecCol, nProbeMin)
    val scoredA = scoredCells(cAssigned, qA)
      .select(col("query_id"), col("cand_id"), col("cosine"))
    val merged =
      if (nProbeMax <= nProbeMin) scoredA
      else {
        // the threshold ranks DISTINCT candidates: with assign > 1 a
        // candidate probed through two of its cells contributes two
        // identical-cosine rows, and a row-ranked k-th would sit ABOVE
        // the k-th distinct candidate's cosine — an over-tight bound
        // that can prune a cell holding a true top-k hit (breaking the
        // full-cap byte-parity the soundness certificate pins; the
        // final ranking already dedupes, so the threshold must too)
        val kthInput =
          if (assign > 1) scoredA.dropDuplicates("query_id", "cand_id")
          else scoredA
        val kth = kthCosine(kthInput, k)
        val qB = q.extraProbe(queries, idCol, vecCol, radii, kth,
          nProbeMin, nProbeMax)
        scoredA.unionAll(scoredCells(cAssigned, qB)
          .select(col("query_id"), col("cand_id"), col("cosine")))
      }
    val deduped =
      if (assign > 1) merged.dropDuplicates("query_id", "cand_id")
      else merged
    ranked(deduped, k)
  }

  /** recall@k of an approximate top-k result against the exact one: the
    * fraction of exact (query_id, cand_id) pairs the approximate search
    * also returned. Both inputs are [[ranked]]-shaped. Tiny frames (|Q|·k
    * rows each) — one broadcast join, no corpus access. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("cand_id"))
      .withColumn("hit", lit(1))
    exact.select(col("query_id"), col("cand_id"))
      .join(broadcast(a), Seq("query_id", "cand_id"), "left")
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") /
        count(lit(1))).as("recall"))
  }

  /** Product-quantization codebooks (one per subspace) trained on the
    * same deterministic bottom-4096-by-hash sample as the IVF coarse
    * quantizer, in NORMALIZED space (cosine ranking ⇒ spherical
    * quantization, the [[Quantizer]] argument). Subspace j trains
    * on dims [j·dsub, (j+1)·dsub) with its own seed — m driver-side
    * Lloyd runs over a few thousand short vectors, milliseconds, zero
    * extra Spark jobs beyond the one sample pass. */
  private[graft] def trainPqCodebooks(c: DataFrame, m: Int,
      ksub: Int): Array[Array[Array[Double]]] =
    trainPqCodebooksFrom(hashSample(c), m, ksub)

  private[graft] def trainPqCodebooksFrom(sample: Array[Array[Double]],
      m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      lloyd(sub, ksub, iters = 8, seed = 42L + j)
    }
  }

  /** OPQ parametric rotation (Ge et al., CVPR 2013 — "Optimized Product
    * Quantization", the closed-form PCA + eigenvalue-allocation
    * solution). PQ quantizes FIXED contiguous dim blocks, so when the
    * corpus's variance concentrates in a few directions some subspaces
    * carry all the signal while others quantize noise. The fix is an
    * orthonormal rotation applied to every vector before encoding —
    * norms and inner products are invariant, so ranking SEMANTICS are
    * unchanged; only the quantization error moves. Parametric solution:
    * the eigenbasis of the training sample's (uncentered — vectors are
    * normalized, the quantizer's spherical discipline) second moment,
    * with components dealt into the m subspaces by GREEDY EIGENVALUE
    * ALLOCATION: descending λ, each to the non-full subspace with the
    * smallest Σ log λ so far — balancing the per-subspace variance
    * PRODUCT (the paper's criterion, in log space; λ floored at 1e-12
    * so null directions don't produce −∞ ties).
    *
    * Returns the rotation as d row vectors: `rotated(i) = R(i)·x`, with
    * subspace j owning rows [j·dsub, (j+1)·dsub). Orthonormality is
    * asserted at 1e-9 — a broken basis must fail HERE, not as a silent
    * recall regression downstream. */
  private[graft] def opqRotation(sample: Array[Array[Double]], m: Int)
      : Array[Array[Double]] = {
    import breeze.linalg.{eigSym, DenseMatrix}
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val dsub = d / m
    val mom = DenseMatrix.zeros[Double](d, d)
    sample.foreach { v =>
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { mom(i, j) += v(i) * v(j); j += 1 }
        i += 1
      }
    }
    mom :*= 1.0 / sample.length
    val es = eigSym(mom)
    val order = (0 until d).sortBy(i => (-es.eigenvalues(i), i))
    val logSums = Array.fill(m)(0.0)
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer
      .empty[Int])
    order.foreach { ci =>
      val open = (0 until m).filter(b => buckets(b).length < dsub)
      val b = open.minBy(bb => (logSums(bb), bb))
      buckets(b) += ci
      logSums(b) += math.log(math.max(es.eigenvalues(ci), 1e-12))
    }
    val rot = buckets.flatMap(_.iterator.map(ci =>
      Array.tabulate(d)(r => es.eigenvectors(r, ci))))
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        var s = 0.0; var t = 0
        while (t < d) { s += rot(i)(t) * rot(j)(t); t += 1 }
        val want = if (i == j) 1.0 else 0.0
        require(math.abs(s - want) <= 1e-9,
          s"opq rotation not orthonormal at ($i,$j): $s")
        j += 1
      }
      i += 1
    }
    rot
  }

  /** Apply an [[opqRotation]] basis to a vector column — d native dot
    * projections against literal rows, the [[Pca.transform]] discipline
    * (codegen'd arithmetic, no UDF on the corpus-wide encode path).
    * NOT for corpus-scale plans: at d = 64 the inlined 64-dot form
    * blows the fused stage past HotSpot's 8,000-bytecode JIT cliff
    * (round-17's x89 regression) — use [[rotateColBc]] there. Kept for
    * receipt JVMs and as the bit-parity reference the spec pins
    * [[RotateVec]] against. */
  private[graft] def rotateCol(v: Column,
      rot: Array[Array[Double]]): Column =
    array(rot.map(r => dot(v, typedLit(r.toSeq))): _*)

  /** [[rotateCol]] as ONE codegen'd kernel call against a broadcast
    * basis — bit-equal output on every non-null vector (a NULL vector
    * gives NULL, see [[RotateVec]]), constant generated-code size
    * regardless of d. The corpus-scale form. */
  private[graft] def rotateColBc(v: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      RotateVec(org.apache.spark.sql.GraftColumnBridge.expression(
        asDouble(v)), bc))

  /** Refine stage shared by [[pqTopK]], [[ivfPqTopK]] and
    * [[IvfIndex.search]] — structural, so the byte-parity contract
    * between the three paths cannot drift copy by copy. With
    * `rerank <= k` the ADC ordering is final; otherwise only the
    * |Q|·rerank shortlisted rows' float vectors are re-read (broadcast
    * joins, no shuffle of `floats`) and exactly re-ranked to k. */
  private[similarity] def refine(scored: DataFrame, floats: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      rerank: Int): DataFrame =
    if (rerank <= k) ranked(scored, k)
    else {
      val shortlist = ranked(scored, rerank)
        .select(col("query_id"), col("cand_id"))
      val qFloat = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"))
      val refined = floats.join(broadcast(shortlist), Seq("cand_id"))
        .join(broadcast(qFloat), Seq("query_id"))
        .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))
      ranked(refined, k)
    }

  /** Product-quantization (ADC) approximate top-k: each candidate vector
    * is compressed to m codebook indices (m·log2(ksub) bits — 8 subspaces
    * × 16 centroids = 4 B/vector vs 256 B of floats at dim 64); each
    * query precomputes an m×ksub table of subspace distances to every
    * codebook centroid, and a candidate's approximate distance is m table
    * lookups — no float vectors are touched during scoring at all.
    *
    * This is the memory-bound 100 TB path: the scan that ranks
    * candidates reads ~64× fewer bytes than brute force, and the encode
    * pass that pays for it is one argmin-only sweep (the IVF assignment
    * discipline). Reported `cosine` is the standard ADC score 1 − d²/2
    * (exact cosine would require normalizing the quantized
    * reconstruction; the refine stage supplies exact values), rounded
    * 6dp; ranking ties break on cand_id as everywhere else, so output is
    * deterministic under any partitioning — the spec pins
    * repartition-invariance, and the x39 gate pins recall.
    *
    * Composed with IVF in [[ivfPqTopK]] (classic IVFADC: probed cells
    * only) and served from disk by [[IvfIndex]] over [[CellCodec.Pq]];
    * kept flat here so the recall/compression dial is measurable in
    * isolation.
    *
    * `rerank` > k turns on the standard refine stage: the compressed
    * scan keeps an ADC shortlist of `rerank` per query, then ONLY those
    * rows' float vectors are re-read and exactly re-ranked to k. On
    * unstructured (near-orthogonal) embeddings pure ADC ordering is
    * noise-limited — cosine gaps between neighbors are smaller than the
    * quantization error — and the refine stage is what production PQ
    * deployments run: recall comes from the exact top of a cheap
    * shortlist, while the corpus-wide scan still reads codes only. The
    * refine pass streams the corpus once more but emits just
    * |Q|·rerank rows through a broadcast semi-join — no shuffle of the
    * big side.
    *
    * `opq` turns on the [[opqRotation]] pre-rotation (OPQ, Ge et al.
    * 2013): when the corpus variance is concentrated in directions
    * MISALIGNED with the contiguous code blocks, the rotation re-deals
    * the budget and recovers ADC recall (AnnOpqSpec pins +5pts on that
    * shape). Measured honestly, the advantage is spectrum- and
    * scale-dependent — on isotropic corpora it is a no-op by design, a
    * variance-EQUALIZED spectrum favors plain PQ outright, and at 1M
    * docs the ADC neighbor gaps sit below quantization noise for both
    * modes (recall then comes from the refine stage either way) — the
    * sweep is in BASELINE round-11 addendum 14, which is why the
    * default is off. Scoring stays codes-only; the encode pass pays the
    * d rotation projections per row (codegen'd dots, no UDF). Output
    * schema and refine semantics are identical; exact cosine is
    * rotation-invariant, so x89's invariance arm pins the rotated exact
    * ranking byte-equal to the plain one on the real corpus. */
  def pqTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16, rerank: Int = 0,
      opq: Boolean = false): DataFrame = {
    val sc = candidates.sparkSession.sparkContext
    // raw corpus feeds two passes (codebook sample, encode) plus the
    // refine re-read — persist once; callers own cache lifecycle exactly
    // as with ivfTopK (the bench harness clearCache()s between queries; a
    // long-lived session should clearCache or pre-cache its own frame)
    val c = candidates.select(col(idCol).as("cand_id"),
        asDouble(col(vecCol)).as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `opq = true` rotates by [[opqRotation]] before the codebooks see
    // anything: sample, encode, and query dtabs all live in the rotated
    // space (normalization commutes — the rotation preserves norms, and
    // hashSample's output is already normalized, so the rotated sample
    // stays on the sphere and pqEncoder's in-register normalize of a
    // rotated RAW vector equals rotating its normalized form). The
    // refine stage reads the ORIGINAL floats — exact cosine is
    // rotation-invariant, so refined scores are byte-identical between
    // the two modes; only shortlist membership (ADC quality) differs.
    val (books, encodeInput, qFrame, qVecCol) =
      if (!opq)
        (trainPqCodebooks(c, m, ksub), col("cv"), queries, vecCol)
      else {
        val sample = hashSample(c)
        val rot = opqRotation(sample, m)
        val rotated = sample.map { v =>
          rot.map { r =>
            var s = 0.0; var i = 0
            while (i < v.length) { s += r(i) * v(i); i += 1 }
            s
          }
        }
        val bcRot = sc.broadcast(rot)
        (trainPqCodebooksFrom(rotated, m, ksub),
          rotateColBc(col("cv"), bcRot),
          queries.select(col(idCol),
            rotateColBc(asDouble(col(vecCol)), bcRot).as("__qrot")),
          "__qrot")
      }
    val bc = sc.broadcast(books)
    val cCodes = c.select(col("cand_id"), pqEncoder(bc)(encodeInput).as("codes"))
    val (qIdx, bcD) = indexedDtabs(qFrame, idCol, qVecCol, bc)
    val scored = cCodes.crossJoin(broadcast(qIdx))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        round(lit(1.0) - adcScorer(bcD)(col("codes"), col("qi")) / lit(2.0), 6))
      .drop("codes", "qi")
    refine(scored, c, queries, idCol, vecCol, k, rerank)
  }

  /** PQ encoder factory: vector column → array<int> codes column,
    * through the [[PqEncode]] kernel (normalize in-register, zero vectors
    * pass through — the withNorm contract; codes bit-equal to the scalar
    * UDF it replaced). The one-sweep
    * corpus encode shared by [[pqTopK]], [[ivfPqTopK]] and
    * [[IvfIndex]] — it runs once per corpus row of every build/
    * append/compact pass, where the UDF's per-row Seq conversion was
    * pure overhead on a kernel-dominated loop. */
  private[graft] def pqEncoder(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]])
      : Column => Column =
    v => org.apache.spark.sql.GraftColumnBridge.column(
      PqEncode(org.apache.spark.sql.GraftColumnBridge.expression(v), bc))

  /** Query-side distance table to every centroid of every codebook,
    * flattened m×ksub — the only place full floats meet the codebooks.
    * Input must already be normalized. */
  private[similarity] def pqDtabUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]]) =
    udf { (qn: Seq[Double]) =>
      val a = qn.toArray
      val bks = bc.value
      val mm = bks.length
      val dsub = a.length / mm
      val kk = bks(0).length
      val out = new Array[Double](mm * kk)
      var j = 0
      while (j < mm) {
        val book = bks(j)
        var ci = 0
        while (ci < book.length) {
          val cen = book(ci)
          var s = 0.0; var t = 0
          while (t < dsub) { val dd = a(j * dsub + t) - cen(t); s += dd * dd; t += 1 }
          out(j * kk + ci) = s
          ci += 1
        }
        j += 1
      }
      out
    }

  /** ADC scorer factory: (codes, qi) columns → score column, through
    * the [[AdcScore]] kernel (bit-equal to the scalar UDF it replaced —
    * the per-candidate scan kernel must not pay a Seq conversion per
    * row). */
  private[similarity] def adcScorer(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])
      : (Column, Column) => Column =
    (codes, qi) => org.apache.spark.sql.GraftColumnBridge.column(
      AdcScore(
        org.apache.spark.sql.GraftColumnBridge.expression(codes),
        org.apache.spark.sql.GraftColumnBridge.expression(qi), bc))

  /** The query batch's ADC distance tables, driver-collected in
    * query_id order (|Q|·m·ksub doubles — tiny) for the [[adcScorer]]
    * broadcast, plus the (query_id, qi) relation that carries each row's
    * table index through the scoring join. Shared by [[pqTopK]],
    * [[ivfPqTopK]] and [[IvfIndex]] so every path scores through the
    * same kernel (byte-parity across them depends on it).
    *
    * ONE collect feeds both sides: the dtab broadcast AND the
    * (query_id, qi) relation are rebuilt from the same driver array, so
    * qi→dtab can never diverge between two independent evaluations (a
    * row_number window evaluated once for the collect and once inside
    * the scoring join could disagree on tie order). Query ids must be
    * distinct — with duplicates "the dtab of query X" is ill-defined —
    * and the already-collected rows make that a free driver check. */
  private[similarity] def indexedDtabs(queries: DataFrame, idCol: String,
      vecCol: String,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]])
      : (DataFrame, org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]) = {
    val spark = queries.sparkSession
    val qd = withNorm(queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv")), "qv", "qnorm")
      .select(col("query_id"), pqDtabUdf(bc)(col("qnorm")).as("dtab"))
    val rows = qd.orderBy(col("query_id")).collect()
    require(rows.iterator.map(_.get(0)).toSet.size == rows.length,
      "ANN query ids must be distinct (duplicate query_id in batch)")
    val dtabs = rows.map(_.getSeq[Double](1).toArray)
    val qiSchema = org.apache.spark.sql.types.StructType(Seq(
      qd.schema("query_id"),
      org.apache.spark.sql.types.StructField("qi",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val qIdx = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.toIndexedSeq.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.get(0), i) }, 1),
      qiSchema)
    (qIdx, spark.sparkContext.broadcast(dtabs))
  }

  /** Per-dimension 8-bit scalar quantizer (SQ8 — the FAISS
    * IndexScalarQuantizer baseline): trained bounds (min, step) per
    * dimension over the normalized hash sample; values outside the
    * trained range CLAMP to the byte range (the standard SQ contract —
    * a sample-trained quantizer must tolerate unseen tails). step = 0
    * dimensions (constant in the sample) encode to 0 and decode to the
    * constant. */
  private[graft] def trainSq(sample: Array[Array[Double]])
      : (Array[Double], Array[Double]) = {
    require(sample.nonEmpty, "SQ8 needs a non-empty training sample")
    val d = sample.head.length
    val mins = Array.fill(d)(Double.MaxValue)
    val maxs = Array.fill(d)(Double.MinValue)
    var i = 0
    while (i < sample.length) {
      val v = sample(i)
      var j = 0
      while (j < d) {
        if (v(j) < mins(j)) mins(j) = v(j)
        if (v(j) > maxs(j)) maxs(j) = v(j)
        j += 1
      }
      i += 1
    }
    val steps = Array.tabulate(d) { j =>
      val r = maxs(j) - mins(j)
      if (r > 0.0) r / 255.0 else 0.0
    }
    (mins, steps)
  }

  /** SQ8 encoder factory: vector column → struct<_1: binary codes,
    * _2: double decoded norm> column, through the native codegen'd
    * [[SqEncode]] kernel (normalize in-register — the [[pqEncoder]]
    * contract; quantize each dimension to one byte against the trained
    * (min, step); carry the DECODED norm so scoring stays codes-only;
    * bit-equal to the scalar UDF it replaced). 4 bytes/dim →
    * 1 byte/dim. */
  private[graft] def sqEncoder(
      bc: org.apache.spark.broadcast.Broadcast[(Array[Double], Array[Double])])
      : Column => Column =
    v => org.apache.spark.sql.GraftColumnBridge.column(
      SqEncode(org.apache.spark.sql.GraftColumnBridge.expression(v), bc))

  /** SQ8 scorer factory: (codes, dnorm, qi) columns → cosine column,
    * through the [[SqCosine]] kernel (bit-equal to the scalar UDF it
    * replaced; NULL on zero-norm candidates). */
  private[similarity] def sqScorer(
      bc: org.apache.spark.broadcast.Broadcast[Array[(Array[Double], Double)]])
      : (Column, Column, Column) => Column =
    (codes, dnorm, qi) => org.apache.spark.sql.GraftColumnBridge.column(
      SqCosine(
        org.apache.spark.sql.GraftColumnBridge.expression(codes),
        org.apache.spark.sql.GraftColumnBridge.expression(dnorm),
        org.apache.spark.sql.GraftColumnBridge.expression(qi), bc))

  /** SQ8 approximate top-k: a full-corpus scan like [[pqTopK]] but with
    * per-dimension byte codes instead of codebook ids — 4× smaller than
    * the float scan with near-exact ranking (each dimension is off by
    * ≤ step/2), vs PQ's ~32× at materially lower recall. The standard
    * middle point of the compression/recall trade; `rerank` re-reads
    * floats for exact top-of-list scores ([[refine]]'s contract, shared
    * with PQ/OPQ). Queries are normalized driver-side; their weight
    * vectors ride in one JVM broadcast (|Q|·d doubles). */
  def sqTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, rerank: Int = 0): DataFrame = {
    val spark = candidates.sparkSession
    val c = candidates.select(col(idCol).as("cand_id"),
        asDouble(col(vecCol)).as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bcQ = spark.sparkContext.broadcast(trainSq(hashSample(c)))
    val cCodes = c.select(col("cand_id"), sqEncoder(bcQ)(col("cv")).as("sq"))
    val (qIdx, bcW) = indexedSqWeights(queries, idCol, vecCol, bcQ.value)
    val scored = cCodes.crossJoin(broadcast(qIdx))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        round(sqScorer(bcW)(col("sq._1"), col("sq._2"), col("qi")), 6))
      .drop("sq", "qi")
    refine(scored, c, queries, idCol, vecCol, k, rerank)
  }

  /** The query batch's SQ8 weight vectors (wⱼ = qⱼ·stepⱼ) and constants
    * (k_q = Σ qⱼ·minⱼ), driver-collected in query_id order for the
    * [[sqScorer]] broadcast, plus the (query_id, qi) index relation —
    * the [[indexedDtabs]] discipline: ONE collect feeds both sides so
    * qi→weights can never diverge, and duplicate query ids fail loudly.
    * Shared by [[sqTopK]] and [[IvfIndex.search]] (their byte-parity
    * contract depends on scoring through the same kernel). */
  private[similarity] def indexedSqWeights(queries: DataFrame,
      idCol: String, vecCol: String,
      quant: (Array[Double], Array[Double]))
      : (DataFrame, org.apache.spark.broadcast.Broadcast[Array[(Array[Double], Double)]]) = {
    val spark = queries.sparkSession
    val (mins, steps) = quant
    val qn = withNorm(queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv")), "qv", "qnv")
      .select(col("query_id"), col("qnv"))
    val rows = qn.orderBy(col("query_id")).collect()
    require(rows.iterator.map(_.get(0)).toSet.size == rows.length,
      "ANN query ids must be distinct (duplicate query_id in batch)")
    val weights = rows.map { r =>
      val q = r.getSeq[Double](1).toArray
      require(q.length == mins.length,
        s"SQ8: query of length ${q.length} against a dim-${mins.length} quantizer")
      val w = new Array[Double](q.length)
      var kq = 0.0; var j = 0
      while (j < q.length) { w(j) = q(j) * steps(j); kq += q(j) * mins(j); j += 1 }
      (w, kq)
    }
    val qiSchema = org.apache.spark.sql.types.StructType(Seq(
      qn.schema("query_id"),
      org.apache.spark.sql.types.StructField("qi",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val qIdx = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.toIndexedSeq.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.get(0), i) }, 1),
      qiSchema)
    (qIdx, spark.sparkContext.broadcast(weights))
  }

  /** Per-cell angular radii over the DECODED SQ8 vectors — the
    * [[cellRadii]] twin for [[CellCodec.Sq8]]: the SQ scan ranks
    * cosine(q̂, decoded(codes)), so the adaptive bound is sound iff the
    * radius is the max angle of the DECODED members to the centroid
    * (a radius on the raw floats would bound scores the scan never
    * computes). Same query-side fold as [[sqScorer]] with the
    * normalized centroids as the "queries"; zero-norm decodes score
    * null everywhere and are excluded (they cannot beat a threshold).
    * One aggregate over (cell, codes, dnorm); ≤ nCells rows collect. */
  private[similarity] def sqCellRadii(encoded: DataFrame,
      centroids: Array[Array[Double]],
      quant: (Array[Double], Array[Double])): Array[Double] = {
    val (mins, steps) = quant
    val cw = centroids.map { cen =>
      var n2 = 0.0; var i = 0
      while (i < cen.length) { n2 += cen(i) * cen(i); i += 1 }
      val inv = if (n2 > 0.0) 1.0 / math.sqrt(n2) else 1.0
      val w = new Array[Double](cen.length)
      var kc = 0.0; var j = 0
      while (j < cen.length) {
        w(j) = cen(j) * inv * steps(j)
        kc += cen(j) * inv * mins(j)
        j += 1
      }
      (w, kc)
    }
    val bc = encoded.sparkSession.sparkContext.broadcast(cw)
    val cosToCentroid = org.apache.spark.sql.functions.udf {
      (cell: Int, codes: Array[Byte], dnorm: Double) =>
        if (dnorm == 0.0) null.asInstanceOf[java.lang.Double]
        else {
          val (w, kc) = bc.value(cell)
          var s = kc; var j = 0
          while (j < codes.length) { s += w(j) * (codes(j) & 0xFF); j += 1 }
          java.lang.Double.valueOf(s / dnorm)
        }
    }
    val rows = encoded
      .withColumn("__mc",
        cosToCentroid(col("cell"), col("codes"), col("dnorm")))
      .filter(col("__mc").isNotNull)
      .groupBy(col("cell")).agg(min(col("__mc")).as("rcos"))
      .collect()
    val out = Array.fill(centroids.length)(1.0)
    rows.foreach(r => out(r.getInt(0)) = r.getDouble(1))
    out
  }

  /** IVFADC: the IVF coarse quantizer picks WHICH cells each query reads,
    * PQ codes decide HOW CHEAPLY the rows inside them are ranked — the
    * composition every billion-vector serving system runs (IVF alone
    * still reads full floats in probed cells; PQ alone still scans the
    * whole corpus). One corpus pass assigns cells AND encodes codes; the
    * ADC scan touches codes of probed cells only (~nProbe/nLists of the
    * corpus at ~64× fewer bytes per row); the refine stage re-reads
    * floats for |Q|·rerank shortlisted rows through broadcast joins.
    * Codes quantize the NORMALIZED vector directly (not the cell
    * residual — the refine stage makes residual coding's last-bit ADC
    * accuracy moot while plain coding keeps one codebook set shared
    * across cells and the encode independent of assignment).
    *
    * The persisted serving form is [[IvfIndex]] over [[CellCodec.Pq]];
    * right after its build the two are byte-equal (the x59 gate). Recall
    * floor pinned in x39.
    */
  def ivfPqTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nLists: Int = 16, nProbe: Int = 2,
      m: Int = 8, ksub: Int = 16, rerank: Int = 0): DataFrame = {
    val sc = candidates.sparkSession.sparkContext
    // persist: feeds the two training samples, the assign+encode pass,
    // and the refine re-read; callers own cache lifecycle (ivfTopK rule)
    val c = candidates.select(col(idCol).as("cand_id"),
        asDouble(col(vecCol)).as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE sampling job feeds both quantizer trainers
    val sample = hashSample(c)
    val books = trainPqCodebooksFrom(sample, m, ksub)
    val bc = sc.broadcast(books)
    // ONE corpus pass: nearest cell + PQ codes, floats dropped after
    val q = Quantizer.train(c, sample, nLists)
    val enc = q.assign(c)
      .select(col("cand_id"), col("cell"), pqEncoder(bc)(col("cv")).as("codes"))
    val probed = q.probe(queries, idCol, vecCol, nProbe)
    val (qIdx, bcD) = indexedDtabs(queries, idCol, vecCol, bc)
    val qd = probed
      .select(col("query_id"), col("cell"))
      .join(broadcast(qIdx), Seq("query_id"))
    val scored = enc.join(broadcast(qd), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        round(lit(1.0) - adcScorer(bcD)(col("codes"), col("qi")) / lit(2.0), 6))
      .drop("codes", "qi")
    refine(scored, c, queries, idCol, vecCol, k, rerank)
  }

  /** LSH-bucketed approximate top-k: queries only score candidates whose
    * hyperplane signature matches (single-probe), or — with
    * `multiProbe = true` — whose signature is within Hamming distance 1
    * of the query's (classic multi-probe LSH: a near neighbor most
    * often lands across exactly one marginal hyperplane, so flipping
    * each bit once recovers most single-probe misses). Only the QUERY
    * side explodes (nPlanes+1 probe rows per query, still broadcast);
    * the corpus keeps one bucket row per vector, and a candidate can
    * match at most one probe (probed buckets are distinct), so no
    * dedup pass is needed. Recall measured at nPlanes=4 over the
    * testdata embeddings: .10/.14/.16 single-probe → .38/.48/.48
    * multi-probe, at ≤ 5× the scored pairs of single-probe vs the
    * 2^nPlanes× of brute force. */
  def lshTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, nPlanes: Int = 6,
      multiProbe: Boolean = false): DataFrame = {
    val qb = lshBuckets(queries, idCol, vecCol, nPlanes)
      .withColumnRenamed("id", "query_id")
    val probed =
      if (!multiProbe) qb
      else qb.select(col("query_id"), explode(array(
        col("bucket") +: (0 until nPlanes).map(p =>
          col("bucket").bitwiseXOR(lit(1 << p))): _*)).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .join(probed, Seq("query_id"))
    val c = candidates.select(col(idCol).as("cand_id"), asDouble(col(vecCol)).as("cv"))
      .join(lshBuckets(candidates, idCol, vecCol, nPlanes)
        .withColumnRenamed("id", "cand_id"), Seq("cand_id"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", round(cosine(col("qv"), col("cv")), 6))
    ranked(scored, k)
  }
}
