package graft

import org.apache.spark.sql.DataFrame
import graft.similarity.{Ann, Quantizer}

/** Query-adaptive IVF probing ([[Ann.ivfTopKAdaptive]]): the cell bound
  * cos(max(0, θ(q̂, ĉ) − radius)) may only prune cells that provably
  * cannot beat the current k-th hit — so adaptive search with the cap at
  * nLists must be BYTE-EQUAL to a full probe on ANY corpus (the
  * soundness certificate), while on clustered corpora the bound must
  * actually fire (fewer cells probed than the cap — the 100 TB IO win).
  * Multi-assignment ([[Quantizer.Flat.assign]]) is the storage-premium
  * recall dial: assign = 1 reproduces single assignment exactly, and
  * assign = 2 at fixed probes can only add candidate coverage. */
class AnnAdaptiveSpec extends SparkSpec {
  import spark.implicits._

  // near-orthogonal gaussian corpus — the adversarial shape (vacuous
  // radii): adaptive must degrade to the fixed cap, never below it
  private def gaussian(ids: Range): DataFrame =
    ids.map { i =>
      val rnd = new scala.util.Random(i.toLong)
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")

  // 4 tight orthogonal clusters (noise 0.02): cell radii are small, so
  // the bound prunes nearly every non-home cell
  private def clustered(ids: Range): DataFrame =
    ids.map { i =>
      val rnd = new scala.util.Random(i.toLong)
      val c = (i % 4) * 4
      (i.toLong,
        (0 until 16).map(d =>
          (if (d == c) 1.0 else 0.0) + rnd.nextGaussian() * 0.02)
          .map(_.toFloat))
    }.toDF("vec_id", "embedding")

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.orderBy($"query_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  test("full-cap adaptive is byte-equal to a full probe (soundness) on " +
      "both corpus shapes") {
    for (mk <- Seq(gaussian _, clustered _)) {
      val c = mk(0 until 300)
      val q = mk(0 until 5)
      val full = rows(Ann.ivfTopK(q, c, "vec_id", "embedding", k = 5,
        nLists = 8, nProbe = 8))
      val adaptive = rows(Ann.ivfTopKAdaptive(q, c, "vec_id", "embedding",
        k = 5, nLists = 8, nProbeMin = 2, nProbeMax = 8))
      assert(adaptive == full && adaptive.nonEmpty)
      spark.catalog.clearCache()
    }
  }

  test("nProbeMin = nProbeMax degenerates to the fixed-probe ivfTopK") {
    val c = gaussian(0 until 300)
    val q = gaussian(0 until 5)
    val fixed = rows(Ann.ivfTopK(q, c, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = 3))
    val degenerate = rows(Ann.ivfTopKAdaptive(q, c, "vec_id", "embedding",
      k = 5, nLists = 8, nProbeMin = 3, nProbeMax = 3))
    assert(degenerate == fixed && degenerate.nonEmpty)
    spark.catalog.clearCache()
  }

  test("the bound actually prunes on clustered corpora: phase B probes " +
      "fewer cells than the cap allows") {
    val c = clustered(0 until 400)
    val q = clustered(0 until 8)
    val cc = c.select($"vec_id".as("cand_id"),
      $"embedding".cast("array<double>").as("cv")).persist()
    val quant = Quantizer.train(cc, 8)
    val assigned = quant.assign(cc, 1)
    val radii = Ann.cellRadii(assigned, quant.cells)
    // tight clusters ⇒ every cell's min member-cos is high
    assert(radii.forall(_ > 0.9), s"radii not tight: ${radii.mkString(",")}")
    val qA = quant.probe(q, "vec_id", "embedding", 1)
    val scoredA = Ann.scoredCells(assigned, qA)
      .select($"query_id", $"cand_id", $"cosine")
    val kth = Ann.kthCosine(scoredA, 5)
    val qB = quant.extraProbe(q, "vec_id", "embedding", radii, kth, 1, 8)
    // cap allows 7 extra cells per query; the bound must cut that hard
    val extra = qB.groupBy($"query_id").count().collect()
      .map(_.getLong(1)).toSeq
    assert(extra.forall(_ <= 4),
      s"bound failed to prune on tight clusters: extra cells = $extra")
    // and the pruned result still equals the exact full probe
    val adaptive = rows(Ann.ivfTopKAdaptive(q, c, "vec_id", "embedding",
      k = 5, nLists = 8, nProbeMin = 1, nProbeMax = 8))
    val full = rows(Ann.ivfTopK(q, c, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = 8))
    assert(adaptive == full)
    cc.unpersist()
    spark.catalog.clearCache()
  }

  test("assign = 1 multi-assignment reproduces assignCells exactly; " +
      "assign = 2 stores each vector in two distinct cells") {
    val c = gaussian(0 until 200)
    val cc = c.select($"vec_id".as("cand_id"),
      $"embedding".cast("array<double>").as("cv")).persist()
    val quant = Quantizer.train(cc, 8)
    val one = quant.assign(cc, 1)
      .select($"cand_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val plain = Quantizer.Flat(quant.cells).assign(cc)
      .select($"cand_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(one == plain)
    val two = quant.assign(cc, 2)
      .select($"cand_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(two.size == 2 * plain.size && two.distinct.size == two.size)
    // the primary assignment is contained in the multi-assignment
    assert(plain.toSet.subsetOf(two.toSet))
    cc.unpersist()
    spark.catalog.clearCache()
  }

  test("multi-assignment at fixed probes never loses recall vs single " +
      "assignment, and full-cap byte-parity holds with assign = 2") {
    val c = gaussian(0 until 300)
    val q = gaussian(0 until 8)
    val exact = Ann.bruteForceTopK(q, c, "vec_id", "embedding", k = 5)
      .persist()
    def recall(approx: DataFrame): Double =
      Ann.recallAtK(approx, exact).head().getDouble(0)
    val r1 = recall(Ann.ivfTopKAdaptive(q, c, "vec_id", "embedding", k = 5,
      nLists = 8, nProbeMin = 3, nProbeMax = 3, assign = 1))
    val r2 = recall(Ann.ivfTopKAdaptive(q, c, "vec_id", "embedding", k = 5,
      nLists = 8, nProbeMin = 3, nProbeMax = 3, assign = 2))
    assert(r2 >= r1, s"multi-assign recall $r2 < single-assign $r1")
    val full = rows(Ann.ivfTopK(q, c, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = 8))
    val adaptive2 = rows(Ann.ivfTopKAdaptive(q, c, "vec_id", "embedding",
      k = 5, nLists = 8, nProbeMin = 2, nProbeMax = 8, assign = 2))
    assert(adaptive2 == full,
      "assign=2 full-cap adaptive diverged from the full probe")
    exact.unpersist()
    spark.catalog.clearCache()
  }

  test("assign = 2 full-cap byte-parity on a CLUSTERED corpus, where " +
      "pruning actually fires (round-13 review: the threshold must rank " +
      "distinct candidates, not duplicated multi-assign rows)") {
    // tight clusters make radii non-vacuous, so an over-tight k-th
    // threshold (ranked over duplicate (query, cand) rows) WOULD prune a
    // cell holding a true top-k hit here — the gaussian variant above
    // never prunes and cannot catch that
    val c = clustered(0 until 400)
    val q = clustered(0 until 8)
    val full = rows(Ann.ivfTopK(q, c, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = 8))
    // nProbeMin = 2 so a candidate can have BOTH its cells probed in
    // phase A — the duplicate-row shape the threshold must collapse
    val adaptive2 = rows(Ann.ivfTopKAdaptive(q, c, "vec_id", "embedding",
      k = 5, nLists = 8, nProbeMin = 2, nProbeMax = 8, assign = 2))
    assert(adaptive2 == full && adaptive2.nonEmpty,
      "assign=2 full-cap adaptive diverged from the full probe on the " +
        "clustered corpus")
    spark.catalog.clearCache()
  }

  // ---- routed regime (nLists past the flat bound): branch-envelope ----
  // ---- pruning must keep the same soundness certificate          ----

  test("ROUTED full-cap adaptive is byte-equal to a full probe on both " +
      "corpus shapes (nLists past the flat bound)") {
    for (mk <- Seq(gaussian _, clustered _)) {
      val c = mk(0 until 400)
      val q = mk(0 until 5)
      // nProbe/nProbeMax = 1000 ≥ nCells — both paths cap at "all cells"
      val full = rows(Ann.ivfTopK(q, c, "vec_id", "embedding", k = 5,
        nLists = 300, nProbe = 1000))
      val adaptive = rows(Ann.ivfTopKAdaptive(q, c, "vec_id", "embedding",
        k = 5, nLists = 300, nProbeMin = 2, nProbeMax = 1000))
      assert(adaptive == full && adaptive.nonEmpty,
        "routed full-cap adaptive diverged from the routed full probe")
      spark.catalog.clearCache()
    }
  }

  test("ROUTED nProbeMin = nProbeMax degenerates to the fixed routed " +
      "probe") {
    val c = gaussian(0 until 400)
    val q = gaussian(0 until 5)
    val fixed = rows(Ann.ivfTopK(q, c, "vec_id", "embedding", k = 5,
      nLists = 300, nProbe = 3))
    val degenerate = rows(Ann.ivfTopKAdaptive(q, c, "vec_id", "embedding",
      k = 5, nLists = 300, nProbeMin = 3, nProbeMax = 3))
    assert(degenerate == fixed && degenerate.nonEmpty)
    spark.catalog.clearCache()
  }

  test("ROUTED branch envelope prunes on clustered corpora: phase B " +
      "emits far fewer cells than the cap, and the pruned result still " +
      "equals the full probe") {
    // 1600 rows over ~300 cells ≈ 5.3 members/cell and nProbeMin = 4:
    // every query's phase A yields ≥ k hits, so kthCosine emits a
    // threshold for ALL queries (a query with < k phase-A hits probes
    // to the cap by design — that is the soundness rule, not pruning)
    val c = clustered(0 until 1600)
    val q = clustered(0 until 8)
    val cc = c.select($"vec_id".as("cand_id"),
      $"embedding".cast("array<double>").as("cv")).persist()
    val q2 = Quantizer.Routed.train(cc, Ann.hashSample(cc), 300)
    val assigned = q2.assign(cc).persist()
    val radii = Ann.cellRadii(assigned, q2.cells)
    val qA = q2.probe(q, "vec_id", "embedding", 4)
    val scoredA = Ann.scoredCells(assigned, qA)
      .select($"query_id", $"cand_id", $"cosine")
    val kth = Ann.kthCosine(scoredA, 5)
    assert(kth.count() == 8,
      "test premise broke: some query has < k phase-A hits, so its " +
        "phase B probes to the cap and the pruning assertion is vacuous")
    val qB = q2.extraProbe(q, "vec_id", "embedding", radii, kth, 4, 1000)
    // the cap allows every remaining cell (~q2.nCells − 4); tight
    // orthogonal clusters must cut that to a small neighborhood
    val extra = qB.groupBy($"query_id").count().collect()
      .map(_.getLong(1)).toSeq
    assert(extra.forall(_ <= q2.nCells / 2),
      s"branch envelope failed to prune: extra cells = $extra " +
        s"of ${q2.nCells}")
    val adaptive = rows(Ann.ivfTopKAdaptive(q, c, "vec_id", "embedding",
      k = 5, nLists = 300, nProbeMin = 4, nProbeMax = 1000))
    val full = rows(Ann.ivfTopK(q, c, "vec_id", "embedding", k = 5,
      nLists = 300, nProbe = 1000))
    assert(adaptive == full)
    assigned.unpersist(); cc.unpersist()
    spark.catalog.clearCache()
  }
}
