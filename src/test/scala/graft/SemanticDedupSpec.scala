package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Quantizer

/** Round-11 semantic-dedup scale hygiene: exact-vector pre-collapse,
  * loud cell cap, survivor policy, O(log d) propagation, and the
  * large-k hierarchical quantizer. */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  test("identical-embedding mega-group pre-collapses: one canonical, no quadratic pairing") {
    // 2000 bitwise-identical embeddings + a handful of distinct ones:
    // the un-collapsed within-cell self-join would generate ~2M pairs;
    // the collapse reduces the group to 1999 star edges. The suite
    // budget itself is the bound — all-pairs at this size is visible,
    // star edges are not.
    val mega = (100L until 2100L).map(i => (i, Seq(3.0f, 4.0f, 0.0f)))
    val distinct = Seq(
      (1L, Seq(0.0f, 0.0f, 7.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)))
    val docs = (mega ++ distinct).toDF("doc_id", "embedding")
    val got = Dedup.semanticDedup(docs, "doc_id", "embedding",
        nClusters = 4, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(Dedup.lastSemanticCap == (0L, 0L))
    // mega-group: canonical 100, everyone labelled 100
    assert(got(100L) == (100L, 1))
    (101L until 2100L).foreach(i => assert(got(i) == (100L, 0), s"doc $i"))
    // distinct orthogonal vectors survive as singletons
    assert(got(1L) == (1L, 1) && got(2L) == (2L, 1))
  }

  test("scaled copies of one vector share a normalized hash group") {
    // power-of-two scales normalize bit-identically (the x83 gate's
    // construction) — the collapse must catch them, not just bitwise
    // duplicates of the raw array
    val docs = Seq(
      (1L, Seq(1.0f, 2.0f, 2.0f)),
      (2L, Seq(0.5f, 1.0f, 1.0f)),   // 0.5-scaled copy
      (3L, Seq(2.0f, 4.0f, 4.0f)),   // 2x-scaled copy
      (9L, Seq(5.0f, 0.0f, 0.0f))
    ).toDF("doc_id", "embedding")
    val got = Dedup.semanticDedup(docs, "doc_id", "embedding",
        nClusters = 2, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(got(1L) == (1L, 1))
    assert(got(2L) == (1L, 0) && got(3L) == (1L, 0))
    assert(got(9L) == (9L, 1))
  }

  test("zero vectors never pair and never collapse — each its own singleton") {
    val docs = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)), (3L, Seq(0.0f, 0.0f)),
      (4L, Seq(1.0f, 0.0f))
    ).toDF("doc_id", "embedding")
    val got = Dedup.semanticDedup(docs, "doc_id", "embedding",
        nClusters = 2, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(got == Map(
      1L -> (1L, 1), 2L -> (2L, 1), 3L -> (3L, 1), 4L -> (4L, 1)))
  }

  test("cell cap drops oversized cells LOUDLY; exact groups still dedup through it") {
    // 40 distinct same-direction-ish vectors land in one cell (they all
    // pair above threshold), plus an exact-duplicate pair. maxCell = 8
    // excludes the big cell from cosine pairing — but the exact pair
    // dedups anyway (group edges bypass the cap), and the drop is
    // accounted.
    val dense = (10L until 50L).map { i =>
      (i, Seq(100.0f, i.toFloat / 1000.0f))
    }
    val exactPair = Seq(
      (90L, Seq(0.0f, 0.0f, 0.0f, 5.0f)), (91L, Seq(0.0f, 0.0f, 0.0f, 5.0f)))
    // exact pair is 4-dim vs dense 2-dim: give everything 4 dims
    val docs = (dense.map { case (i, v) => (i, v ++ Seq(0.0f, 0.0f)) }
      ++ exactPair).toDF("doc_id", "embedding")
    val got = Dedup.semanticDedup(docs, "doc_id", "embedding",
        nClusters = 2, threshold = 0.95, maxCell = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val (cells, rows) = Dedup.lastSemanticCap
    assert(cells >= 1L && rows >= 40L, s"cap not recorded: $cells/$rows")
    // capped cell: every dense vector survives as a singleton
    (10L until 50L).foreach(i => assert(got(i) == (i, 1), s"doc $i"))
    // exact group still collapses (star edge, not cosine pairing)
    assert(got(90L) == (90L, 1) && got(91L) == (90L, 0))
    // control: without the cap the dense cell pairs and collapses
    val free = Dedup.semanticDedup(docs, "doc_id", "embedding",
        nClusters = 2, threshold = 0.95)
      .filter($"is_canonical" === 1).count()
    assert(free == 2L) // one dense survivor + one exact-pair survivor
    assert(Dedup.lastSemanticCap == (0L, 0L))
  }

  test("cap accounting is keyed per calling thread, not JVM-global") {
    // a capping run on ANOTHER thread must not clobber this thread's
    // accounting — concurrent semanticDedup / SemDeDupIndex.append runs
    // on one driver each read the counts their own call wrote
    val dense = (10L until 50L).map(i =>
      (i, Seq(100.0f, i.toFloat / 1000.0f))).toDF("doc_id", "embedding")
    Dedup.semanticDedup(dense, "doc_id", "embedding",
      nClusters = 2, threshold = 0.95).count() // this thread: uncapped
    assert(Dedup.lastSemanticCap == (0L, 0L))
    @volatile var otherCap: (Long, Long) = null
    val t = new Thread(() => {
      Dedup.semanticDedup(dense, "doc_id", "embedding",
        nClusters = 2, threshold = 0.95, maxCell = 8).count()
      otherCap = Dedup.lastSemanticCap
    })
    t.start(); t.join()
    assert(otherCap._1 >= 1L, s"capping thread saw $otherCap")
    assert(Dedup.lastSemanticCap == (0L, 0L),
      "another thread's capped run clobbered this thread's accounting")
    // cross-thread observability (r12 ADVICE): the worker thread's
    // capped run is visible here through the sticky JVM-global view —
    // a monitor that never ran a dedup itself still sees it
    assert(Dedup.lastSemanticCapGlobal == otherCap,
      s"global snapshot ${Dedup.lastSemanticCapGlobal} != worker's $otherCap")
  }

  test("keepPolicy=farthest keeps the most atypical member; clusters unchanged") {
    // ten identical u-direction vectors (ids 1-10) + one 15-degree
    // neighbor (id 50): all eleven form one cluster (cos 15 deg = .966);
    // the trained centroid is pulled to u by the 10:1 mass, so the
    // farthest member is 50 — min-id would keep 1.
    val c15 = math.cos(math.toRadians(15)).toFloat
    val s15 = math.sin(math.toRadians(15)).toFloat
    val docs = ((1L to 10L).map(i => (i, Seq(1.0f, 0.0f)))
      :+ (50L, Seq(c15, s15))).toDF("doc_id", "embedding")
    val minId = Dedup.semanticDedup(docs, "doc_id", "embedding",
        nClusters = 1, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(minId.values.forall(_._1 == 1L))
    assert(minId(1L)._2 == 1 && minId(50L)._2 == 0)
    val far = Dedup.semanticDedup(docs, "doc_id", "embedding",
        nClusters = 1, threshold = 0.95, keepPolicy = "farthest")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    // same clusters, canonical moved to the atypical member
    assert(far.values.forall(_._1 == 1L))
    assert(far(50L)._2 == 1)
    assert((1L to 10L).forall(far(_)._2 == 0))
    assert(far.values.count(_._2 == 1) == 1)
  }

  test("farthest ≡ min-id cluster membership on a 64-cluster corpus") {
    // r16 ADVICE: the x85 slim left cross-policy membership parity
    // pinned only on 1- and 8-cluster fixtures — this is the
    // multi-cluster case. 64 three-member groups (base, exact
    // 0.5-scaled twin, 10° neighbor) over seeded random 64-dim
    // directions (cross-group cosines ~N(0, 1/64): far under the .95
    // threshold), trained at nClusters = 64. The two policies share one
    // deterministic training pass, so they must agree on the PARTITION
    // exactly — same (doc → cluster) map, one canonical per cluster —
    // and differ only in WHICH member is elected; scaled twins tie
    // their base bit-exactly (power-of-two scale) and so are never
    // canonical under either policy.
    val nG = 64
    val rnd = new scala.util.Random(1707L)
    val docs = (0 until nG).flatMap { g =>
      val raw = Array.fill(64)(rnd.nextGaussian())
      val n1 = math.sqrt(raw.map(x => x * x).sum)
      val b = raw.map(_ / n1)
      val raw2 = Array.fill(64)(rnd.nextGaussian())
      val d = b.zip(raw2).map { case (x, y) => x * y }.sum
      val o = raw2.zip(b).map { case (y, x) => y - d * x }
      val n2 = math.sqrt(o.map(x => x * x).sum)
      val c10 = math.cos(math.toRadians(10))
      val s10 = math.sin(math.toRadians(10))
      val nb = b.zip(o).map { case (x, y) => c10 * x + s10 * y / n2 }
      Seq((3L * g, b.toSeq), (3L * g + 1, b.map(_ * 0.5).toSeq),
        (3L * g + 2, nb.toSeq))
    }.toDF("doc_id", "embedding")
    def run(policy: String) = Dedup.semanticDedup(docs, "doc_id",
        "embedding", nClusters = nG, threshold = 0.95, keepPolicy = policy)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val minId = run("min-id")
    val far = run("farthest")
    // identical partition: same labels doc-for-doc
    assert(minId.view.mapValues(_._1).toMap ==
      far.view.mapValues(_._1).toMap, "cluster memberships diverged")
    // the fixture is genuinely multi-cluster and groups are intact:
    // every group's three members share one cluster, 64 clusters total
    val clusters = minId.values.map(_._1).toSet
    assert(clusters.size == nG, s"expected $nG clusters, got ${clusters.size}")
    (0 until nG).foreach { g =>
      assert(minId(3L * g)._1 == minId(3L * g + 1)._1 &&
        minId(3L * g)._1 == minId(3L * g + 2)._1, s"group $g split")
    }
    // exactly one canonical per cluster under both policies
    Seq(minId, far).foreach { m =>
      m.groupBy(_._2._1).foreach { case (c, members) =>
        assert(members.values.count(_._2 == 1) == 1,
          s"cluster $c canonical count != 1")
      }
    }
    // scaled twins never canonical; the policies actually disagree
    // somewhere (the neighbor out-scores the twin-weighted centroid)
    (0 until nG).foreach(g => assert(minId(3L * g + 1)._2 == 0 &&
      far(3L * g + 1)._2 == 0, s"group $g twin elected"))
    assert(minId != far, "farthest never moved a canonical — fixture lost its power")
  }

  test("keepPolicy=farthest ties (exact copies) resolve to the smaller id") {
    // identical vectors score bit-identically against the centroid, so
    // the tie-break must pick the smaller id deterministically
    val docs = Seq(
      (7L, Seq(3.0f, 4.0f)), (3L, Seq(3.0f, 4.0f)), (5L, Seq(3.0f, 4.0f))
    ).toDF("doc_id", "embedding")
    val far = Dedup.semanticDedup(docs, "doc_id", "embedding",
        nClusters = 1, threshold = 0.95, keepPolicy = "farthest")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(far == Map(3L -> (3L, 1), 5L -> (3L, 0), 7L -> (3L, 0)))
  }

  test("semanticDedup rejects non-integral id columns loudly") {
    val docs = Seq(("a", Seq(1.0f, 0.0f))).toDF("doc_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(docs, "doc_id", "embedding")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("depth-100 chain converges in O(log d) rounds under default maxRounds") {
    val docs = (0L to 100L).toDF("doc_id")
    val pairs = (0L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.clusterAssignmentsWithRounds(
      docs, "doc_id", pairs, maxRounds = 20)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 100L).forall(got(_) == 0L))
    // two edge-only rounds (the star fast path pays no hop join), then
    // reach doubles per round, + the final fixpoint-detection round;
    // pure edge propagation needed ~100
    assert(rounds <= 11, s"path halving regressed: $rounds rounds for depth 100")
  }

  test("hierarchical quantizer trains past the flat 256-cell ceiling, deterministically") {
    // 3000 distinct 8-dim vectors, k = 300 past the flat bound: the flat
    // driver trainer cannot produce this many centroids from its
    // bounded sample discipline at quality; the two-level path must
    // return ≥ k cells and survive a repartition byte-identically.
    val dims = (0 until 8).map(d =>
      (pmod(xxhash64($"id", lit(d)), lit(1000)).cast("double") / 500.0 - 1.0))
    val vecs = spark.range(3000).select($"id".as("cand_id"),
      array(dims: _*).as("cv"))
    val q = Quantizer.train(vecs, 300) match {
      case r: Quantizer.Routed => r
      case other => fail(s"k = 300 trained a ${other.getClass.getSimpleName}")
    }
    val cents = q.cells
    assert(cents.length == q.nCells && q.nCells >= 300)
    assert(cents.forall(_.length == 8))
    val cents2 = Quantizer.train(vecs.repartition(7), 300).cells
    assert(cents.length == cents2.length)
    cents.zip(cents2).zipWithIndex.foreach { case ((a, b), i) =>
      assert(java.util.Arrays.equals(a, b), s"centroid $i differs by layout")
    }
    // the trained cells genuinely spread: routed assignment occupies
    // well past the flat ceiling's reach for this corpus
    val occupied = q.assign(vecs)
      .select("cell").distinct().count()
    assert(occupied > 150, s"only $occupied cells occupied")
  }

  test("two-level routed assignment = flat argmin on separated branches; scores bit-equal") {
    // hand-built quantizer: two orthogonal branches, two subs each —
    // routing is unambiguous, so O(sqrt k) routing must agree with the
    // O(k) flat argmin cell-for-cell, and the scored variants bit-equal
    val q = Quantizer.Routed(
      top = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0)),
      subs = Array(
        Array(Array(1.0, 0.1, 0.0, 0.0), Array(1.0, -0.1, 0.0, 0.0)),
        Array(Array(0.0, 0.0, 1.0, 0.1), Array(0.0, 0.0, 1.0, -0.5))))
    assert(q.offsets.toSeq == Seq(0, 2) && q.nCells == 4)
    val vecs = Seq(
      (1L, Seq(2.0, 0.3, 0.0, 0.0)),  // branch 0, sub 0 -> cell 0
      (2L, Seq(1.0, -0.2, 0.0, 0.0)), // branch 0, sub 1 -> cell 1
      (3L, Seq(0.0, 0.0, 3.0, 0.4)),  // branch 1, sub 0 -> cell 2
      (4L, Seq(0.0, 0.0, 1.0, -0.6)), // branch 1, sub 1 -> cell 3
      (5L, Seq(0.0, 0.0, 0.0, 0.0))   // zero vector routes somewhere stable
    ).toDF("cand_id", "cv")
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("cand_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val routed = cells(q.assign(vecs))
    assert(routed(1L) == 0 && routed(2L) == 1 &&
      routed(3L) == 2 && routed(4L) == 3)
    assert(routed == cells(Quantizer.Flat(q.cells).assign(vecs)))
    val rs = q.assignScored(vecs)
      .select("cand_id", "cell", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val fs = Quantizer.Flat(q.cells).assignScored(vecs)
      .select("cand_id", "cell", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(rs == fs, s"scored variants diverge: $rs vs $fs")
  }

  test("semanticDedup past FlatQuantizerMax routes two-level and still catches twins") {
    val dims = (0 until 8).map(d =>
      (pmod(xxhash64(when($"id" >= 10000L, $"id" - 10000L).otherwise($"id"),
        lit(d)), lit(1000)).cast("double") / 500.0 - 1.0) *
        when($"id" >= 10000L, 0.5).otherwise(1.0))
    val base = spark.range(600).toDF("id")
    val docs = base.unionByName(
        base.filter(pmod($"id", lit(10)) === 0).select(($"id" + 10000L).as("id")))
      .select($"id".as("doc_id"), array(dims: _*).as("embedding"))
    val got = Dedup.semanticDedup(docs, "doc_id", "embedding",
        nClusters = 300, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(got.size == 660)
    // every planted 0.5-scaled twin dedups into its base's cluster
    (0L until 600L by 10).foreach { i =>
      val (lab, canon) = got(i + 10000L)
      assert(canon == 0 && lab <= i, s"twin ${i + 10000L} not deduped: $lab")
    }
  }

  test("semanticPairsLocal (driver pair generation) emits exactly the " +
      "distributed semanticPairsAssigned pair set on a mixed fixture " +
      "(exact twins across the batch boundary, zero-norm row, over-cap " +
      "cell, near/far pairs)") {
    // cell 0: base + its power-of-two-scaled exact twin (old) + a near
    // dup above threshold (new) + a far vector; cell 1: over-cap (5
    // reps, maxCell 3) - excluded from pairing but counted; cell 2: a
    // zero-norm row + a normal pair
    def v(seed: Int): IndexedSeq[java.lang.Double] = {
      val rnd = new scala.util.Random(seed.toLong)
      IndexedSeq.tabulate(8)(_ => java.lang.Double.valueOf(rnd.nextGaussian()))
    }
    def scale(x: IndexedSeq[java.lang.Double], f: Double) =
      x.map(d => java.lang.Double.valueOf(d.doubleValue() * f))
    def near(x: IndexedSeq[java.lang.Double]) =
      x.zipWithIndex.map { case (d, i) =>
        java.lang.Double.valueOf(d.doubleValue() + (if (i == 0) 0.01 else 0.0)) }
    val zero = IndexedSeq.fill(8)(java.lang.Double.valueOf(0.0))
    val rows: Seq[(Long, IndexedSeq[java.lang.Double], Int, Boolean)] = Seq(
      (1L, v(1), 0, true), (2L, scale(v(1), 0.5), 0, false),
      (3L, near(v(1)), 0, true), (4L, v(4), 0, false),
      (10L, v(10), 1, true), (11L, v(11), 1, false),
      (12L, v(12), 1, true), (13L, v(13), 1, false), (14L, v(14), 1, true),
      (20L, zero, 2, true), (21L, v(21), 2, false),
      (22L, near(v(21)), 2, true))
    val maxCell = 3
    val local = Dedup.semanticPairsLocal(rows, threshold = 0.95,
      maxCell = maxCell).get.sorted
    val localCap = Dedup.lastSemanticCap
    val distributed = Dedup.semanticPairsAssigned(
        rows.toDF("cand_id", "cv", "cell", "__new"),
        "__new", threshold = 0.95, maxCell = maxCell)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val distCap = Dedup.lastSemanticCap
    assert(local == distributed && local.nonEmpty,
      s"driver pair set $local != distributed $distributed")
    assert(localCap == distCap && localCap == (1L, 5L),
      s"cap accounting diverged: $localCap vs $distCap")
    // the exact-twin edge is present and the over-cap cell emitted none
    assert(local.contains((1L, 2L)))
    assert(!local.exists { case (a, b) => a >= 10L && a <= 14L })
  }
}
