package graft

import org.apache.spark.sql.functions._
import graft.similarity.Ann

/** OPQ pre-rotation (Ann.opqRotation / pqTopK(opq = true)): the
  * eigenvalue allocation must balance per-subspace variance products,
  * the rotation must preserve cosine (it is orthonormal — ranking
  * semantics cannot move), and on a CORRELATED corpus the rotated
  * codebooks must recover recall that contiguous-block PQ loses. */
class AnnOpqSpec extends SparkSpec {
  import spark.implicits._

  test("eigenvalue allocation balances subspace log-variance products") {
    // sample with a diagonal second moment diag(8,4,2,1): ± sqrt(λ)·e_i
    // pairs — eigenbasis is the axes, so subspace membership is readable
    // off each rotation row's single nonzero coordinate
    val lams = Array(8.0, 4.0, 2.0, 1.0)
    val sample = lams.indices.flatMap { i =>
      val v = new Array[Double](4); v(i) = math.sqrt(lams(i))
      val w = new Array[Double](4); w(i) = -math.sqrt(lams(i))
      Seq(v, w)
    }.toArray
    val rot = Ann.opqRotation(sample, m = 2)
    assert(rot.length == 4 && rot.forall(_.length == 4))
    def axisOf(row: Array[Double]): Int = {
      val i = row.indices.maxBy(j => math.abs(row(j)))
      assert(math.abs(math.abs(row(i)) - 1.0) < 1e-9, row.toSeq.toString)
      i
    }
    // greedy: 8→b0, 4→b1, 2→b1 (log4 < log8), 1→b0 — products 8 ≡ 8
    val sub0 = Set(axisOf(rot(0)), axisOf(rot(1)))
    val sub1 = Set(axisOf(rot(2)), axisOf(rot(3)))
    assert(sub0 == Set(0, 3) && sub1 == Set(1, 2),
      s"allocation $sub0 / $sub1 != {8,1} / {4,2}")
  }

  test("rotation preserves cosine to 6dp on literal vectors") {
    val sample = (0 until 64).map { i =>
      Array.tabulate(8)(j =>
        (((i * 7 + j * 3) % 11) - 5) / 5.0 * math.pow(2.0, -j / 2.0))
    }.toArray
    val rot = Ann.opqRotation(sample, m = 4)
    val vecs = Seq(
      (1L, Seq(1.0, 0.5, -0.25, 0.0, 2.0, -1.0, 0.125, 0.75)),
      (2L, Seq(-0.5, 1.5, 0.25, -2.0, 0.0, 1.0, -0.75, 0.125)),
      (3L, Seq(0.25, 0.25, 0.25, 0.25, -0.25, -0.25, -0.25, -0.25)))
      .toDF("id", "v")
    val a = vecs.as("a"); val b = vecs.as("b")
    val both = a.crossJoin(b).filter($"a.id" < $"b.id")
    val got = both.select(
        round(graft.functions.VectorFunctions.cosine($"a.v", $"b.v"), 6)
          .as("orig"),
        round(graft.functions.VectorFunctions.cosine(
          Ann.rotateCol($"a.v", rot), Ann.rotateCol($"b.v", rot)), 6)
          .as("rot"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"cosine moved under rotation: $r"))
  }

  test("rotateColBc (RotateVec kernel) is bit-equal to the literal " +
      "dot-array form, including short vectors and null elements") {
    // irrational-ish rotation rows so accumulation-order differences
    // would show; the kernel must mirror ArrayDot exactly (sequential
    // sum over the min-length prefix, null elements contribute 0)
    val sample = (0 until 64).map { i =>
      Array.tabulate(8)(j =>
        math.sin(i * 1.7 + j * 0.9) * math.pow(2.0, -j / 3.0))
    }.toArray
    val rot = Ann.opqRotation(sample, m = 4)
    val bc = spark.sparkContext.broadcast(rot)
    val vecs = Seq(
      (1L, Seq[java.lang.Double](0.1, -0.7, 1e-300, 3.3, -2.2, 0.5, 7.7, -0.25)),
      (2L, Seq[java.lang.Double](1.0 / 3.0, math.Pi, -math.E, 0.0, 1e300, -1e-17, 2.0, 4.0)),
      (3L, Seq[java.lang.Double](0.5, -0.5)), // shorter than d: min-length prefix
      (4L, Seq[java.lang.Double](0.25, null, 0.75, -0.125, 1.5, null, 0.0, 2.0)),
      (5L, null)) // null vector: the one documented divergence, pinned below
      .toDF("id", "v")
    val got = vecs.select($"id",
        Ann.rotateCol($"v", rot).as("lit"),
        Ann.rotateColBc($"v", bc).as("bcf"))
      .collect()
    val (nullVec, rows) = got.partition(_.getLong(0) == 5L)
    nullVec.foreach { r =>
      assert(r.isNullAt(2), s"RotateVec of a null vector must be NULL: $r")
      assert(r.getSeq[Any](1).length == rot.length && r.getSeq[Any](1).forall(_ == null),
        s"literal form of a null vector must be d nulls: $r")
    }
    assert(nullVec.length == 1)
    rows.foreach { r =>
      val a = r.getSeq[Double](1); val b = r.getSeq[Double](2)
      assert(a.length == b.length, s"row ${r.getLong(0)} lengths differ")
      a.indices.foreach(i => assert(
        java.lang.Double.doubleToRawLongBits(a(i)) ==
          java.lang.Double.doubleToRawLongBits(b(i)),
        s"row ${r.getLong(0)} dim $i: ${a(i)} != ${b(i)} (bitwise)"))
    }
  }

  test("opq beats contiguous-block PQ on a correlated corpus; refine exact") {
    // energy decays √2 per dim (64:1 across the 16 dims): contiguous
    // 2-dim subspaces see uneven variance, the OPQ allocation re-deals
    // high and low λ across all 8 subspaces. (A far steeper decay is
    // NOT a harder case: normalization collapses the corpus toward the
    // dominant axis and the exact top-k itself becomes noise-driven —
    // measured pq 0.358 / opq 0.350 at 2^-j, vs the clear structural
    // win here.)
    val d = 16
    val dims = (0 until d).map(j =>
      ((pmod(xxhash64($"id", lit(j)), lit(2001)).cast("double") / 1000.0
        - 1.0) * math.pow(2.0, -j / 2.0)).cast("double"))
    val corpus = spark.range(3000)
      .select($"id".as("vec_id"), array(dims: _*).as("embedding"))
      .persist()
    corpus.count()
    val queries = corpus.filter($"vec_id" < 24)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => x * lit(0.5)).as("embedding"))
      .persist()
    val truth = Ann.bruteForceTopK(queries, corpus, "vec_id", "embedding",
      k = 5).persist()
    def recall(opq: Boolean): Double =
      Ann.recallAtK(
        Ann.pqTopK(queries, corpus, "vec_id", "embedding", k = 5,
          m = 8, ksub = 16, opq = opq),
        truth).head().getDouble(0)
    val (rPq, rOpq) = (recall(opq = false), recall(opq = true))
    info(f"recall@5 pq=$rPq%.4f opq=$rOpq%.4f")
    // measured on this deterministic corpus: pq 0.4167 / opq 0.4667
    assert(rOpq >= rPq + 0.03,
      f"opq $rOpq%.4f did not beat pq $rPq%.4f by the pinned margin")
    assert(rOpq >= 0.44, f"opq recall $rOpq%.4f under the pinned floor")
    // refine stage: planted 0.5-scaled copies must hit rank-1 cosine 1.0
    // through the rotated shortlist (exact re-rank on ORIGINAL floats)
    val refined = Ann.pqTopK(queries, corpus, "vec_id", "embedding",
        k = 1, m = 8, ksub = 16, rerank = 32, opq = true)
      .collect()
    assert(refined.length == 24 && refined.forall(r =>
        r.getLong(2) == r.getLong(0) - 100000L && r.getDouble(3) == 1.0),
      s"planted copies not rank-1 through opq refine")
    corpus.unpersist(); queries.unpersist(); truth.unpersist()
  }

  test("orthonormal rotation preserves the EXACT top-k ranking " +
      "end-to-end (the former x89 arm-1, moved per the gate-cost " +
      "discipline)") {
    val corpus = (0 until 400).map { i =>
      val rnd = new scala.util.Random(i.toLong)
      val c = (i % 4) * 4
      (i.toLong, (0 until 16).map(d =>
        (if (d == c) 1.0 else 0.0) + rnd.nextGaussian() * 0.1)
        .map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 8)
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding", x => x * lit(0.5f)).as("embedding"))
    val rot = Ann.opqRotation(Ann.hashSample(
      corpus.select($"vec_id".as("cand_id"),
        graft.functions.VectorFunctions.asDouble($"embedding")
          .as("cv"))), m = 8)
    def rotated(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", Ann.rotateCol(
        graft.functions.VectorFunctions.asDouble($"embedding"), rot)
        .as("embedding"))
    val plain = Ann.bruteForceTopK(queries, corpus, "vec_id",
      "embedding", k = 5).collect()
    val turned = Ann.bruteForceTopK(rotated(queries), rotated(corpus),
      "vec_id", "embedding", k = 5).collect()
    assert(turned.sameElements(plain) && plain.nonEmpty,
      "exact top-5 moved under the opq rotation - orthonormality " +
        "or the rotate path broke")
  }
}
