package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.similarity.Ann

/** SQ8 scalar quantization: exact kernel arithmetic (bounds, clamping,
  * constant dims), near-exact ranking, and the scaled-copy identity. */
class AnnSq8Spec extends SparkSpec {
  import spark.implicits._

  private def vec(id: Long): Seq[Float] = {
    val rnd = new scala.util.Random(id)
    val center = (id % 4).toInt
    (0 until 8).map(d =>
      (if (d % 4 == center) 2.0 else 0.0) + rnd.nextGaussian() * 0.3)
      .map(_.toFloat)
  }
  private def corpus(ids: Range): DataFrame =
    ids.map(i => (i.toLong, vec(i.toLong))).toDF("vec_id", "embedding")

  test("trainSq + encode: exact bounds, clamping, constant-dim handling") {
    // sample on the unit circle: dim0 spans [-0.6, 0.6], dim1 constant 0.8
    val sample = Array(Array(0.6, 0.8), Array(-0.6, 0.8))
    val (mins, steps) = Ann.trainSq(sample)
    assert(mins.toSeq == Seq(-0.6, 0.8))
    assert(steps(0) == 1.2 / 255.0 && steps(1) == 0.0)
    val bc = spark.sparkContext.broadcast((mins, steps))
    val enc = Seq((1L, Seq(3.0, 4.0)), (2L, Seq(-3.0, 4.0)),
        (3L, Seq(-1.0, 0.0)))
      .toDF("id", "v")
      .select($"id", Ann.sqEncoder(bc)($"v").as("sq"))
      .orderBy($"id").collect()
      .map(r => (r.getLong(0),
        r.getStruct(1).getAs[Array[Byte]](0).map(_ & 0xFF).toSeq,
        r.getStruct(1).getDouble(1)))
    // (3,4) normalizes to (0.6, 0.8): dim0 at the top of the range
    // (code 255, decodes exactly 0.6), dim1 constant (code 0 → 0.8)
    assert(enc(0) == (1L, Seq(255, 0), 1.0))
    // (-3,4) → (-0.6, 0.8): bottom of the range, exact roundtrip
    assert(enc(1) == (2L, Seq(0, 0), 1.0))
    // (-1,0) → (-1, 0): dim0 BELOW the trained min clamps to code 0
    // (decodes -0.6), dim1 decodes the constant 0.8 regardless
    assert(enc(2)._2 == Seq(0, 0))
    assert(approxEqual(enc(2)._3, math.sqrt(0.36 + 0.64), 1e-12))
  }

  test("sqTopK ranks near-exactly and is deterministic") {
    val c = corpus(0 until 400)
    val q = corpus(0 until 6)
    val exact = Ann.bruteForceTopK(q, c, "vec_id", "embedding", k = 5)
    val approx = Ann.sqTopK(q, c, "vec_id", "embedding", k = 5)
    val recall = Ann.recallAtK(approx, exact).head().getDouble(0)
    assert(recall >= 0.9, s"SQ8 recall@5 $recall on a separable corpus")
    val again = Ann.sqTopK(q, c, "vec_id", "embedding", k = 5)
      .collect().toSeq
    assert(again == approx.collect().toSeq, "sqTopK not deterministic")
  }

  test("power-of-two scaled copies share codes and rank first via refine") {
    val c = corpus(0 until 200)
    val aug = c.unionByName(c.filter($"vec_id" < 8)
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding", x => x * lit(0.5f)).as("embedding")))
    val q = aug.filter($"vec_id" >= 1000L)
    // a 0.5-scaled copy normalizes to EXACTLY its base's vector, so its
    // codes and decoded norm are identical — the refine re-read makes
    // the base rank-1 with exact cosine 1.0
    val top = Ann.sqTopK(q, aug, "vec_id", "embedding", k = 1, rerank = 32)
      .collect()
    assert(top.length == 8 && top.forall(r =>
      r.getLong(2) == r.getLong(0) - 1000L && r.getDouble(3) == 1.0),
      s"planted copies not rank-1: ${top.mkString(",")}")
  }
}
