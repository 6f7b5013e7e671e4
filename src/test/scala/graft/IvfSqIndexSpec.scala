package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.lake.Lake
import graft.similarity.{Ann, CellCodec, IvfIndex}

/** Persisted IVF+SQ8 index: full-probe search right after build is
  * byte-equal to the one-shot sqTopK; the scored scan is codes-only
  * (cv pruned) over only the probed cells' partitions; append encodes
  * against frozen bounds; delete/compact follow the tombstone contract. */
class IvfSqIndexSpec extends SparkSpec {
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

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.orderBy($"query_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  test("full-probe search after build is byte-equal to one-shot sqTopK") {
    val dir = Files.createTempDirectory("ivfsqidx").toString
    val idx = new IvfIndex(new Lake(spark, dir), CellCodec.Sq8, nLists = 4)
    val c = corpus(0 until 400)
    val q = corpus(0 until 6)
    idx.build(c, "vec_id", "embedding", version = 1L)
    val got = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 4))
    val oneShot = rows(Ann.sqTopK(q, c, "vec_id", "embedding", k = 5))
    assert(got == oneShot && got.nonEmpty, "index full-probe != sqTopK")
    // pruned probes return a consistent subset-quality answer
    val pruned = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 1))
    assert(pruned.nonEmpty && pruned.forall(_._2 <= 5))
  }

  test("scored scan is codes-only over probed partitions; refine reads cv") {
    val dir = Files.createTempDirectory("ivfsqidx2").toString
    val idx = new IvfIndex(new Lake(spark, dir), CellCodec.Sq8, nLists = 4)
    idx.build(corpus(0 until 400), "vec_id", "embedding", 1L)
    val one = corpus(0 until 1)
    val sqOnly = idx.search(one, "vec_id", "embedding", k = 3, nProbe = 1)
    val plan = sqOnly.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*\(cell#\d+ = \d+\)""".r
        .findFirstIn(plan).isDefined,
      s"expected a literal cell partition filter in:\n$plan")
    val readSchemas = """ReadSchema: struct<[^>]*>""".r
      .findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("cv")),
      s"SQ-only search must not read cv:\n${readSchemas.mkString("\n")}")
    assert(sqOnly.count() == 3)
    val refined = idx.search(one, "vec_id", "embedding", k = 3,
      nProbe = 1, rerank = 10)
    val rSchemas = """ReadSchema: struct<[^>]*>""".r
      .findAllIn(refined.queryExecution.executedPlan.toString).toSeq
    assert(rSchemas.count(_.contains("cv")) == 1,
      s"refine must read cv in exactly one scan:\n${rSchemas.mkString("\n")}")
    assert(refined.count() == 3)
  }

  test("append encodes against frozen bounds; planted copies rank-1 via refine") {
    val dir = Files.createTempDirectory("ivfsqidx3").toString
    val idx = new IvfIndex(new Lake(spark, dir), CellCodec.Sq8, nLists = 4)
    idx.build(corpus(0 until 300), "vec_id", "embedding", 1L)
    // appended 0.5-scaled copies of stored vectors: identical normalized
    // form -> identical codes under the FROZEN bounds -> the refine
    // re-read ranks each copy's base first at exact cosine 1.0
    val copies = corpus(0 until 6)
      .select(($"vec_id" + 1000L).as("vec_id"),
        org.apache.spark.sql.functions.transform($"embedding",
          x => x * org.apache.spark.sql.functions.lit(0.5f)).as("embedding"))
    idx.append(copies, "vec_id", "embedding", 2L)
    val got = idx.search(copies, "vec_id", "embedding", k = 1,
      nProbe = 4, rerank = 16).collect()
    assert(got.length == 6 && got.forall(r =>
      r.getLong(2) == r.getLong(0) - 1000L && r.getDouble(3) == 1.0),
      s"appended copies not rank-1: ${got.mkString(",")}")
  }

  test("delete hides rows immediately; compact is byte-equal; re-append revives") {
    val dir = Files.createTempDirectory("ivfsqidx4").toString
    val lake = new Lake(spark, dir)
    val idx = new IvfIndex(lake, CellCodec.Sq8, nLists = 4)
    val c = corpus(0 until 300)
    val q = corpus(0 until 4)
    idx.build(c, "vec_id", "embedding", 1L)
    val before = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 4))
    val victims = before.map(_._3).distinct.take(3)
    idx.delete(victims.toDF("vec_id"), "vec_id", 2L)
    val after = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 4))
    assert(!after.exists(r => victims.contains(r._3)), "victim still served")
    idx.compact(3L)
    assert(rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 4))
      == after, "compact changed the served answer")
    assert(!lake.exists(idx.tombTable.name))
    assert(lake.table(idx.vectorTable).count() == (300 - victims.size).toLong)
    // revival: re-append one victim at a higher version
    idx.append(c.filter($"vec_id" === victims.head), "vec_id", "embedding", 4L)
    val revived = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 4))
    assert(revived.exists(_._3 == victims.head), "revived id not served")
  }

  test("adaptive search at the full cap is byte-equal to a full probe " +
      "(decoded-space radii keep the bound sound for the quantized " +
      "ranking), after build AND after append") {
    val dir = Files.createTempDirectory("ivfsqidx_ad").toString
    val idx = new IvfIndex(new Lake(spark, dir), CellCodec.Sq8, nLists = 4)
    idx.build(corpus(0 until 300), "vec_id", "embedding", 1L)
    val q = corpus(0 until 6)
    def full() = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 4))
    def adaptive() = rows(idx.searchAdaptive(q, "vec_id", "embedding",
      k = 5, nProbeMin = 1, nProbeMax = 4))
    assert(adaptive() == full() && full().nonEmpty)
    idx.append(corpus(300 until 400), "vec_id", "embedding", 2L)
    assert(adaptive() == full())
    // degenerate form ≡ fixed-probe search, and the rerank arm agrees
    assert(rows(idx.searchAdaptive(q, "vec_id", "embedding", k = 5,
        nProbeMin = 2, nProbeMax = 2, rerank = 20))
      == rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 2,
        rerank = 20)))
    // full-cap parity with rerank > k (round-13 review): the pruning
    // threshold must sit at the SHORTLIST depth — a full probe refines
    // the top `rerank` quantized hits, so a pruned cell's member with
    // quantized rank in (k, rerank] would otherwise refine into the
    // exact top-k only on the full-probe side
    assert(rows(idx.searchAdaptive(q, "vec_id", "embedding", k = 5,
        nProbeMin = 1, nProbeMax = 4, rerank = 20))
      == rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 4,
        rerank = 20)),
      "full-cap adaptive with rerank > k diverged from the full probe")
  }

  test("ROUTED adaptive search (nLists past the flat bound) keeps the " +
      "full-cap byte-parity certificate over byte codes, after build " +
      "AND append, incl. rerank > k") {
    val dir = Files.createTempDirectory("ivfsqidx_adR").toString
    val idx = new IvfIndex(new Lake(spark, dir), CellCodec.Sq8, nLists = 300)
    idx.build(corpus(0 until 300), "vec_id", "embedding", 1L)
    val q = corpus(0 until 6)
    // nProbe/cap 1000 ≥ nCells — both paths cap at "all cells"
    def full() = rows(idx.search(q, "vec_id", "embedding", k = 5,
      nProbe = 1000))
    def adaptive() = rows(idx.searchAdaptive(q, "vec_id", "embedding",
      k = 5, nProbeMin = 2, nProbeMax = 1000))
    assert(adaptive() == full() && full().nonEmpty,
      "routed full-cap adaptive diverged from the routed full probe")
    idx.append(corpus(300 until 400), "vec_id", "embedding", 2L)
    assert(adaptive() == full(),
      "routed adaptive diverged after append (radii merge unsound?)")
    assert(rows(idx.searchAdaptive(q, "vec_id", "embedding", k = 5,
        nProbeMin = 2, nProbeMax = 1000, rerank = 20))
      == rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 1000,
        rerank = 20)),
      "routed full-cap adaptive with rerank > k diverged")
    // degenerate form ≡ the fixed routed probe
    assert(rows(idx.searchAdaptive(q, "vec_id", "embedding", k = 5,
        nProbeMin = 2, nProbeMax = 2))
      == rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 2)))
  }
}
