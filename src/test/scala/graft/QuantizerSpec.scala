package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.SemDeDupIndex
import graft.lake.Lake
import graft.similarity.{Quantizer, QuantizerStore}

/** The coarse quantizer's probe-order invariant and its store's
  * partial-build guard. The adaptive search is sound only because phase
  * B ([[Quantizer.extraProbe]]) skips EXACTLY the cells phase A
  * ([[Quantizer.probe]]) scored: with no threshold and the cap at every
  * cell, the two phases must partition the cells per query, in both
  * regimes. */
class QuantizerSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int): DataFrame = {
    val dims = (0 until 8).map(d =>
      pmod(xxhash64($"id", lit(d)), lit(1000)).cast("double") / 500.0 - 1.0)
    spark.range(n).select($"id".as("cand_id"), array(dims: _*).as("cv"))
  }

  private def cellsByQuery(df: DataFrame): Map[Long, Seq[Int]] =
    df.select($"query_id", $"cell").collect().toSeq
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getInt(1)) }

  /** Per query: phase-A cells at `pMin`, phase-B cells with no threshold
    * (every query absent from `kth`) and the cap at every cell. */
  private def phases(q: Quantizer, queries: DataFrame, pMin: Int)
      : (Map[Long, Seq[Int]], Map[Long, Seq[Int]]) = {
    val n = q.cells.length
    val noThreshold = Seq.empty[(Long, Double)].toDF("query_id", "kth")
    (cellsByQuery(q.probe(queries, "cand_id", "cv", pMin)),
      cellsByQuery(q.extraProbe(queries, "cand_id", "cv",
        Array.fill(n)(1.0), noThreshold, pMin, n)))
  }

  private def checkPartition(q: Quantizer, queries: DataFrame,
      pMins: Seq[Int]): Unit = {
    val n = q.cells.length
    val ids = queries.select($"cand_id").as[Long].collect().toSeq
    pMins.foreach { pMin =>
      val (a, b) = phases(q, queries, pMin)
      ids.foreach { id =>
        val pa = a.getOrElse(id, Nil)
        val pb = b.getOrElse(id, Nil)
        assert(pa.nonEmpty && pa.size <= pMin, s"query $id phase A $pa")
        assert((pa.toSet intersect pb.toSet).isEmpty,
          s"query $id: phases overlap at pMin $pMin")
        assert((pa ++ pb).sorted == (0 until n),
          s"query $id: phases do not cover every cell once at pMin $pMin")
      }
      // phase A at every cell leaves phase B nothing
      val (all, none) = phases(q, queries, n)
      assert(none.isEmpty, s"phase B not empty at nProbeMin = $n: $none")
      ids.foreach(id => assert(all(id).sorted == (0 until n)))
    }
  }

  test("flat: probe and extraProbe partition the cells per query") {
    val c = corpus(600).persist()
    val q = Quantizer.train(c, 16)
    assert(q.isInstanceOf[Quantizer.Flat] && q.cells.length == 16)
    checkPartition(q, c.filter($"cand_id" < 6), Seq(1, 3, 15))
    c.unpersist()
  }

  test("routed: probe and extraProbe partition the cells per query") {
    val c = corpus(1500).persist()
    val q = Quantizer.train(c, 300)
    assert(q.isInstanceOf[Quantizer.Routed] && q.cells.length >= 250)
    checkPartition(q, c.filter($"cand_id" < 6), Seq(1, 4, 40))
    c.unpersist()
  }

  test("QuantizerStore.load rejects a router table from another build " +
      "(partial build detected)") {
    val dir = Files.createTempDirectory("quantstore").toString
    val lake = new Lake(spark, dir)
    val docs = corpus(3000).select($"cand_id".as("vec_id"),
      $"cv".as("embedding"))
    val idx = new SemDeDupIndex(lake, prefix = "sem", nClusters = 300)
    idx.build(docs, "vec_id", "embedding", 1L)
    val stored = QuantizerStore.load(lake, "sem", 300)
    assert(stored.isInstanceOf[Quantizer.Routed])
    // a build at another k (900 cells) writes its tables; its router rows
    // then land over the 300-cell store — the two tables now come from
    // different builds, the state a crash between a rebuild's two table
    // swaps leaves behind
    val other = Quantizer.train(docs.select($"vec_id".as("cand_id"),
      $"embedding".as("cv")), 900)
    QuantizerStore.write(lake, "other", other, 2L, spark)
    lake.replace(idx.topTable,
      lake.table(QuantizerStore.topTableDef("other")), 2L)
    val e = intercept[IllegalArgumentException] {
      QuantizerStore.load(lake, "sem", 300)
    }
    assert(e.getMessage.contains("partial build detected"), e.getMessage)
    // a fresh serving instance refuses to assign against it
    val e2 = intercept[IllegalArgumentException] {
      new SemDeDupIndex(lake, prefix = "sem", nClusters = 300)
        .append(docs.filter($"vec_id" < 10L), "vec_id", "embedding", 3L)
    }
    assert(e2.getMessage.contains("partial build detected"), e2.getMessage)
  }
}
