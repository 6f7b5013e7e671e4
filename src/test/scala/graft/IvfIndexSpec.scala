package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.lake.{Lake, TableDef}
import graft.similarity.{Ann, CellCodec, IvfIndex}

/** Persisted IVF index ≡ the one-shot IVF search, plus the index-only
  * behaviors: cell-partitioned layout, O(batch) append, re-ingest
  * replacement, and static partition pruning at search time. */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic gaussian-ish embeddings: 4 loose clusters in 8 dims
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

  test("search right after build is byte-equal to one-shot ivfTopK") {
    val dir = Files.createTempDirectory("ivfidx").toString
    val idx = new IvfIndex(new Lake(spark, dir), CellCodec.Flat, nLists = 4)
    val c = corpus(0 until 400)
    val q = corpus(0 until 6)
    idx.build(c, "vec_id", "embedding", version = 1L)
    val got = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 2))
    val oneShot = rows(Ann.ivfTopK(q, c, "vec_id", "embedding", k = 5,
      nLists = 4, nProbe = 2))
    assert(got == oneShot && got.nonEmpty)
    // the vector table is laid out one directory per cell
    val cells = new java.io.File(s"$dir/ivf_vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell=")).sorted
    assert(cells.length == 4, s"expected 4 cell partitions, got ${cells.mkString(",")}")
  }

  test("append assigns to frozen centroids; search sees old and new vectors") {
    val dir = Files.createTempDirectory("ivfidx2").toString
    val lake = new Lake(spark, dir)
    val idx = new IvfIndex(lake, CellCodec.Flat, nLists = 4)
    idx.build(corpus(0 until 300), "vec_id", "embedding", 1L)
    idx.append(corpus(300 until 400), "vec_id", "embedding", 2L)
    val q = corpus(0 until 6)
    val got = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 4))
    // nProbe = nLists ⇒ no cells skipped ⇒ the index search is EXACT over
    // the indexed vectors: must equal brute force over the full union
    val exact = rows(Ann.bruteForceTopK(q, corpus(0 until 400),
      "vec_id", "embedding", k = 5))
    assert(got == exact)
    // re-ingest id 300 with a different vector: append leaves the stale
    // row in place (O(batch) contract — no store rewrite on the daily
    // path); compact() supersedes it by version, even across a cell move
    val moved = Seq((300L, vec(301L))).toDF("vec_id", "embedding")
    idx.append(moved, "vec_id", "embedding", 3L)
    assert(lake.table(idx.vectorTable).filter($"cand_id" === 300L).count() == 2L)
    idx.compact()
    val after = lake.table(idx.vectorTable).filter($"cand_id" === 300L).collect()
    assert(after.length == 1)
    assert(after.head.getSeq[Double](1) == vec(301L).map(_.toDouble))
    val total = lake.table(idx.vectorTable).count()
    assert(total == 400L)
  }

  test("rebuild retrains on the stored corpus: search equals a fresh one-shot") {
    val dir = Files.createTempDirectory("ivfidxRB").toString
    val idx = new IvfIndex(new Lake(spark, dir), CellCodec.Flat, nLists = 4)
    // quantizer trained on 3/4 of the corpus, the rest appended against
    // the frozen (drifting) centroids — rebuild retrains on all 400
    idx.build(corpus(0 until 300), "vec_id", "embedding", 1L)
    idx.append(corpus(300 until 400), "vec_id", "embedding", 2L)
    idx.rebuild(3L)
    val q = corpus(0 until 6)
    val got = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 2))
    val oneShot = rows(Ann.ivfTopK(q, corpus(0 until 400),
      "vec_id", "embedding", k = 5, nLists = 4, nProbe = 2))
    assert(got == oneShot && got.nonEmpty)
  }

  test("pre-build search/append fail loudly; intra-batch dups collapse") {
    val dir = Files.createTempDirectory("ivfidx4").toString
    val lake = new Lake(spark, dir)
    val idx = new IvfIndex(lake, CellCodec.Flat, nLists = 4)
    val q = corpus(0 until 2)
    // Lake.table maps a missing table to an empty frame — the index must
    // not turn that into silent empty results or cell-0 assignments
    val e1 = intercept[IllegalArgumentException] {
      idx.search(q, "vec_id", "embedding", k = 3)
    }
    assert(e1.getMessage.contains("build()"))
    val e2 = intercept[IllegalArgumentException] {
      idx.append(q, "vec_id", "embedding", 1L)
    }
    assert(e2.getMessage.contains("build()"))
    idx.build(corpus(0 until 100), "vec_id", "embedding", 1L)
    // one batch carrying the same id twice stores exactly one row
    val dup = Seq((500L, vec(500L)), (500L, vec(501L)))
      .toDF("vec_id", "embedding")
    idx.append(dup, "vec_id", "embedding", 2L)
    assert(lake.table(idx.vectorTable).filter($"cand_id" === 500L).count() == 1L)
  }

  test("large-k build persists the router; fresh-instance search ≡ one-shot") {
    val dir = Files.createTempDirectory("ivfidx5").toString
    val lake = new Lake(spark, dir)
    // nLists past FlatQuantizerMax: build writes the two-level router table
    new IvfIndex(lake, CellCodec.Flat, nLists = 300)
      .build(corpus(0 until 400), "vec_id", "embedding", 1L)
    // a FRESH instance reconstructs the quantizer purely from the lake —
    // the router must round-trip through disk, not live in-process
    val idx = new IvfIndex(lake, CellCodec.Flat, nLists = 300)
    assert(lake.table(idx.topTable).count() > 0,
      "large-k build must persist non-empty router rows")
    val got = rows(idx.search(corpus(0 until 6), "vec_id", "embedding",
      k = 5, nProbe = 2))
    val oneShot = rows(Ann.ivfTopK(corpus(0 until 6), corpus(0 until 400),
      "vec_id", "embedding", k = 5, nLists = 300, nProbe = 2))
    assert(got == oneShot && got.nonEmpty)
    // append routes on the frozen persisted router: a same-direction copy
    // of query 0's vector lands in the query's own routed cell (identical
    // normalized vectors route identically), so nProbe = 1 finds it at
    // rank 1 with cosine 1 — the arg-30 planted contract, persisted form
    val copy = Seq((9000L, vec(0L).map(x => x * 0.5f)))
      .toDF("vec_id", "embedding")
    idx.append(copy, "vec_id", "embedding", 2L)
    val hit = idx.search(corpus(0 until 1), "vec_id", "embedding",
        k = 1, nProbe = 1)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(hit == Seq((9000L, 1.0)), s"planted routed copy not found: $hit")
    // regime mismatch is loud: a flat-configured instance over this
    // ROUTED store would probe flat over route-assigned cells — probes
    // would silently miss; the load guard rejects it instead
    val e = intercept[IllegalArgumentException] {
      new IvfIndex(lake, CellCodec.Flat, nLists = 4)
        .search(corpus(0 until 1), "vec_id", "embedding", k = 1)
    }
    assert(e.getMessage.contains("regime mismatch"))
  }

  test("delete hides ids at serve time; compact applies; re-append revives") {
    val dir = Files.createTempDirectory("ivfidxDel").toString
    val lake = new Lake(spark, dir)
    val idx = new IvfIndex(lake, CellCodec.Flat, nLists = 4)
    idx.build(corpus(0 until 400), "vec_id", "embedding", 1L)
    val q = corpus(0 until 4)
    val before = rows(idx.search(q, "vec_id", "embedding", k = 3, nProbe = 4))
    val victims = before.map(_._3).distinct
    // version-aware rule: a tombstone BELOW the stored version is a no-op
    idx.delete(victims.toDF("vec_id"), "vec_id", version = 0L)
    assert(rows(idx.search(q, "vec_id", "embedding", k = 3, nProbe = 4))
      == before, "a tombstone below the stored version must not fire")
    // real delete: every victim vanishes from the NEXT search, no compact
    idx.delete(victims.toDF("vec_id"), "vec_id", version = 2L)
    val served = rows(idx.search(q, "vec_id", "embedding", k = 3, nProbe = 4))
    assert(served.map(_._3).toSet.intersect(victims.toSet).isEmpty)
    // nProbe = nLists ⇒ exact over the live set: must equal brute force
    // over the surviving corpus (serve-time filter ≡ physical removal)
    val survivors = corpus(0 until 400).filter(!$"vec_id".isin(victims: _*))
    assert(served == rows(Ann.bruteForceTopK(q, survivors,
      "vec_id", "embedding", k = 3)) && served.nonEmpty)
    // compact applies the tombstones physically and drains them; the
    // served answer is unchanged and the store shrank by the victim count
    idx.compact(3L)
    assert(rows(idx.search(q, "vec_id", "embedding", k = 3, nProbe = 4))
      == served)
    assert(!lake.exists(idx.tombTable.name), "tombstones must drain")
    assert(lake.table(idx.vectorTable).count() == 400L - victims.size)
    // a higher-version re-append revives the id (lake supersede rule)
    idx.append(Seq((victims.head, vec(victims.head)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", 4L)
    val again = rows(idx.search(q, "vec_id", "embedding", k = 3, nProbe = 4))
    assert(again.map(_._3).contains(victims.head))
  }

  test("adaptive search at the full cap is byte-equal to a full probe, " +
      "after build AND after append (radii stay sound across merges)") {
    val dir = Files.createTempDirectory("ivfidx_ad").toString
    val idx = new IvfIndex(new Lake(spark, dir), CellCodec.Flat, nLists = 4)
    idx.build(corpus(0 until 300), "vec_id", "embedding", 1L)
    val q = corpus(0 until 6)
    def full() = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 4))
    def adaptive() = rows(idx.searchAdaptive(q, "vec_id", "embedding",
      k = 5, nProbeMin = 1, nProbeMax = 4))
    assert(adaptive() == full() && full().nonEmpty)
    // an appended batch widens cells — the merged radii must keep the
    // bound sound for the NEW members too
    idx.append(corpus(300 until 400), "vec_id", "embedding", 2L)
    assert(adaptive() == full())
    // degenerate form: min = max ≡ fixed-probe search
    assert(rows(idx.searchAdaptive(q, "vec_id", "embedding", k = 5,
        nProbeMin = 2, nProbeMax = 2))
      == rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 2)))
  }

  test("ROUTED adaptive search (nLists past the flat bound) keeps the " +
      "full-cap byte-parity certificate, after build AND after append") {
    val dir = Files.createTempDirectory("ivfidx_adR").toString
    val idx = new IvfIndex(new Lake(spark, dir), CellCodec.Flat, nLists = 300)
    idx.build(corpus(0 until 300), "vec_id", "embedding", 1L)
    val q = corpus(0 until 6)
    // nProbe/nProbeMax = 1000 ≥ nCells — both paths cap at "all cells"
    def full() = rows(idx.search(q, "vec_id", "embedding", k = 5,
      nProbe = 1000))
    def adaptive() = rows(idx.searchAdaptive(q, "vec_id", "embedding",
      k = 5, nProbeMin = 2, nProbeMax = 1000))
    assert(adaptive() == full() && full().nonEmpty,
      "routed full-cap adaptive diverged from the routed full probe")
    idx.append(corpus(300 until 400), "vec_id", "embedding", 2L)
    assert(adaptive() == full(),
      "routed adaptive diverged after append (radii merge unsound?)")
    // degenerate form: min = max ≡ the fixed routed probe
    assert(rows(idx.searchAdaptive(q, "vec_id", "embedding", k = 5,
        nProbeMin = 2, nProbeMax = 2))
      == rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 2)))
  }

  test("appends to a store built before the radii table keep working: " +
      "missing radii seed VACUOUS (sound, unprunable) instead of " +
      "demanding a rebuild (round-13 review)") {
    val dir = Files.createTempDirectory("ivfidx_legacy").toString
    val lake = new Lake(spark, dir)
    val idx = new IvfIndex(lake, CellCodec.Flat, nLists = 4)
    idx.build(corpus(0 until 300), "vec_id", "embedding", 1L)
    // simulate a pre-radii legacy store
    lake.drop(idx.radiiTable.name)
    idx.append(corpus(300 until 400), "vec_id", "embedding", 2L)
    val q = corpus(0 until 6)
    // plain search never needed radii; adaptive now has a (vacuous)
    // radii table from the merge — full-cap parity must still hold
    val full = rows(idx.search(q, "vec_id", "embedding", k = 5, nProbe = 4))
    assert(rows(idx.searchAdaptive(q, "vec_id", "embedding", k = 5,
      nProbeMin = 1, nProbeMax = 4)) == full && full.nonEmpty)
  }

  test("search reads only the probed cells (static partition pruning)") {
    val dir = Files.createTempDirectory("ivfidx3").toString
    val idx = new IvfIndex(new Lake(spark, dir), CellCodec.Flat, nLists = 4)
    idx.build(corpus(0 until 400), "vec_id", "embedding", 1L)
    val one = corpus(0 until 1)
    val res = idx.search(one, "vec_id", "embedding", k = 3, nProbe = 1)
    // with nProbe=1 every returned candidate sits in the query's one cell,
    // and the scan's partition filters carry the literal cell id
    val plan = res.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*\(cell#\d+ = \d+\)""".r
        .findFirstIn(plan).isDefined,
      s"expected a literal cell partition filter in:\n$plan")
    assert(res.count() == 3)
  }

  test("on-disk layout is pinned per codec: table names, schemas, " +
      "partition and primary keys") {
    // literals, not the code's own definitions: a lake written before the
    // codec fold must keep opening, so no table may drift
    val lake = new Lake(spark, Files.createTempDirectory("ivfidxLayout").toString)
    val vec = Seq(StructField("cand_id", LongType),
      StructField("cv", ArrayType(DoubleType)), StructField("cell", IntegerType))
    val layouts = Seq(
      (CellCodec.Flat, "ivf", Seq.empty[StructField], None),
      (CellCodec.Pq(), "ivfpq", Seq(StructField("codes", ArrayType(IntegerType))),
        Some(TableDef("ivfpq_codebooks", StructType(Seq(
          StructField("subspace", IntegerType), StructField("ci", IntegerType),
          StructField("centroid", ArrayType(DoubleType))))))),
      (CellCodec.Sq8, "ivfsq", Seq(StructField("codes", BinaryType),
          StructField("dnorm", DoubleType)),
        Some(TableDef("ivfsq_sq", StructType(Seq(
          StructField("dim", IntegerType), StructField("minv", DoubleType),
          StructField("step", DoubleType)))))))
    for ((codec, p, payload, aux) <- layouts) {
      val idx = new IvfIndex(lake, codec, nLists = 4)
      assert(idx.vectorTable == TableDef(s"${p}_vectors",
        StructType(vec ++ payload), partitionKeys = Seq("cell"),
        primaryKeys = Seq("cand_id"), clusterWrites = true), p)
      assert(idx.centroidTable == TableDef(s"${p}_centroids", StructType(Seq(
        StructField("cell", IntegerType),
        StructField("centroid", ArrayType(DoubleType))))), p)
      assert(idx.topTable == TableDef(s"${p}_top", StructType(Seq(
        StructField("branch", IntegerType), StructField("offset", IntegerType),
        StructField("centroid", ArrayType(DoubleType))))), p)
      assert(idx.tombTable == TableDef(s"${p}_tombstones",
        StructType(Seq(StructField("cand_id", LongType))),
        primaryKeys = Seq("cand_id")), p)
      assert(idx.radiiTable == TableDef(s"${p}_radii", StructType(Seq(
        StructField("cell", IntegerType), StructField("rcos", DoubleType)))), p)
      assert(idx.auxTable == aux, p)
    }
    // an explicit prefix renames every table and nothing else
    val named = new IvfIndex(lake, CellCodec.Sq8, 4, "emb")
    assert(Seq(named.vectorTable, named.centroidTable, named.topTable,
        named.tombTable, named.radiiTable, named.auxTable.get).map(_.name)
      == Seq("emb_vectors", "emb_centroids", "emb_top", "emb_tombstones",
        "emb_radii", "emb_sq"))
  }

  test("build rejects a non-integral id column under every codec") {
    val c = corpus(0 until 20)
    for (codec <- Seq(CellCodec.Flat, CellCodec.Pq(), CellCodec.Sq8);
         t <- Seq("string", "double")) {
      val idx = new IvfIndex(new Lake(spark,
        Files.createTempDirectory("ivfidxId").toString), codec, nLists = 4)
      val e = intercept[IllegalArgumentException] {
        idx.build(c.select($"vec_id".cast(t).as("vec_id"), $"embedding"),
          "vec_id", "embedding", 1L)
      }
      assert(e.getMessage.contains("must be integral"), s"$codec/$t: ${e.getMessage}")
    }
  }

  test("Flat rejects rerank: exact cosines leave nothing to refine") {
    val idx = new IvfIndex(new Lake(spark,
      Files.createTempDirectory("ivfidxRr").toString), CellCodec.Flat, nLists = 4)
    val q = corpus(0 until 2)
    for (search <- Seq(
        () => idx.search(q, "vec_id", "embedding", k = 3, rerank = 10),
        () => idx.searchAdaptive(q, "vec_id", "embedding", k = 3, rerank = 10))) {
      val e = intercept[IllegalArgumentException](search())
      assert(e.getMessage.contains("rerank"))
    }
  }
}
