package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, IncrementalDedup}
import org.apache.spark.sql.types._
import graft.lake.{Lake, TableDef}

/** Incremental dedup ≡ whole-corpus dedup restricted to the new batch —
  * the property that makes the O(batch)-per-day path trustworthy. */
class DedupIncrementalSpec extends SparkSpec {
  import spark.implicits._

  // 12 docs, 3 batches of 4: exact dups within and across batches
  // (d1≡d5≡d9, d3≡d7) and near-dups for the minhash path (d2≈d6: one
  // token differs out of 12).
  private def doc(seed: Int, extra: String = ""): String =
    (1 to 12).map(i => s"w${(seed * 7 + i * 3) % 20}").mkString(" ") + extra
  private val docs: Seq[(Long, String)] = Seq(
    1L -> doc(1), 2L -> doc(2), 3L -> doc(3), 4L -> doc(4),
    5L -> doc(1), 6L -> (doc(2) + " tail"), 7L -> doc(3), 8L -> doc(8),
    9L -> doc(1), 10L -> doc(10), 11L -> doc(11), 12L -> doc(12))
  private def batch(n: Int): DataFrame =
    docs.slice((n - 1) * 4, n * 4).toDF("doc_id", "text")
  private val corpus = docs.toDF("doc_id", "text")

  private def pairsSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("exactIncremental matches whole-corpus groups restricted to the batch") {
    val prior = corpus.filter($"doc_id" <= 8)
    val state = Dedup.exactDuplicates(prior, "doc_id", "text")
      .select($"content_hash", $"keep_id")
    val (dups, upd) = Dedup.exactIncremental(batch(3), "doc_id", "text", state)
    val got = dups.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // whole-corpus ground truth, restricted to batch-3 ids
    val full = Dedup.exactDuplicates(corpus, "doc_id", "text")
    val expect = corpus.select($"doc_id", md5($"text").as("content_hash"))
      .join(full, Seq("content_hash"))
      .filter($"doc_id" > 8 && $"keep_id" < $"doc_id")
      .select($"doc_id", $"keep_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect && got == Set((9L, 1L)))
    // updated state carries the batch's groups with the global minimum id
    val st = upd.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(st(DigestUtilsLike.md5Hex(docs.head._2)) == 1L)
  }

  private object DigestUtilsLike {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("minhashIncremental == whole-corpus pairs involving the new batch") {
    val TH = 0.3
    val full = pairsSet(Dedup.minhashNearDuplicates(corpus, "doc_id", "text",
      shingleSize = 3, bands = 4, rowsPerBand = 4, threshold = TH))
    val newB = batch(3)
    val prior = corpus.filter($"doc_id" <= 8)
    val priorSh = Dedup.shingleHashes(prior, "doc_id", "text", 3)
    val priorSigs = Dedup.minhashSigs(priorSh, 16, withSize = true)
    val (pairs, _, _) = Dedup.minhashIncremental(newB, "doc_id", "text",
      priorSigs, priorSh, shingleSize = 3, bands = 4, rowsPerBand = 4,
      threshold = TH)
    val newIds = (9L to 12L).toSet
    assert(pairsSet(pairs) ==
      full.filter(p => newIds.contains(p._1) || newIds.contains(p._2)))
    assert(full.nonEmpty) // the fixture must actually exercise pairs
  }

  test("minhashIncrementalLocal (driver banding + verify) emits exactly " +
      "the distributed pair set, signatures and shingles on a mixed " +
      "store/batch fixture; bounds force the distributed fallback") {
    val TH = 0.3
    val newB = batch(3)
    val prior = corpus.filter($"doc_id" <= 8)
    val priorSh = Dedup.shingleHashes(prior, "doc_id", "text", 3)
      .localCheckpoint()
    val priorSigs = Dedup.minhashSigs(priorSh, 16, withSize = true)
      .localCheckpoint()
    val local = Dedup.minhashIncrementalLocal(newB, "doc_id", "text",
      priorSigs, priorSh, 3, 4, 4, TH)
    assert(local.isDefined, "fixture must fit the driver bounds")
    val (lp, lsig, lsh) = local.get
    val (dp, dsig, dsh) = Dedup.minhashIncrementalDistributed(
      newB, "doc_id", "text", priorSigs, priorSh,
      shingleSize = 3, bands = 4, rowsPerBand = 4, threshold = TH)
    assert(pairsSet(lp) == pairsSet(dp))
    assert(pairsSet(lp).nonEmpty, "fixture must exercise pairs")
    // driver-computed signatures (XxHash64Function replication) must be
    // byte-equal to the codegen'd minhashSigs aggregate, column order
    // included; shingle rows identical as sets
    assert(lsig.columns.toSeq == dsig.columns.toSeq)
    assert(lsig.collect().map(_.toSeq).toSet == dsig.collect().map(_.toSeq).toSet)
    assert(lsh.collect().map(_.toSeq).toSet == dsh.collect().map(_.toSeq).toSet)
    // zero-job results: all three frames are LocalRelations
    Seq(lp, lsig, lsh).foreach { df =>
      assert(df.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "local-path results must be LocalRelations")
    }
    // each bound independently forces the fallback
    assert(Dedup.minhashIncrementalLocal(newB, "doc_id", "text",
      priorSigs, priorSh, 3, 4, 4, TH, maxRows = 3).isEmpty)
    assert(Dedup.minhashIncrementalLocal(newB, "doc_id", "text",
      priorSigs, priorSh, 3, 4, 4, TH, maxPairWork = 1L).isEmpty)
    // non-long ids refuse the driver path (the stores declare longs)
    val intB = newB.select($"doc_id".cast("int").as("doc_id"), $"text")
    assert(Dedup.minhashIncrementalLocal(intB, "doc_id", "text",
      priorSigs, priorSh, 3, 4, 4, TH).isEmpty)
  }

  test("lake-backed batches accumulate; concatenation == whole-corpus; re-run idempotent") {
    val TH = 0.3
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-dedup").toString
    val lake = new Lake(spark, dir)
    val exact = new IncrementalDedup.Exact(lake)
    val incr = new IncrementalDedup.Minhash(lake, threshold = TH)
    val exactGot = (1 to 3).flatMap { n =>
      exact.process(batch(n), "doc_id", "text", version = n.toLong)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }.toSet
    assert(exactGot == Set((5L, 1L), (7L, 3L), (9L, 1L)))
    val mhGot = (1 to 3).map { n =>
      pairsSet(incr.process(batch(n), "doc_id", "text",
        version = n.toLong))
    }
    val full = pairsSet(Dedup.minhashNearDuplicates(corpus, "doc_id", "text",
      shingleSize = 3, bands = 4, rowsPerBand = 4, threshold = TH))
    // batch n's pairs = full pairs whose LATER-batch side is in batch n
    val ids = (n: Int) => ((n - 1) * 4 + 1 to n * 4).map(_.toLong).toSet
    (1 to 3).foreach { n =>
      val later = ids(n); val seen = (1 to n).flatMap(ids(_)).toSet
      assert(mhGot(n - 1) == full.filter(p =>
        seen.contains(p._1) && seen.contains(p._2) &&
          (later.contains(p._1) || later.contains(p._2))), s"batch $n")
    }
    assert(mhGot.reduce(_ ++ _) == full) // every pair lands exactly once overall
    // corrective re-run of the latest batch: stored state for its ids is
    // superseded, results identical to the first run, stores not duplicated
    val rerun = pairsSet(incr.process(batch(3), "doc_id", "text",
      version = 99L))
    assert(rerun == mhGot(2))
    val sigCount = lake.table(incr.sigTable).count()
    assert(sigCount == 12L, s"sig store should hold one row per doc, got $sigCount")
    val exactRerun = exact.process(batch(3), "doc_id", "text", 99L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactRerun == Set((9L, 1L))) // same dups as the first run
  }

  test("line batches: seen-ever drops, batch-ordered == whole-corpus, idempotent state") {
    val dir = java.nio.file.Files.createTempDirectory("linc").toString
    val lake = new Lake(spark, dir)
    val incr = new IncrementalDedup.Lines(lake, prefix = "li")
    // 3-token chunker: doc lines are 3-token runs (the x50 staging)
    val b1 = Seq(1L -> "a b c d e f", 2L -> "a b c x y z").toDF("doc_id", "text")
    val b2 = Seq(3L -> "d e f q r s", 4L -> "x y z").toDF("doc_id", "text")
    def rows(df: DataFrame) = df.orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val r1 = rows(incr.process(b1, "doc_id", "text", version = 1L))
    assert(r1 == Seq((1L, 2L, 2L, "a b c d e f"), (2L, 2L, 1L, "x y z")))
    val r2 = rows(incr.process(b2, "doc_id", "text", version = 2L))
    // "d e f" first at (1,1), "x y z" first at (2,1) -> dropped here
    assert(r2 == Seq((3L, 2L, 1L, "q r s"), (4L, 1L, 0L, "")))
    // batch-ordered incremental == whole-corpus lineDedup on the union
    val full = rows(Dedup.lineDedup(b1.unionByName(b2), "doc_id", "text"))
    assert((r1 ++ r2).sortBy(_._1) == full.sortBy(_._1))
    // store holds one KEEPER row per distinct line ever seen (count
    // rows carry null coordinates — the closure-audit evidence)
    val stored = lake.table(incr.lineTable)
      .filter($"keep_doc".isNotNull).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(stored.length == 4 && stored.map(_._1).distinct.length == 4)
    // total ingested occurrences per line are summable (the
    // Lines.deleteClosed evidence): 6 lines occurred across both batches
    assert(lake.table(incr.lineTable).agg(sum($"n_members")).head
      .getLong(0) == 7L) // b1: abc×2, def, xyz; b2: def, qrs, xyz
    // crash-and-rerun: reprocessing batch 2 adds NO keeper rows (its
    // lines are all seen; the rerun's count deltas over-count, which
    // the closure audit treats as refuse-don't-guess), and reports
    // everything as dup — the documented seen-content semantics
    val r2again = rows(incr.process(b2, "doc_id", "text", 3L))
    assert(lake.table(incr.lineTable)
      .filter($"keep_doc".isNotNull).count() == 4L)
    assert(r2again.forall(_._3 == 0L))
  }

  test("lake-backed paragraph batches == whole-corpus paragraphDedup") {
    val dir = java.nio.file.Files.createTempDirectory("pginc").toString
    val lake = new Lake(spark, dir)
    val incr = new IncrementalDedup.Lines(lake, prefix = "pg",
      chunker = Dedup.Chunker.Paragraph)
    val b1 = Seq(1L -> "shared para\n\nuniq one",
      2L -> "uniq two\n\nshared para").toDF("doc_id", "text")
    val b2 = Seq(3L -> "shared para\n\nuniq three").toDF("doc_id", "text")
    def rows(df: DataFrame) = df.orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val r1 = rows(incr.process(b1, "doc_id", "text", 1L))
    val r2 = rows(incr.process(b2, "doc_id", "text", 2L))
    val full = rows(Dedup.lineDedup(b1.unionByName(b2), "doc_id", "text",
      Dedup.Chunker.Paragraph))
    assert((r1 ++ r2).sortBy(_._1) == full.sortBy(_._1))
    assert(r2 == Seq((3L, 2L, 1L, "uniq three"))) // store-seen para drops
    // store: one KEEPER row per distinct paragraph ever seen
    assert(lake.table(incr.lineTable)
      .filter($"keep_doc".isNotNull).count() == 4L)
  }

  test("newline/paragraph incremental: batch-ordered == whole-corpus") {
    // the round-10 chunker generalization: the production
    // chunkers' incremental twins must equal their batch operators on
    // id-ordered batches (the lineIncremental contract, per chunker)
    val b1 = Seq(1L -> "head\nshared line\nuniq one",
      2L -> "shared line\nuniq two").toDF("doc_id", "text")
    val b2 = Seq(3L -> "uniq three\nshared line\nhead",
      4L -> "para a\n\npara b").toDF("doc_id", "text")
    def rows(df: DataFrame) = df.orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("line_h",
          org.apache.spark.sql.types.StringType))))
    val nl = Dedup.Chunker.Newline
    val (n1, nf1) = Dedup.lineIncremental(b1, "doc_id", "text", empty, nl)
    val (n2, _) = Dedup.lineIncremental(b2, "doc_id", "text",
      nf1.select($"line_h"), nl)
    val fullN = rows(Dedup.lineDedup(
      b1.unionByName(b2), "doc_id", "text", nl))
    assert((rows(n1) ++ rows(n2)).sortBy(_._1) == fullN.sortBy(_._1))
    // "shared line" and "head" dedup across batches through the store
    assert(rows(n2).head._3 == 1L, "store-seen lines must drop in batch 2")
    val pg = Dedup.Chunker.Paragraph
    val (p1, pf1) = Dedup.lineIncremental(b1, "doc_id", "text", empty, pg)
    val (p2, _) = Dedup.lineIncremental(b2, "doc_id", "text",
      pf1.select($"line_h"), pg)
    val fullP = rows(Dedup.lineDedup(
      b1.unionByName(b2), "doc_id", "text", pg))
    assert((rows(p1) ++ rows(p2)).sortBy(_._1) == fullP.sortBy(_._1))
  }

  test("span batches: seen-ever removes all occurrences, batch-ordered == whole-corpus") {
    val dir = java.nio.file.Files.createTempDirectory("spinc").toString
    val lake = new Lake(spark, dir)
    val incr = new IncrementalDedup.Span(lake, prefix = "sp", n = 3)
    val b1 = Seq(1L -> "a b c d e", 2L -> "x a b c y").toDF("doc_id", "text")
    val b2 = Seq(3L -> "q a b c r", 4L -> "m n o p v").toDF("doc_id", "text")
    def rows(df: DataFrame) = df.orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val r1 = rows(incr.process(b1, "doc_id", "text", version = 1L))
    // "a b c" keeper at (1,1); doc 2's occurrence (positions 2-4) removed
    assert(r1 == Seq((1L, 5L, 5L, "a b c d e"), (2L, 5L, 2L, "x y")))
    val r2 = rows(incr.process(b2, "doc_id", "text", version = 2L))
    // "a b c" is store-seen -> removed from doc 3; doc 4 untouched
    assert(r2 == Seq((3L, 5L, 2L, "q r"), (4L, 5L, 5L, "m n o p v")))
    // batch-ordered incremental == whole-corpus operator on the union
    val full = rows(Dedup.exactSubstringDedup(
      b1.unionByName(b2), "doc_id", "text", n = 3))
    assert((r1 ++ r2).sortBy(_._1) == full.sortBy(_._1))
    // store: one row per distinct gram ever seen (5 from b1, 5 from b2)
    assert(lake.table(incr.spanTable).count() == 10L)
    // crash-and-rerun: store unchanged, result lossy (all covered again)
    val r2again = rows(incr.process(b2, "doc_id", "text", 3L))
    assert(lake.table(incr.spanTable).count() == 10L)
    assert(r2again.map(_._3) == Seq(0L, 0L))
  }

  test("re-ingest with CHANGED text removes vanished shingles from the store") {
    val TH = 0.3
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-dedup2").toString
    val lake = new Lake(spark, dir)
    val incr = new IncrementalDedup.Minhash(lake, threshold = TH)
    incr.process(batch(1), "doc_id", "text", 1L)
    incr.process(batch(2), "doc_id", "text", 2L)
    // doc 5 is corrected to entirely different content (disjoint token
    // vocabulary — the doc() generator's sequences are cyclic shifts of
    // each other, so another doc() call would still be a near-dup): its
    // old shingles (≡ doc 1's) must vanish from the store.
    val corrected = Seq(5L -> (1 to 12).map(i => s"z$i").mkString(" "))
      .toDF("doc_id", "text")
    incr.process(corrected, "doc_id", "text", 3L)
    val p3 = pairsSet(incr.process(batch(3), "doc_id", "text", 4L))
    assert(p3.exists(p => p._1 == 1L && p._2 == 9L)) // 9 still matches 1
    assert(!p3.exists(p => p._1 == 5L || p._2 == 5L)) // 5 no longer similar
    // and the store holds only doc 5's NEW shingles
    val sh5 = lake.table(incr.shingleTable).filter($"id" === 5L).count()
    val freshSh5 = Dedup.shingleHashes(corrected, "doc_id", "text", 3).count()
    assert(sh5 == freshSh5)
  }

  test("on-disk layout is pinned per store: table names, schemas, " +
      "partition and primary keys") {
    // literals, not the code's own definitions: a lake written before the
    // store fold must keep opening, so no table may drift
    val lake = new Lake(spark,
      java.nio.file.Files.createTempDirectory("incrLayout").toString)
    def cols(fs: (String, DataType)*) =
      StructType(fs.map { case (n, t) => StructField(n, t) })
    val hashes = TableDef("dedup_content_hashes", cols(
      "content_hash" -> StringType, "keep_id" -> LongType,
      "n_members" -> LongType))
    val lines = TableDef("dedup_line_hashes", cols("line_h" -> StringType,
      "keep_doc" -> LongType, "keep_line" -> IntegerType,
      "n_members" -> LongType))
    val grams = TableDef("dedup_span_grams", cols("h" -> LongType),
      primaryKeys = Seq("h"))
    val sigs = TableDef("dedup_minhash_sigs", cols(Seq("id" -> LongType) ++
      (0 until 16).map(i => s"m$i" -> LongType) :+ ("n_sh" -> LongType): _*))
    val shingles = TableDef("dedup_shingles",
      cols("id" -> LongType, "h" -> LongType))
    val tombExact = TableDef("dedup_exact_tombstones",
      cols("keep_id" -> LongType), primaryKeys = Seq("keep_id"))
    val tombLine = TableDef("dedup_line_tombstones",
      cols("keep_doc" -> LongType), primaryKeys = Seq("keep_doc"))
    val tombMh = TableDef("dedup_mh_tombstones", cols("id" -> LongType),
      primaryKeys = Seq("id"))
    val exact = new IncrementalDedup.Exact(lake)
    val line = new IncrementalDedup.Lines(lake)
    val span = new IncrementalDedup.Span(lake)
    val mh = new IncrementalDedup.Minhash(lake)
    assert(exact.tables == Seq(hashes, tombExact))
    assert(line.tables == Seq(lines, tombLine))
    assert(span.tables == Seq(grams))
    assert(mh.tables == Seq(sigs, shingles, tombMh))
    // x88's shape: Exact and Minhash under one prefix own disjoint tables
    assert(exact.tables.map(_.name).intersect(mh.tables.map(_.name)).isEmpty)
    // an explicit prefix renames every table and nothing else
    val named = new IncrementalDedup.Lines(lake, prefix = "lc",
      chunker = Dedup.Chunker.Paragraph)
    assert(named.tables == Seq(lines.copy(name = "lc_line_hashes"),
      tombLine.copy(name = "lc_line_tombstones")))
  }
}
