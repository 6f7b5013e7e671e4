package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, IncrementalDedup}
import graft.lake.Lake

/** Takedown over the lexical incremental stores: deleting a doc's state
  * must leave subsequent batches behaving exactly as if the victim's
  * contribution was never ingested — keeper-forget semantics for the
  * seen-content stores (exact / line), current-corpus removal for
  * minhash — and compaction must not change any served behavior. */
class IncrementalTakedownSpec extends SparkSpec {
  import spark.implicits._

  private def newLake(tag: String): Lake =
    new Lake(spark,
      java.nio.file.Files.createTempDirectory(tag).toString)

  private def dupSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact takedown un-sees keeper content; later copy is fresh then keeps") {
    val incr = new IncrementalDedup.Exact(newLake("takeEx"))
    val b1 = Seq(1L -> "aaa", 2L -> "bbb").toDF("doc_id", "text")
    assert(dupSet(incr.process(b1, "doc_id", "text", 1L)).isEmpty)
    incr.delete(Seq(1L).toDF("doc_id"), "doc_id", 2L)
    // 9 re-ingests the victim's content: FRESH keeper, not a dup of 1;
    // "bbb" (keeper 2, untouched) still matches
    val b2 = Seq(9L -> "aaa", 10L -> "bbb").toDF("doc_id", "text")
    assert(dupSet(incr.process(b2, "doc_id", "text", 3L)) ==
      Set((10L, 2L)))
    // the re-elected keeper serves: a later copy of "aaa" matches 9
    val b3 = Seq(11L -> "aaa").toDF("doc_id", "text")
    assert(dupSet(incr.process(b3, "doc_id", "text", 4L)) ==
      Set((11L, 9L)))
    // deleting an id that never kept content is a no-op
    incr.delete(Seq(777L).toDF("doc_id"), "doc_id", 5L)
    assert(dupSet(incr.process(
      Seq(12L -> "bbb").toDF("doc_id", "text"), "doc_id", "text", 6L)) ==
      Set((12L, 2L)))
  }

  test("exact compact applies physically; behavior unchanged; tombstones drain") {
    val lake = newLake("takeExC")
    val incr = new IncrementalDedup.Exact(lake)
    incr.process(
      Seq(1L -> "aaa", 2L -> "bbb").toDF("doc_id", "text"),
      "doc_id", "text", 1L)
    incr.delete(Seq(1L).toDF("doc_id"), "doc_id", 2L)
    incr.compact(3L)
    assert(!lake.exists(incr.tombTable.name))
    val stored = lake.table(incr.hashTable).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(stored.map(_._2) == Set(2L), s"victim row survived: $stored")
    assert(dupSet(incr.process(
      Seq(9L -> "aaa", 10L -> "bbb").toDF("doc_id", "text"),
      "doc_id", "text", 4L)) == Set((10L, 2L)))
  }

  test("line takedown forgets only the victim's kept lines") {
    val lake = newLake("takeLn")
    val incr = new IncrementalDedup.Lines(lake, prefix = "li")
    // 3-token chunker lines; doc 1 keeps "a b c" and "d e f", doc 2
    // keeps "x y z" (its "a b c" deduped against doc 1)
    val b1 = Seq(1L -> "a b c d e f", 2L -> "a b c x y z")
      .toDF("doc_id", "text")
    incr.process(b1, "doc_id", "text", 1L)
    incr.delete(Seq(1L).toDF("doc_id"), "doc_id", 2L)
    def rows(df: DataFrame) = df.orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    // doc 1's lines come back fresh (keeper 9); doc 2's "x y z" still hits
    val r2 = rows(incr.process(
      Seq(9L -> "a b c d e f", 10L -> "x y z").toDF("doc_id", "text"),
      "doc_id", "text", 3L))
    assert(r2 == Seq((9L, 2L, 2L, "a b c d e f"), (10L, 1L, 0L, "")),
      s"got $r2")
    // compact: physical rows for the victim gone, behavior identical
    incr.compact(4L)
    assert(!lake.exists(incr.tombTable.name))
    val keepers = lake.table(incr.lineTable)
      .select($"keep_doc").distinct().collect().map(_.getLong(0)).toSet
    assert(keepers == Set(2L, 9L), s"keepers $keepers")
    val r3 = rows(incr.process(
      Seq(11L -> "d e f").toDF("doc_id", "text"), "doc_id", "text", 5L))
    assert(r3 == Seq((11L, 1L, 0L, "")), s"got $r3")
  }

  test("minhash takedown == store that never ingested the victim; revival on re-ingest") {
    val TH = 0.3
    def doc(seed: Int, extra: String = ""): String =
      (1 to 12).map(i => s"w${(seed * 7 + i * 3) % 20}").mkString(" ") + extra
    // 1 ≈ 2 ≈ 5 (near-dup family), 3 unrelated
    val b1 = Seq(1L -> doc(1), 2L -> (doc(1) + " tail"), 3L -> doc(3))
      .toDF("doc_id", "text")
    val b2 = Seq(5L -> (doc(1) + " coda")).toDF("doc_id", "text")

    val lake = newLake("takeMh")
    val incr = new IncrementalDedup.Minhash(lake, threshold = TH)
    incr.process(b1, "doc_id", "text", 1L)
    incr.delete(Seq(1L).toDF("doc_id"), "doc_id", 2L)
    val got = incr.process(b2, "doc_id", "text", 3L)

    val twin = new IncrementalDedup.Minhash(newLake("takeMh2"), threshold = TH)
    twin.process(b1.filter($"doc_id" =!= 1L), "doc_id", "text", 1L)
    val want = twin.process(b2, "doc_id", "text", 3L)
    val (g, w) = (got.orderBy($"id_a", $"id_b").collect().toSeq,
      want.orderBy($"id_a", $"id_b").collect().toSeq)
    assert(g == w && g.nonEmpty, s"takedown $g != never-ingested $w")
    assert(!g.exists(r => r.getLong(0) == 1L || r.getLong(1) == 1L))

    // compact: stores shrink to live docs, tombstones drain, next batch
    // behaves identically to the twin's
    incr.compact(4L)
    assert(!lake.exists(incr.tombTable.name))
    val sigIds = lake.table(incr.sigTable).select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(2L, 3L, 5L), s"sig ids $sigIds")

    // revival: re-ingesting id 1 (higher version) pairs it again,
    // exactly as a fresh ingest of that content would
    val rev = incr.process(
      Seq(1L -> doc(1)).toDF("doc_id", "text"), "doc_id", "text", 5L)
    val revTwin = twin.process(
      Seq(1L -> doc(1)).toDF("doc_id", "text"), "doc_id", "text", 5L)
    assert(rev.orderBy($"id_a", $"id_b").collect().toSeq ==
      revTwin.orderBy($"id_a", $"id_b").collect().toSeq)
  }

  test("pending minhash tombstones are drained by the re-ingest rewrite") {
    val TH = 0.3
    def doc(seed: Int): String =
      (1 to 12).map(i => s"w${(seed * 7 + i * 3) % 20}").mkString(" ")
    val lake = newLake("takeMhR")
    val incr = new IncrementalDedup.Minhash(lake, threshold = TH)
    incr.process(
      Seq(1L -> doc(1), 2L -> doc(2)).toDF("doc_id", "text"),
      "doc_id", "text", 1L)
    incr.delete(Seq(1L).toDF("doc_id"), "doc_id", 2L)
    // batch re-ingests id 2 -> the supersede rewrite materializes the
    // filtered state and must drop the now-inert tombstones
    incr.process(
      Seq(2L -> doc(2)).toDF("doc_id", "text"), "doc_id", "text", 3L)
    assert(!lake.exists(incr.tombTable.name))
    val sigIds = lake.table(incr.sigTable).select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(2L), s"sig ids $sigIds")
  }

  test("deleteExactClosed audits group closure: open keeper-victims " +
      "refuse, closed groups equal never-ingested incl. counts, " +
      "non-keeper victims keep count parity") {
    val lakeA = newLake("takeClA")
    val incr = new IncrementalDedup.Exact(lakeA)
    // groups: "aaa" = {1 keeper, 2}, "bbb" = {3 keeper}, "ccc" = {4, 5}
    val b1 = Seq(1L -> "aaa", 2L -> "aaa", 3L -> "bbb",
      4L -> "ccc", 5L -> "ccc").toDF("doc_id", "text")
    incr.process(b1, "doc_id", "text", 1L)
    // OPEN group: deleting keeper 1 alone would un-see "aaa" which
    // retained doc 2 shares — must refuse loudly, store untouched
    val ex = intercept[IllegalStateException](incr.deleteClosed(
      Seq(1L -> "aaa").toDF("doc_id", "text"), "doc_id", "text", 2L))
    assert(ex.getMessage.contains("open-group"), ex.getMessage)
    assert(dupSet(incr.process(
        Seq(10L -> "aaa").toDF("doc_id", "text"), "doc_id", "text", 3L))
      == Set((10L, 1L)), "refused delete must leave the store serving")
    // NON-KEEPER victim (5 of "ccc"): allowed, matching untouched, and
    // the count parity makes a LATER whole-group takedown of {4} legal
    incr.deleteClosed(Seq(5L -> "ccc").toDF("doc_id", "text"),
      "doc_id", "text", 4L)
    assert(dupSet(incr.process(
        Seq(11L -> "ccc").toDF("doc_id", "text"), "doc_id", "text", 5L))
      == Set((11L, 4L)))
    // ...11 joined the group, so {4} alone is open again
    val ex2 = intercept[IllegalStateException](incr.deleteClosed(
      Seq(4L -> "ccc").toDF("doc_id", "text"), "doc_id", "text", 6L))
    assert(ex2.getMessage.contains("open-group"))
    // widened to the whole surviving group {4, 11}: closed, proceeds
    incr.deleteClosed(
      Seq(4L -> "ccc", 11L -> "ccc").toDF("doc_id", "text"),
      "doc_id", "text", 7L)
    // never-ingested twin: same ops minus every "ccc" member and doc 5
    val lakeB = newLake("takeClB")
    val twin = new IncrementalDedup.Exact(lakeB)
    twin.process(Seq(1L -> "aaa", 2L -> "aaa", 3L -> "bbb")
      .toDF("doc_id", "text"), "doc_id", "text", 1L)
    twin.process(Seq(10L -> "aaa").toDF("doc_id", "text"),
      "doc_id", "text", 3L)
    incr.compact(8L)
    def state(lk: Lake, i: IncrementalDedup.Exact) =
      lk.table(i.hashTable).groupBy($"content_hash")
        .agg(min($"keep_id").as("k"), sum($"n_members").as("n"))
        .orderBy($"content_hash").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(state(lakeA, incr) == state(lakeB, twin),
      "post-compact store state != never-ingested twin")
    // fully un-seen content: a fresh "ccc" ingest is keeper, no dup
    assert(dupSet(incr.process(
        Seq(12L -> "ccc").toDF("doc_id", "text"), "doc_id", "text", 9L))
      .isEmpty)
  }

  test("deleteExactClosed drops STALE keeper rows when keep_id decreased " +
      "across batches (round-13 review)") {
    val lakeA = newLake("takeDecA")
    val incr = new IncrementalDedup.Exact(lakeA)
    // batch 1 ingests id 5, batch 2 undercuts with id 3: the store now
    // holds (xxx, 5, 1) AND (xxx, 3, 1); the merged keeper is 3, but a
    // takedown of {3, 5} must also kill the stale keep_id-5 row or the
    // content stays matchable with the deleted 5 as keeper
    incr.process(Seq(5L -> "xxx", 6L -> "yyy")
      .toDF("doc_id", "text"), "doc_id", "text", 1L)
    assert(dupSet(incr.process(Seq(3L -> "xxx")
      .toDF("doc_id", "text"), "doc_id", "text", 2L)).isEmpty)
    incr.deleteClosed(Seq(3L -> "xxx", 5L -> "xxx")
      .toDF("doc_id", "text"), "doc_id", "text", 3L)
    // un-seen BEFORE compact (the tombstone path itself must cover the
    // stale row): a fresh copy is keeper, no dup against 3 OR 5
    assert(dupSet(incr.process(Seq(9L -> "xxx")
      .toDF("doc_id", "text"), "doc_id", "text", 4L)).isEmpty)
    incr.compact(5L)
    val lakeB = newLake("takeDecB")
    val twin = new IncrementalDedup.Exact(lakeB)
    twin.process(Seq(6L -> "yyy").toDF("doc_id", "text"),
      "doc_id", "text", 1L)
    twin.process(Seq(9L -> "xxx").toDF("doc_id", "text"),
      "doc_id", "text", 4L)
    twin.compact(5L)
    def state(lk: Lake, i: IncrementalDedup.Exact) =
      lk.table(i.hashTable).groupBy($"content_hash")
        .agg(min($"keep_id").as("k"), sum($"n_members").as("n"))
        .orderBy($"content_hash").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(state(lakeA, incr) == state(lakeB, twin),
      "decreasing-keeper takedown != never-ingested twin")
  }

  test("deleteExactClosed refuses when a victim id keeps UNAUDITED " +
      "content (re-ingested under different text)") {
    val incr = new IncrementalDedup.Exact(newLake("takeUnaud"))
    incr.process(Seq(7L -> "old text").toDF("doc_id", "text"),
      "doc_id", "text", 1L)
    // corrective re-ingest of the same id under new content: BOTH hashes
    // now attribute to id 7 (seen-content semantics keep the old row)
    incr.process(Seq(7L -> "new text").toDF("doc_id", "text"),
      "doc_id", "text", 2L)
    val ex = intercept[IllegalStateException](incr.deleteClosed(
      Seq(7L -> "old text").toDF("doc_id", "text"), "doc_id", "text", 3L))
    assert(ex.getMessage.contains("more than one text"), ex.getMessage)
    // passing every version's text makes both groups audited and closed
    incr.deleteClosed(
      Seq(7L -> "old text", 7L -> "new text").toDF("doc_id", "text"),
      "doc_id", "text", 4L)
    assert(dupSet(incr.process(
      Seq(8L -> "old text", 9L -> "new text").toDF("doc_id", "text"),
      "doc_id", "text", 5L)).isEmpty)
  }

  test("deleteLinesClosed: open keeper-lines refuse, closed takedown " +
      "equals never-ingested (outputs AND merged store state), " +
      "non-keeper occurrences keep count parity") {
    val lakeA = newLake("takeLnClA")
    val incr = new IncrementalDedup.Lines(lakeA, prefix = "lc")
    // 3-token lines: victim doc 1's second line is SHARED with retained
    // doc 2 (open case); victim docs 3+4 share only each other's lines
    // (closed case); doc 2 also RE-OCCURS doc 3's line (non-keeper
    // victim occurrence? no — 3 keeps it; 2's occurrence is later)
    val b1 = Seq(
      1L -> "v v v s s s", // v-line unique to 1; s-line shared with 2
      2L -> "s s s w w w",
      3L -> "p p p q q q",
      4L -> "p p p").toDF("doc_id", "text")
    incr.process(b1, "doc_id", "text", 1L)
    // OPEN: deleting doc 1 alone would un-see "s s s" which doc 2 still
    // shares — refuse loudly, store untouched
    val ex = intercept[IllegalStateException](incr.deleteClosed(
      b1.filter($"doc_id" === 1L), "doc_id", "text", 2L))
    assert(ex.getMessage.contains("open-group"), ex.getMessage)
    // CLOSED: docs 3+4's lines occur only in {3, 4} — proceeds
    incr.deleteClosed(b1.filter($"doc_id" >= 3L),
      "doc_id", "text", 3L)
    def rows(df: DataFrame) = df.orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    // "p p p" and "q q q" are un-seen: fresh keepers on re-ingest
    val b2 = Seq(9L -> "p p p q q q", 10L -> "s s s").toDF("doc_id", "text")
    val gotB2 = rows(incr.process(b2, "doc_id", "text", 4L))
    incr.compact(5L)
    val gotB3 = rows(incr.process(
      Seq(11L -> "p p p").toDF("doc_id", "text"), "doc_id", "text", 6L))
    // never-ingested twin
    val lakeB = newLake("takeLnClB")
    val twin = new IncrementalDedup.Lines(lakeB, prefix = "lc")
    twin.process(b1.filter($"doc_id" < 3L), "doc_id", "text", 1L)
    val wantB2 = rows(twin.process(b2, "doc_id", "text", 4L))
    twin.compact(5L)
    val wantB3 = rows(twin.process(
      Seq(11L -> "p p p").toDF("doc_id", "text"), "doc_id", "text", 6L))
    assert(gotB2 == wantB2, s"$gotB2 != $wantB2")
    assert(gotB3 == wantB3, s"$gotB3 != $wantB3")
    def state(lk: Lake, i: IncrementalDedup.Lines) =
      lk.table(i.lineTable).groupBy($"line_h")
        .agg(min(when($"keep_doc".isNotNull,
            struct($"keep_doc", $"keep_line"))).as("k"),
          sum($"n_members").as("n"))
        .orderBy($"line_h").collect()
        .map(r => (r.getString(0), r.getStruct(1).getLong(0),
          r.getLong(2))).toSeq
    assert(state(lakeA, incr) == state(lakeB, twin),
      "post-compact line store state != never-ingested twin")
  }

  test("deleteNewlineLinesClosed dispatches the newline chunker: open " +
      "refusal, widened takedown, fresh re-ingest (x99's retired arm)") {
    // the open/closed/compact structure is pinned on the shared
    // shared closure-audit core above; this pins the NEWLINE
    // chunker dispatch end-to-end so x99 keeps only the corpus-scale
    // twin compare in-gate (r16 slim)
    val incr = new IncrementalDedup.Lines(newLake("takeLnNl"), prefix = "ln",
      chunker = Dedup.Chunker.Newline)
    val shared = "one shared line"
    val docs = Seq(1L -> s"$shared\nonly in one",
      2L -> s"$shared\nonly in two").toDF("doc_id", "text")
    incr.process(docs, "doc_id", "text", 1L)
    val ex = intercept[IllegalStateException](incr.deleteClosed(
      docs.filter($"doc_id" === 1L), "doc_id", "text", 2L))
    assert(ex.getMessage.contains("open-group"), ex.getMessage)
    incr.deleteClosed(docs, "doc_id", "text", 3L)
    val fresh = incr.process(
      Seq(3L -> shared).toDF("doc_id", "text"), "doc_id", "text", 4L)
      .collect()
    assert(fresh.head.getLong(2) == 1L,
      "fully taken-down newline line must be un-seen (fresh keeper)")
  }

  test("deleteLinesClosed compensates counts when victims OCCURRED in " +
      "retained-keeper lines: a later whole-group takedown stays exact") {
    val lakeA = newLake("takeLnCmp")
    val incr = new IncrementalDedup.Lines(lakeA, prefix = "lm")
    // doc 5 keeps "z z z"; victim doc 6 re-occurs it (count delta row)
    incr.process(Seq(5L -> "z z z").toDF("doc_id", "text"),
      "doc_id", "text", 1L)
    incr.process(Seq(6L -> "z z z").toDF("doc_id", "text"),
      "doc_id", "text", 2L)
    // victim 6 is a non-keeper occurrence: allowed, keeper untouched
    incr.deleteClosed(Seq(6L -> "z z z").toDF("doc_id", "text"),
      "doc_id", "text", 3L)
    val r = incr.process(Seq(7L -> "z z z").toDF("doc_id", "text"),
      "doc_id", "text", 4L).collect()
    assert(r.head.getLong(2) == 0L, "keeper 5 must still dedup the line")
    // the compensation makes {5, 7} the whole surviving group: closed
    incr.deleteClosed(
      Seq(5L -> "z z z", 7L -> "z z z").toDF("doc_id", "text"),
      "doc_id", "text", 5L)
    val fresh = incr.process(
      Seq(8L -> "z z z").toDF("doc_id", "text"), "doc_id", "text", 6L)
      .collect()
    assert(fresh.head.getLong(2) == 1L,
      "fully taken-down line must be un-seen (fresh keeper)")
  }

  test("span takedown = rebuild from the retained corpus; store and " +
      "behavior equal a never-ingested twin") {
    // 10-token docs sharing a 5-gram run: victim 1 introduces the run,
    // doc 2 carries it too; after the rebuild (victims excluded) the
    // store must behave as if doc 1 never existed
    val mk = (id: Long, pre: String) =>
      id -> s"$pre r s t u v w x y z"
    val b1 = Seq(mk(1L, "a"), mk(2L, "b")).toDF("doc_id", "text")
    val lakeA = newLake("takeSpA")
    val incr = new IncrementalDedup.Span(lakeA, prefix = "sp", n = 5)
    incr.process(b1, "doc_id", "text", 1L)
    incr.rebuild(b1.filter($"doc_id" =!= 1L), "doc_id", "text", 2L)
    val got = incr.process(
      Seq(mk(9L, "c")).toDF("doc_id", "text"), "doc_id", "text", 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val twin = new IncrementalDedup.Span(newLake("takeSpB"), prefix = "sp",
      n = 5)
    twin.process(b1.filter($"doc_id" =!= 1L), "doc_id", "text", 1L)
    val want = twin.process(
      Seq(mk(9L, "c")).toDF("doc_id", "text"), "doc_id", "text", 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"rebuild path $got != never-ingested $want")
  }

  test("deleteExactClosed refuses on a store predating the member-count " +
      "column (null n_members rows)") {
    val lake = newLake("takeLegacy")
    val incr = new IncrementalDedup.Exact(lake)
    incr.process(Seq(1L -> "aaa").toDF("doc_id", "text"),
      "doc_id", "text", 1L)
    // stage a legacy row: same content hash, no member count
    lake.append(incr.hashTable,
      Seq("aaa").toDF("t")
        .select(md5($"t").as("content_hash"), lit(2L).as("keep_id"),
          lit(null).cast("long").as("n_members")),
      2L)
    val ex = intercept[IllegalStateException](incr.deleteClosed(
      Seq(1L -> "aaa").toDF("doc_id", "text"), "doc_id", "text", 3L))
    assert(ex.getMessage.contains("predates the closed audit"),
      ex.getMessage)
  }

  /** Every row of every table the stores own, versions included. */
  private def snapshot(lake: Lake, stores: IncrementalDedup*) =
    stores.flatMap(_.tables).filter(t => lake.exists(t.name)).map(t =>
      t.name -> lake.table(t, keepVersion = true).collect()
        .map(_.toString).sorted.toSeq)

  test("closure audit refuses SHRUNK and UNAUDITED victim lists at both " +
      "granularities and leaves the store unchanged") {
    val cases = Seq[(String, Lake => IncrementalDedup, Seq[(Long, String)],
        Seq[(Long, String)], String)](
      // a victim row passed twice claims more occurrences than stored
      ("exact SHRUNK", new IncrementalDedup.Exact(_),
        Seq(1L -> "aaa", 2L -> "bbb"), Seq(1L -> "aaa", 1L -> "aaa"),
        "disagree"),
      ("lines SHRUNK", new IncrementalDedup.Lines(_),
        Seq(1L -> "a b c d e f", 2L -> "x y z"),
        Seq(1L -> "a b c d e f", 1L -> "a b c d e f"), "disagree"),
      // the victim id keeps content its passed text lacks
      ("exact UNAUDITED", new IncrementalDedup.Exact(_),
        Seq(7L -> "old text", 7L -> "new text"), Seq(7L -> "old text"),
        "more than one text"),
      ("lines UNAUDITED", new IncrementalDedup.Lines(_),
        Seq(1L -> "a b c d e f"), Seq(1L -> "a b c"),
        "more than one text"))
    for ((name, mk, ingest, victims, msg) <- cases) {
      val lake = newLake("takeAudit")
      val store = mk(lake)
      store.process(ingest.toDF("doc_id", "text"), "doc_id", "text", 1L)
      val before = snapshot(lake, store)
      val v = victims.toDF("doc_id", "text")
      val ex = intercept[IllegalStateException](store match {
        case s: IncrementalDedup.Exact => s.deleteClosed(v, "doc_id", "text", 2L)
        case s: IncrementalDedup.Lines => s.deleteClosed(v, "doc_id", "text", 2L)
        case s => fail(s"$name: $s has no closure audit")
      })
      assert(ex.getMessage.contains(msg), s"$name: ${ex.getMessage}")
      assert(snapshot(lake, store) == before, s"$name: store changed")
    }
  }

  test("compact at a version not above a pending tombstone throws and " +
      "leaves the store unchanged") {
    val lake = newLake("cmpGuard")
    val exact = new IncrementalDedup.Exact(lake, prefix = "g")
    val lines = new IncrementalDedup.Lines(lake, prefix = "g")
    val mh = new IncrementalDedup.Minhash(lake, prefix = "g", threshold = 0.3)
    val docs = Seq(1L -> "a b c d e f", 2L -> "a b c d e f x",
      3L -> "p q r s t u").toDF("doc_id", "text")
    val victim = Seq(3L).toDF("doc_id")
    exact.process(docs, "doc_id", "text", 1L)
    lines.process(docs, "doc_id", "text", 1L)
    mh.process(docs, "doc_id", "text", 1L)
    exact.delete(victim, "doc_id", 5L)
    lines.delete(victim, "doc_id", 5L)
    mh.delete(victim, "doc_id", 5L)
    val before = snapshot(lake, exact, lines, mh)
    assert(before.length == 7, before.map(_._1))
    for (store <- Seq(exact, lines, mh); v <- Seq(5L, 4L)) {
      val ex = intercept[IllegalArgumentException](store.compact(v))
      assert(ex.getMessage.contains("must exceed every pending tombstone"),
        ex.getMessage)
      assert(snapshot(lake, exact, lines, mh) == before, s"$store at $v")
    }
    Seq(exact, lines, mh).foreach(_.compact(6L))
    assert(Seq(exact.tombTable, lines.tombTable, mh.tombTable)
      .forall(t => !lake.exists(t.name)))
  }

  test("repeating a closed takedown is a no-op: the store still equals " +
      "the never-ingested twin after compact") {
    // the second call finds the group already gone (its keeper rows are
    // tombstoned), so it must append no compensation rows either
    val cases = Seq[(String, (Lake, String) => IncrementalDedup,
        Seq[(Long, String)])](
      ("exact", new IncrementalDedup.Exact(_, _),
        Seq(1L -> "aaa", 2L -> "aaa", 3L -> "ccc")),
      ("lines", new IncrementalDedup.Lines(_, _),
        Seq(1L -> "a a a b b b", 2L -> "a a a", 3L -> "c c c")))
    for ((name, mk, docs) <- cases) {
      val all = docs.toDF("doc_id", "text")
      val victims = all.filter($"doc_id" <= 2L)
      val lakeA = newLake("takeRepA")
      val incr = mk(lakeA, "rp")
      incr.process(all, "doc_id", "text", 1L)
      for (v <- Seq(2L, 3L)) incr match {
        case s: IncrementalDedup.Exact => s.deleteClosed(victims, "doc_id", "text", v)
        case s: IncrementalDedup.Lines => s.deleteClosed(victims, "doc_id", "text", v)
        case s => fail(s"$name: $s has no closure audit")
      }
      incr.compact(4L)
      val lakeB = newLake("takeRepB")
      val twin = mk(lakeB, "rp")
      twin.process(all.filter($"doc_id" === 3L), "doc_id", "text", 1L)
      twin.compact(4L)
      def rows(lk: Lake, st: IncrementalDedup) =
        lk.table(st.tables.head).collect().map(_.toString).sorted.toSeq
      assert(rows(lakeA, incr) == rows(lakeB, twin), name)
    }
  }
}
