package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import graft.lake.{Lake, TableDef}
import graft.similarity.TombstoneStore

/** The shared version-aware tombstone side table: the no-op-delete and
  * crash-ordering guards that every persisted index's delete path
  * inherits (IvfIndex under every codec / SemDeDupIndex / IncrementalDedup). */
class TombstoneStoreSpec extends SparkSpec {
  import spark.implicits._

  private def store() = {
    val dir = Files.createTempDirectory("tombs").toString
    val lake = new Lake(spark, dir)
    val vt = TableDef("vecs",
      StructType(Seq(StructField("cand_id", LongType),
        StructField("payload", LongType))),
      primaryKeys = Seq("cand_id"))
    val tt = TombstoneStore.tableDef("t")
    lake.append(vt, Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("cand_id", "payload"), 1L)
    (lake, vt, tt)
  }

  test("an empty delete batch writes nothing — pending stays false") {
    val (lake, _, tt) = store()
    TombstoneStore.delete(lake, tt,
      Seq.empty[Long].toDF("cand_id"), "cand_id", 2L)
    // pending() is a directory-existence probe: one empty append would
    // permanently force serving onto the keepVersion + anti-join path
    assert(!TombstoneStore.pending(lake, tt))
    // ids that dedup to empty after distinct-on-null? integral non-null
    // ids only — but a nonempty batch still creates the table
    TombstoneStore.delete(lake, tt, Seq(2L).toDF("cand_id"), "cand_id", 2L)
    assert(TombstoneStore.pending(lake, tt))
  }

  test("applyTo refuses a compaction version at or below a pending tombstone") {
    val (lake, vt, tt) = store()
    TombstoneStore.delete(lake, tt, Seq(2L).toDF("cand_id"), "cand_id", 5L)
    // version ≤ max pending tombstone: a crash between the store rewrite
    // and the tombstone drop would leave every rewritten row dead
    for (bad <- Seq(4L, 5L)) {
      val e = intercept[IllegalArgumentException] {
        TombstoneStore.applyTo(lake, tt, vt, bad)
      }
      assert(e.getMessage.contains("must exceed"), s"v=$bad: ${e.getMessage}")
    }
    // tombstones still pending after the refusal; a later version drains
    assert(TombstoneStore.pending(lake, tt))
    TombstoneStore.applyTo(lake, tt, vt, 6L)
    assert(!TombstoneStore.pending(lake, tt))
    assert(lake.table(vt).select($"cand_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L))
  }

  test("applyTo drains an existing-but-EMPTY tombstone table instead of " +
      "NPEing on the null max version") {
    val (lake, vt, tt) = store()
    // a pre-guard delete() could have appended an empty batch: the table
    // directory exists, zero rows — pending() is true but max(version)
    // aggregates to null (r12 ADVICE)
    lake.append(tt, Seq.empty[Long].toDF(tt.schema.head.name), 2L)
    assert(TombstoneStore.pending(lake, tt))
    TombstoneStore.applyTo(lake, tt, vt, 3L)
    assert(!TombstoneStore.pending(lake, tt),
      "empty husk not drained")
    assert(lake.table(vt).count() == 3L, "rows lost draining the husk")
  }
}
