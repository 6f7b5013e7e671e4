package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{Lake, TableDef}

/** Version-aware tombstone deletes for the persisted vector indexes —
  * the delta-architecture delete path ([[IvfIndex.delete]] under every
  * [[CellCodec]]):
  *
  *   - '''delete''' is O(batch): the ids are appended to a side table;
  *     no stored vector is read or rewritten (a physical delete would be
  *     an O(store) rewrite on every GDPR/takedown batch).
  *   - '''serving''' anti-joins the probed slice against the tombstones,
  *     version-aware: a stored row dies iff SOME tombstone for its id
  *     carries a version ≥ the row's — so an id RE-APPENDED after its
  *     deletion (at a higher version) is alive again, matching the
  *     append/optimize supersede semantics everywhere else in the lake.
  *     With no tombstone table on disk serving takes the exact
  *     pre-delete plan (no join node) — the common path pays nothing.
  *   - '''apply''' (compaction cadence) PK-compacts, rewrites the store
  *     minus dead rows, then drops the tombstone table. The ordering is
  *     crash-safe without a transaction: if the process dies after the
  *     store rewrite but before the tombstone drop, the stale tombstones
  *     target versions strictly below the rewrite's stamp — they kill
  *     nothing, and the next apply clears them.
  *
  * Tombstone volume between compactions is bounded by the maintenance
  * cadence (the reference's daily `optimize()` discipline); the serving
  * anti-join's build side is that bounded set, so AQE broadcasts it in
  * the normal case and a bulk-delete day degrades to one shuffled
  * anti-join, never a store rewrite on the serving path.
  */
private[graft] object TombstoneStore {

  /** `keyCol` names the guarded table's id column ("cand_id" for the IVF
    * stores, "doc_id" for [[graft.dedup.SemDeDupIndex]]). */
  def tableDef(prefix: String, keyCol: String = "cand_id"): TableDef =
    TableDef(s"${prefix}_tombstones",
      StructType(Seq(StructField(keyCol, LongType))),
      primaryKeys = Seq(keyCol))

  private def keyCol(t: TableDef): String = t.primaryKeys.head

  /** Append a delete batch (ids deduped within the batch). Rows of these
    * ids stored at version ≤ `version` are dead from the next search on.
    * An EMPTY batch writes nothing: [[pending]] is a directory-existence
    * check, so one empty append would force every subsequent serve onto
    * the keepVersion + anti-join path until the next compact — for a
    * delete that deleted nothing. */
  def delete(lake: Lake, t: TableDef, ids: DataFrame, idCol: String,
      version: Long): Unit = {
    val dt = ids.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"${t.name}: id column '$idCol' must be integral, got $dt")
    val deduped = ids.select(col(idCol).cast(LongType).as(keyCol(t)))
      .distinct().localCheckpoint() // probed twice (isEmpty + append)
    if (!deduped.isEmpty) lake.append(t, deduped, version)
  }

  /** True iff any tombstones are pending — an `exists` check only, so the
    * no-tombstone serving path never lists or reads the side table. */
  def pending(lake: Lake, t: TableDef): Boolean = lake.exists(t.name)

  /** Filter a version-bearing stored read down to live rows (see object
    * scaladoc for the death rule). Caller guards with [[pending]] and
    * reads `keepVersion = true`. */
  def filterLive(lake: Lake, t: TableDef, stored: DataFrame): DataFrame = {
    val k = keyCol(t)
    val tombs = lake.table(t, keepVersion = true)
      .select(col(k).as("__t_id"), col(Lake.Version).as("__t_v"))
    stored.join(tombs,
      stored(k) === col("__t_id") &&
        stored(Lake.Version) <= col("__t_v"),
      "left_anti")
  }

  /** Opens a compaction's physical apply of `t`: false when nothing
    * pends (an existing-but-empty table — a pre-guard [[delete]] that
    * appended an empty batch — is drained here, keeping the no-join
    * serving path instead of NPEing on the null max); otherwise requires
    * `version` to exceed every pending tombstone version and returns
    * true. The crash-safety ordering (rewrite, THEN drop) only holds when
    * the rewrite's stamp exceeds every pending tombstone's: a stale stamp
    * would leave rewritten rows at version ≤ some tombstone, so a crash
    * between replace and drop serves an empty store. `version` is
    * caller-supplied with no other monotonicity check, so every store
    * that rewrites under pending tombstones calls this before its first
    * rewrite ([[applyTo]], [[graft.dedup.IncrementalDedup]]'s compact). */
  def beginApply(lake: Lake, t: TableDef, version: Long): Boolean = {
    if (!pending(lake, t)) return false
    val maxRow = lake.table(t, keepVersion = true)
      .agg(max(col(Lake.Version))).head
    if (maxRow.isNullAt(0)) {
      lake.drop(t.name)
      return false
    }
    val maxTomb = maxRow.getLong(0)
    require(version > maxTomb,
      s"${t.name}: compaction version $version must exceed every pending " +
        s"tombstone version (max pending: $maxTomb) — a crash between " +
        "rewrite and drain would otherwise kill the rewritten rows")
    true
  }

  /** Apply pending tombstones to `vectorTable` and drain the side table —
    * the maintenance-cadence physical delete (crash ordering in the
    * object scaladoc). Also performs the PK compaction, so index
    * `compact()` methods delegate here unconditionally. */
  def applyTo(lake: Lake, t: TableDef, vectorTable: TableDef,
      version: Long): Unit = {
    lake.optimize(vectorTable)
    if (!beginApply(lake, t, version)) return
    val live = filterLive(lake, t,
      lake.table(vectorTable, keepVersion = true)).drop(Lake.Version)
    lake.replace(vectorTable, live, version)
    lake.drop(t.name)
  }
}
