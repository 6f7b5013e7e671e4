package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{Lake, TableDef}
import graft.obs.Trace
import graft.similarity.TombstoneStore

/** Lake-backed incremental dedup stores: dedupe each arriving batch
  * against everything ingested so far WITHOUT re-reading the historical
  * corpus. At 100 TB the daily cost is O(batch) compute plus a scan of
  * the (far smaller) state tables — the alternative, whole-corpus
  * [[Dedup.minhashNearDuplicates]] per day, re-shingles every historical
  * document every day.
  *
  * One store per granularity, each constructed as `(lake, prefix, its
  * settings)`: [[IncrementalDedup.Exact]], [[IncrementalDedup.Lines]]
  * (one [[Dedup.Chunker]]), [[IncrementalDedup.Span]] (one run length
  * `n`) and [[IncrementalDedup.Minhash]] (one shingle/LSH setting).
  * Every store has one `process(batch, id, text, version)`, its
  * takedown, and one `compact(version)`; a store never mixes chunkers
  * or run lengths, because it carries exactly one. Five state tables
  * exist across the four stores, each owned by one of them:
  *
  *   - `<prefix>_content_hashes` (Exact): content_hash, keep_id,
  *     n_members;
  *   - `<prefix>_line_hashes` (Lines): line_h, keep_doc, keep_line,
  *     n_members;
  *   - `<prefix>_span_grams` (Span): h;
  *   - `<prefix>_minhash_sigs` (Minhash): id, m0..m{n-1}, n_sh;
  *   - `<prefix>_shingles` (Minhash): id, h.
  *
  * Table names never collide across stores, so two stores of different
  * granularity may share a prefix (x88 runs Exact and Minhash under
  * `dedup`). Two stores of the SAME granularity with different settings
  * must not share one: line hashes from two chunkers (or grams of two
  * run lengths) would dedup against phantom content. Nothing on disk
  * records a store's settings, so only this documentation guards that.
  *
  * Takedown (`delete` on [[IncrementalDedup.Exact]],
  * [[IncrementalDedup.Lines]] and [[IncrementalDedup.Minhash]]) is the
  * O(victims) tombstone path shared with the vector indexes
  * ([[graft.similarity.TombstoneStore]]): reads anti-join pending
  * tombstones version-aware, `compact` applies them physically and
  * drains. IncrementalTakedownSpec pins never-ingested equivalence; the
  * x88 driver gate replays the lifecycle on the real corpus.
  *
  * Each public lifecycle operation is a [[Trace.span]] named
  * `dedup.<store>.<op>` and tagged with the prefix.
  */
sealed abstract class IncrementalDedup(lake: Lake, prefix: String) {

  /** Every table this store reads or writes, tombstones included. */
  def tables: Seq[TableDef]

  /** Dedup one batch against the store and record it there. */
  def process(newDocs: DataFrame, idCol: String, textCol: String,
      version: Long): DataFrame

  /** Maintenance-cadence compaction: physically applies pending
    * takedown tombstones (delete-bearing [[Lake.replace]] rewrites),
    * drains the tombstone table, and merges append-only state. Served
    * state is unchanged throughout — IncrementalTakedownSpec pins
    * read-equivalence around compact. The crash ordering is the
    * [[graft.similarity.TombstoneStore]] argument: each store rewrite
    * stamps `version`, which [[TombstoneStore.beginApply]] requires to
    * exceed every pending tombstone, so a crash between a rewrite and
    * its drain leaves only no-op tombstones. */
  def compact(version: Long = System.currentTimeMillis()): Unit

  protected def traced[T](op: String)(body: => T): T =
    Trace.span(lake.session, s"dedup.$op", prefix)(body)

  protected def state(t: TableDef): DataFrame = {
    lake.create(t, replace = false)
    lake.table(t)
  }

  /** [[state]] filtered down to rows alive under `tomb`'s pending
    * version-aware tombstones; the no-tombstone path (the common case)
    * is the plain read — no join node, no side-table listing. */
  protected def stateLive(t: TableDef, tomb: TableDef): DataFrame = {
    lake.create(t, replace = false)
    if (TombstoneStore.pending(lake, tomb))
      TombstoneStore.filterLive(lake, tomb, lake.table(t, keepVersion = true))
        .drop(Lake.Version)
    else lake.table(t)
  }

  // localCheckpoint, not persist+count: writing to a lake path triggers
  // recacheByPath, which would RE-EXECUTE a merely-cached result plan over
  // the just-appended files (observed: every shingle row doubled, jaccard
  // 4.0). Checkpointing truncates the lineage to materialized blocks, so
  // the returned frame is immune to the state tables changing under it.
  protected def materialize(df: DataFrame): DataFrame = df.localCheckpoint()

  /** One row per `key`: the min non-null keeper struct `__k` over
    * `keepers` and Σ n_members, without the zero-sum keeperless husks a
    * fully taken-down line leaves until compact (Exact keepers are never
    * null, so the filter passes every row there). */
  protected def mergeKeys(rows: DataFrame, key: String,
      keepers: Seq[String]): DataFrame =
    rows.groupBy(col(key))
      .agg(min(when(col(keepers.head).isNotNull,
          struct(keepers.map(col): _*))).as("__k"),
        sum(col("n_members")).as("n_members"))
      .filter(col("__k").isNotNull ||
        coalesce(col("n_members"), lit(1L)) =!= 0L)

  /** Physically applies `tomb`'s pending tombstones to `stores` and
    * drains it; the version guard runs before the first rewrite. */
  protected def applyTombstones(tomb: TableDef, stores: Seq[TableDef],
      version: Long): Unit =
    if (TombstoneStore.beginApply(lake, tomb, version)) {
      stores.foreach(t => lake.replace(t, stateLive(t, tomb), version))
      lake.drop(tomb.name)
    }

  /** The GROUP-CLOSURE AUDIT behind
    * [[IncrementalDedup.Exact.deleteClosed]] and
    * [[IncrementalDedup.Lines.deleteClosed]]: the validated takedown that
    * either equals a store that never ingested the victims, or fails
    * loudly BEFORE touching anything. `victims` holds one
    * (`__vid`, `key`) row per victim occurrence of a stored key (a
    * content hash or a line hash);
    * the store holds keeper rows (`keepers`, the first being the
    * keeper's doc id) plus per-batch `n_members` counts whose Σ per key
    * is its total ingested occurrences. Per key with victim occurrences:
    *   - keeper is a victim and the stored count equals the victims'
    *     count → the group is CLOSED: the keeper's id is tombstoned
    *     (never-ingested parity; compact drops the group's rows);
    *   - keeper is a victim but the stored count is larger → a retained
    *     document still shares the key: refuses (see below). The store
    *     keeps no member ids to re-elect from, so the caller must widen
    *     the takedown to the whole group or rebuild the store from the
    *     retained corpus;
    *   - keeper retained → matching is untouched; a compensation row
    *     restores Σ n_members to the never-ingested twin's count;
    *   - key absent from the store → no-op.
    * The tombstone covers EVERY victim id that keys a live row, not just
    * current keepers: an append-only Exact store keeps one row per batch
    * and keep_id can DECREASE across batches, so a victim can survive as
    * a STALE keeper on an older row. In a closed group every stored
    * keeper is a former canonical, hence a member, hence a victim, so the
    * id-keyed tombstone drops the whole group.
    *
    * ONE tagged probe answers the four refusal classes in one driver
    * job: 0 LEGACY (rows without member counts — a sum over the nulls
    * would undercount), 1 UNAUDITED (a victim id keeping a key no victim
    * text carries — the id was ingested under more than one text, and
    * the id-keyed tombstone would un-see it unaudited), 2 OPEN (keeper
    * victim, retained members), 3 SHRUNK (the victims claim more
    * occurrences than the store counts). A replayed crashed batch can
    * only OVER-count n_members, so the audit errs toward refusing —
    * never toward a silent un-see. Cost: O(victims) plus one aggregate
    * over the store.
    *
    * Compensation rows carry `killed − n_victims` members, where killed
    * is Σ n_members over the victim-keyed rows the tombstone kills. Only
    * their keeper columns differ per store: the group's retained keeper
    * when `retainKeeper` (Exact), NULL coordinates otherwise (Lines,
    * whose count rows never make a line seen). */
  protected def auditedDelete(victims: DataFrame, key: String,
      table: TableDef, tomb: TableDef, keepers: Seq[String], noun: String,
      retainKeeper: Boolean, version: Long): Unit = {
    val v = victims.localCheckpoint()
    val victimIds = v.select(col("__vid")).distinct()
    val vByKey = v.groupBy(col(key)).agg(count(lit(1)).as("n_victims"))
    val keeper = col(keepers.head)
    val rawLive = stateLive(table, tomb).localCheckpoint()
    // a husk is ABSENT for the audit: a victim text containing it is a
    // no-op, not a shrunk-count corruption
    val merged = mergeKeys(rawLive, key, keepers).join(vByKey, Seq(key))
    val affected = merged.join(victimIds,
      col("__k").getField(keepers.head) === col("__vid"), "left_semi")
    val keyed = rawLive.join(victimIds, keeper === col("__vid"), "left_semi")
    val nl = lit(null).cast(LongType)
    val viol = rawLive.join(vByKey.select(col(key)), Seq(key), "left_semi")
      .filter(col("n_members").isNull)
      .select(lit(0).as("__t"), col(key), nl.as("a"), nl.as("b")).limit(1)
      .unionAll(keyed.join(vByKey.select(col(key)), Seq(key), "left_anti")
        .select(lit(1).as("__t"), col(key), keeper.as("a"), nl.as("b"))
        .limit(1))
      .unionAll(affected.filter(col("n_members") > col("n_victims"))
        .select(lit(2).as("__t"), col(key),
          col("n_members").as("a"), col("n_victims").as("b")).limit(1))
      .unionAll(affected.filter(col("n_members") < col("n_victims"))
        .select(lit(3).as("__t"), col(key),
          col("n_members").as("a"), col("n_victims").as("b")).limit(1))
      .collect().sortBy(_.getInt(0))
    viol.headOption.foreach { r =>
      val h = r.getString(1)
      throw new IllegalStateException(s"$prefix: " + (r.getInt(0) match {
        case 0 => s"$noun $h has rows without member counts — the store " +
          "predates the closed audit (or a keeper-forget delete orphaned " +
          "its counts); use delete or rebuild the store from the " +
          "retained corpus."
        case 1 => s"victim id ${r.getLong(2)} also keeps $noun $h that no " +
          "victim text carries — it was ingested under more than one " +
          "text; pass every text version of each victim id so the audit " +
          "covers everything the takedown would un-see."
        case 2 => s"open-group takedown — $noun $h has ${r.getLong(2)} " +
          s"ingested occurrences but only ${r.getLong(3)} are victims'; " +
          s"forgetting the keeper would un-see $noun a retained document " +
          "shares. Widen the takedown to the whole group or rebuild the " +
          "store from the retained corpus."
        case _ => s"takedown claims ${r.getLong(3)} victim occurrences of " +
          s"$noun $h but the store only counts ${r.getLong(2)} — victim " +
          "list and store disagree; refusing to delete on corrupt " +
          "accounting."
      }))
    }
    val killed = keyed.groupBy(col(key))
      .agg(sum(col("n_members")).as("__killed"))
    val compKeepers = keepers.map(k =>
      if (retainKeeper) col("__k").getField(k).as(k)
      else lit(null).cast(table.schema(k).dataType).as(k))
    val comp = merged.join(killed, Seq(key), "left")
      .select((col(key) +: compKeepers :+
        (coalesce(col("__killed"), lit(0L)) - col("n_victims"))
          .as("n_members")): _*)
      .filter(col("n_members") =!= 0L)
    // only ids that actually key a live row: victims that kept nothing
    // stay pure no-ops (no pending tombstone forcing the join-bearing
    // read path for a delete that deletes nothing)
    val keyedVictims = victimIds.join(rawLive, keeper === col("__vid"),
      "left_semi")
    TombstoneStore.delete(lake, tomb, keyedVictims, "__vid", version)
    if (!comp.isEmpty) lake.append(table, comp, version)
  }
}

object IncrementalDedup {

  /** Exact (whole-content) store. `<prefix>_content_hashes` (content_hash,
    * keep_id, n_members) — 16 bytes + id + count per distinct content.
    * APPEND-ONLY with read-time merge: keep_id only ever decreases, so
    * `min(keep_id) GROUP BY content_hash` over all appended rows IS the
    * current match state — no per-batch compaction, and re-appending the
    * same rows leaves MATCH behavior unchanged (idempotent re-runs).
    * n_members accumulates by Σ (each batch appends its own member
    * count) — the evidence [[deleteClosed]] audits; a crashed-batch
    * re-append can only OVER-count it, which fails the audit closed.
    *
    * SEEN-CONTENT semantics, deliberately different from [[Minhash]]'s
    * current-corpus semantics: the store answers "was this exact content
    * EVER ingested", so a doc re-ingested with corrected text leaves its
    * old hash in the store and a later doc matching the retracted text
    * still reports as a duplicate. That is the standard contract for
    * exact content dedup in a training pipeline (a retracted revision
    * was still trained-on history); a current-corpus exact store would
    * need an id→hash sidecar to retract rows — near-dup retraction is
    * what [[Minhash]]'s rewrite path provides. */
  final class Exact(lake: Lake, prefix: String = "dedup")
      extends IncrementalDedup(lake, prefix) {

    val hashTable: TableDef = TableDef(s"${prefix}_content_hashes",
      StructType(Seq(StructField("content_hash", StringType),
        StructField("keep_id", LongType),
        StructField("n_members", LongType))))
    val tombTable: TableDef =
      TombstoneStore.tableDef(s"${prefix}_exact", keyCol = "keep_id")
    def tables: Seq[TableDef] = Seq(hashTable, tombTable)

    /** Returns (doc_id, canonical_id) for batch docs whose content first
      * appeared under a smaller id; appends this batch's hash groups to
      * the store (min-merge makes the append idempotent). */
    def process(newDocs: DataFrame, idCol: String, textCol: String,
        version: Long): DataFrame = traced("exact.process") {
      val docs = newDocs.withColumn(idCol, col(idCol).cast(LongType))
      val store = stateLive(hashTable, tombTable)
        .groupBy(col("content_hash")).agg(min(col("keep_id")).as("keep_id"))
      val (dups, upd) = Dedup.exactIncremental(docs, idCol, textCol, store)
      val out = materialize(dups)
      lake.append(hashTable, upd, version)
      out
    }

    /** Keeper-forget takedown: UN-SEE the content the victim docs
      * introduced. Only keeper rows exist in the store (suppressed
      * duplicates were never recorded), so the operation is keyed on
      * `keep_id`: content whose keeper is a victim stops matching — a
      * later ingest of the same content becomes a fresh keeper under its
      * own id. Ids that never kept content are no-ops (idempotent). The
      * caller owns removing the victims' suppressed copies from the
      * corpus itself — the (doc, canonical) outputs of past batches are
      * that bookkeeping.
      *
      * O(victims): appends a version-aware tombstone batch; reads pay one
      * anti-join while tombstones pend, [[compact]] applies them.
      * `version` must exceed every prior ingest version (the lake's
      * monotonic contract) — a crashed batch RE-RUN after a takedown of
      * its own rows would re-seed them, like any out-of-order replay. */
    def delete(ids: DataFrame, idCol: String, version: Long): Unit =
      traced("exact.delete")(
        TombstoneStore.delete(lake, tombTable, ids, idCol, version))

    /** [[delete]] with the group-closure audit (the base class's
      * `auditedDelete`): the caller passes the
      * victims' DOCUMENTS (ids + every text version each id was ingested
      * under), keyed by content hash. */
    def deleteClosed(docs: DataFrame, idCol: String, textCol: String,
        version: Long): Unit = traced("exact.deleteClosed") {
      auditedDelete(docs.select(col(idCol).cast(LongType).as("__vid"),
          md5(col(textCol)).as("content_hash")),
        "content_hash", hashTable, tombTable, Seq("keep_id"), "content",
        retainKeeper = true, version)
    }

    def compact(version: Long): Unit = traced("exact.compact")(
      applyTombstones(tombTable, Seq(hashTable), version))
  }

  /** Line-level store over one [[Dedup.Chunker]]
    * ([[Dedup.lineIncremental]] wired to the lake): `process` returns the
    * batch's (doc_id, n_lines, n_kept, text_kept) and records its lines.
    * SEEN-CONTENT semantics like [[Exact]] — batch-by-batch equals
    * whole-corpus [[Dedup.lineDedup]] for time-ordered ids.
    *
    * `<prefix>_line_hashes` holds one KEEPER row per distinct line ever
    * ingested (md5 hex + keeper coordinates, written by the line's first
    * batch) plus COUNT-DELTA rows (NULL keeper coordinates) from every
    * later batch that saw the line — Σ n_members over a line's rows is
    * its total ingested occurrences, the evidence [[deleteClosed]]
    * audits. The seen probe reads only keeper rows, so count rows never
    * make a line seen. [[compact]] merges each line to one row (keeper
    * coordinates + summed count); it must NOT be PK-compacted by version
    * (that would drop count deltas).
    *
    * Re-running an ALREADY-COMMITTED batch is store-safe but
    * result-lossy: every line of the rerun batch is by then in the
    * store, so the rerun reports all its lines as duplicates
    * (n_kept = 0 everywhere) rather than reproducing the original result
    * — recover results from the first run's output, not by replay
    * (DedupIncrementalSpec pins this). Its count deltas over-count, which
    * the closure audit treats as refuse-don't-guess. */
  final class Lines(lake: Lake, prefix: String = "dedup",
      chunker: Dedup.Chunker = Dedup.Chunker.Tokens())
      extends IncrementalDedup(lake, prefix) {

    val lineTable: TableDef = TableDef(s"${prefix}_line_hashes",
      StructType(Seq(StructField("line_h", StringType),
        StructField("keep_doc", LongType),
        StructField("keep_line", IntegerType),
        StructField("n_members", LongType))))
    val tombTable: TableDef =
      TombstoneStore.tableDef(s"${prefix}_line", keyCol = "keep_doc")
    def tables: Seq[TableDef] = Seq(lineTable, tombTable)
    private val keepers = Seq("keep_doc", "keep_line")

    /** The seen probe reads only KEEPER rows; the append writes keeper
      * coordinates for first-seen lines plus count deltas for re-seen
      * ones. */
    def process(newDocs: DataFrame, idCol: String, textCol: String,
        version: Long): DataFrame = traced("lines.process") {
      val (result, counted) = Dedup.lineIncrementalCounted(
        newDocs, idCol, textCol,
        stateLive(lineTable, tombTable).filter(col("keep_doc").isNotNull),
        chunker)
      val out = materialize(result)
      lake.append(lineTable, counted, version)
      out
    }

    /** Keeper-forget takedown: un-sees every line whose KEEPER is a
      * victim doc, so the line is kept fresh at its next occurrence.
      * [[IncrementalDedup.Exact.delete]]'s semantics, cost and version
      * contract — deleting a keeper whose line retained documents still
      * share un-sees shared content, and it orphans the line's
      * count-delta rows, so a LATER [[deleteClosed]] on the same store
      * may refuse (loudly — the audit errs toward refusal); pick one
      * takedown discipline per store. */
    def delete(ids: DataFrame, idCol: String, version: Long): Unit =
      traced("lines.delete")(
        TombstoneStore.delete(lake, tombTable, ids, idCol, version))

    /** [[delete]] with the group-closure audit (the base class's
      * `auditedDelete`) per line: the victims' DOCUMENTS are cut by this
      * store's chunker, and per line whose keeper is a victim the stored
      * occurrence count must equal the victims'. */
    def deleteClosed(docs: DataFrame, idCol: String, textCol: String,
        version: Long): Unit = traced("lines.deleteClosed") {
      auditedDelete(docs
          .select(col(idCol).cast(LongType).as("__vid"),
            explode(chunker.lines(col(textCol))).as("__ln"))
          .select(col("__vid"), md5(col("__ln.line")).as("line_h")),
        "line_h", lineTable, tombTable, keepers, "line",
        retainKeeper = false, version)
    }

    /** Count-preserving merge (NOT a PK compaction — that would drop
      * count-delta rows): one row per line with its keeper coordinates
      * and summed occurrences; zero-sum keeperless husks (fully
      * taken-down lines) drop physically here. */
    def compact(version: Long): Unit = traced("lines.compact") {
      if (lake.exists(lineTable.name)) {
        val applying = TombstoneStore.beginApply(lake, tombTable, version)
        val mergedLines = mergeKeys(stateLive(lineTable, tombTable),
            "line_h", keepers)
          .select(col("line_h"), col("__k.keep_doc").as("keep_doc"),
            col("__k.keep_line").as("keep_line"), col("n_members"))
        lake.replace(lineTable, mergedLines, version)
        if (applying) lake.drop(tombTable.name)
      }
    }
  }

  /** Exact-substring span store at run length `n`
    * ([[Dedup.spanIncremental]] wired to the lake): `process` returns the
    * batch's (doc_id, n_tokens, n_kept, text_kept) and appends the gram
    * hashes first seen in this batch. SEEN-CONTENT semantics like
    * [[Lines]] — batch-by-batch equals whole-corpus
    * [[Dedup.exactSubstringDedup]] for time-ordered ids, and a rerun of a
    * committed batch is store-safe but result-lossy.
    *
    * `<prefix>_span_grams` keeps one 8-byte xxhash64 per distinct n-token
    * run, probed only through semi/anti joins on `h`, so duplicate rows
    * from a crashed-and-rerun append are harmless; `h` as primary key
    * lets [[compact]] PK-compact them. The store has NO tombstone table
    * deliberately: its rows carry no doc attribution (the storage economy
    * that makes it viable at corpus scale), so per-doc takedown is
    * impossible by construction — removing a gram another document also
    * contains would un-see shared content. Takedown is [[rebuild]]. */
  final class Span(lake: Lake, prefix: String = "dedup", n: Int = 50)
      extends IncrementalDedup(lake, prefix) {

    val spanTable: TableDef = TableDef(s"${prefix}_span_grams",
      StructType(Seq(StructField("h", LongType))),
      primaryKeys = Seq("h"))
    def tables: Seq[TableDef] = Seq(spanTable)

    def process(newDocs: DataFrame, idCol: String, textCol: String,
        version: Long): DataFrame = traced("span.process") {
      val (result, newGrams) = Dedup.spanIncremental(
        newDocs, idCol, textCol, state(spanTable), n)
      val out = materialize(result)
      lake.append(spanTable, newGrams, version)
      out
    }

    /** Takedown through the DOCUMENTED rebuild path: drops the store and
      * replays the RETAINED corpus through [[process]]. After this the
      * store is byte-identical to one that never ingested the victims
      * (the x98 gate races the twin). O(retained corpus) by design — the
      * storage economy traded rebuild cost for per-gram attribution; run
      * at the takedown cadence, not per batch. The caller supplies
      * `retained` from its own corpus bookkeeping (the store cannot
      * reconstruct documents).
      * @return the replay's per-doc result over the retained corpus */
    def rebuild(retained: DataFrame, idCol: String, textCol: String,
        version: Long): DataFrame = traced("span.rebuild") {
      lake.drop(spanTable.name)
      process(retained, idCol, textCol, version)
    }

    def compact(version: Long): Unit = traced("span.compact")(
      if (lake.exists(spanTable.name)) lake.optimize(spanTable))
  }

  /** MinHash+LSH near-dup store. `<prefix>_minhash_sigs` (id,
    * m0..m{n-1}, n_sh) holds [[Dedup.minhashSigs]] signatures, 8·nHashes
    * bytes per doc, scanned fully per batch for LSH banding;
    * `<prefix>_shingles` (id, h) holds shingle-hash rows for
    * exact-Jaccard verification — the largest table (∝ corpus tokens),
    * but read only through candidate-pruned joins and still far cheaper
    * than re-tokenizing text.
    *
    * Both tables APPEND on the normal path (fresh ids create no
    * duplicates). A batch that re-ingests known ids — the rare corrective
    * path — supersedes its stored state: prior rows for those ids are
    * anti-joined out of the match AND the tables are rewritten without
    * them ([[Lake.replace]]: temp-write + swap, so the rewrite safely
    * reads the files it replaces). Row-level PK compaction cannot
    * express this (a corrected document's VANISHED shingles must be
    * deleted, not overwritten). DedupIncrementalSpec pins re-run
    * idempotence. */
  final class Minhash(lake: Lake, prefix: String = "dedup",
      shingleSize: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
      threshold: Double = 0.7) extends IncrementalDedup(lake, prefix) {

    val sigTable: TableDef = TableDef(s"${prefix}_minhash_sigs",
      StructType((StructField("id", LongType) +:
        (0 until bands * rowsPerBand).map(i => StructField(s"m$i", LongType))) :+
        StructField("n_sh", LongType)))
    val shingleTable: TableDef = TableDef(s"${prefix}_shingles",
      StructType(Seq(StructField("id", LongType), StructField("h", LongType))))
    val tombTable: TableDef =
      TombstoneStore.tableDef(s"${prefix}_mh", keyCol = "id")
    def tables: Seq[TableDef] = Seq(sigTable, shingleTable, tombTable)

    /** Returns (id_a, id_b, jaccard) pairs with at least one side in the
      * batch — exactly the whole-corpus [[Dedup.minhashNearDuplicates]]
      * pairs involving a batch doc — and adds the batch's
      * signatures/shingles to the store (append for fresh ids; rewrite
      * when the batch re-ingests known ids). */
    def process(newDocs: DataFrame, idCol: String, textCol: String,
        version: Long): DataFrame = traced("minhash.process") {
      // cast ONCE at the state boundary: the tables declare Long ids, and
      // a caller's int batch must not write mixed-type parquet into them
      val docs = newDocs.withColumn(idCol, col(idCol).cast(LongType))
      val batchIds = docs.select(col(idCol).as("id")).distinct()
      val sigStore = stateLive(sigTable, tombTable)
      val reingests = sigStore
        .join(broadcast(batchIds), Seq("id"), "left_semi").limit(1).count() > 0
      val priorSigs =
        if (reingests) sigStore.join(broadcast(batchIds), Seq("id"), "left_anti")
        else sigStore
      val priorSh =
        if (reingests) stateLive(shingleTable, tombTable)
          .join(broadcast(batchIds), Seq("id"), "left_anti")
        else stateLive(shingleTable, tombTable)
      val (pairs, newSigs, newSh) = Dedup.minhashIncremental(
        docs, idCol, textCol, priorSigs, priorSh,
        shingleSize, bands, rowsPerBand, threshold)
      val out = materialize(pairs)
      if (reingests) {
        lake.replace(sigTable, priorSigs.unionByName(newSigs), version)
        lake.replace(shingleTable, priorSh.unionByName(newSh), version)
        // the rewrite materialized the tombstone-filtered state at a
        // version above every pending tombstone — they are inert now, so
        // drain them and restore the no-join fast path immediately
        if (TombstoneStore.pending(lake, tombTable)) lake.drop(tombTable.name)
      } else {
        lake.append(sigTable, newSigs, version)
        lake.append(shingleTable, newSh, version)
      }
      newSh.unpersist()
      out
    }

    /** Removes the victim docs from the CURRENT corpus — subsequent
      * batches no longer pair against them (the retraction [[process]]'s
      * re-ingest rewrite performs, as an O(victims) tombstone append
      * instead of an O(store) rewrite). A victim id re-ingested later
      * (higher version) is alive again through the normal append path —
      * its dead rows stay anti-joined out, so no supersede rewrite
      * triggers. */
    def delete(ids: DataFrame, idCol: String, version: Long): Unit =
      traced("minhash.delete")(
        TombstoneStore.delete(lake, tombTable, ids, idCol, version))

    def compact(version: Long): Unit = traced("minhash.compact")(
      applyTombstones(tombTable, Seq(sigTable, shingleTable), version))
  }
}
