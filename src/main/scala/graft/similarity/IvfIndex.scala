package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions.asDouble
import graft.lake.{Lake, TableDef}
import graft.obs.Trace

/** Persisted IVF index: train the coarse quantizer (and the codec's
  * quantizer — [[CellCodec]]) ONCE, keep the cell-assigned corpus in a
  * lake table PARTITIONED BY CELL, and serve every later search from the
  * index — the production shape of the one-shot [[Ann.ivfTopK]] /
  * [[Ann.ivfPqTopK]] / [[Ann.sqTopK]], which re-train and re-assign per
  * call.
  *
  * Why this matters at 100 TB:
  *   - the corpus-assignment (and encode) pass — the only full scan —
  *     runs once at [[build]] and O(batch) at [[append]]: new embeddings
  *     are assigned to the FROZEN centroids with one broadcast argmin pass
  *     and plainly appended; stored vectors are never read or rewritten on
  *     the daily path;
  *   - re-ingested ids are superseded by VERSION at the next [[compact]]
  *     (the lake's primary-key compaction — the machinery the price tables
  *     use), not by rewriting the store inside append. Between a re-ingest
  *     and the next compact a search may return the superseded row — the
  *     standard staleness window of every delta-architecture vector store;
  *   - [[search]] collects each query batch's probed cell ids (≤ nLists
  *     ints) and filters the vector table with them as LITERALS, so
  *     Catalyst prunes cell partitions STATICALLY — a search reads
  *     ~nProbe/nLists of the index (and of a compressed codec, only the
  *     codes column until refine).
  *
  * Quantizers are deterministic (hash-sampled, seeded farthest-point
  * Lloyd), so right after [[build]] a search is byte-equal to the codec's
  * one-shot path at the same parameters (Flat and Pq at the same nProbe,
  * Sq8 at a full probe — the x45/x59/x96 gates). The contract covers
  * every integral id width ([[vecs]] rejects non-integral ids):
  * [[Ann.hashSample]] widens the id to long before hashing, so a narrow id
  * column draws the sample the stored LongType `cand_id` does.
  * Drift note: appended batches shift the distribution the frozen
  * quantizers were trained on — recall decays gradually; [[rebuild]] is
  * the recovery (the x39-style recall gate is the drift detector).
  *
  * `prefix` defaults to the codec's (ivf / ivfpq / ivfsq). Each public
  * lifecycle operation is a [[Trace.span]] named `ivf.<op>`, tagged with
  * the prefix.
  */
class IvfIndex(lake: Lake, codec: CellCodec, nLists: Int, prefix: String) {

  def this(lake: Lake, codec: CellCodec, nLists: Int = 16) =
    this(lake, codec, nLists, codec.defaultPrefix)

  val centroidTable: TableDef = QuantizerStore.centroidTableDef(prefix)
  /** Top-router table, non-empty ONLY for routed builds: append/search
    * then serve the routed O(√k) assignment and routed probes — matching
    * the one-shot paths' large-k regime, so the byte-parity contracts
    * hold in BOTH regimes (codec payloads are cell-independent). */
  val topTable: TableDef = QuantizerStore.topTableDef(prefix)
  val vectorTable: TableDef = TableDef(s"${prefix}_vectors",
    StructType(Seq(StructField("cand_id", LongType),
      StructField("cv", ArrayType(DoubleType)),
      StructField("cell", IntegerType)) ++ codec.columns),
    partitionKeys = Seq("cell"),
    primaryKeys = Seq("cand_id"),
    clusterWrites = true)
  /** Pending deletes ([[delete]]) awaiting the next [[compact]] —
    * version-aware semantics in [[TombstoneStore]]. */
  val tombTable: TableDef = TombstoneStore.tableDef(prefix)
  /** Per-cell angular radii for [[searchAdaptive]]'s sound cell bound
    * ([[QuantizerStore.radiiTableDef]] contract), in the space the codec's
    * bound lives in ([[CellCodec.Frozen.radii]]). */
  val radiiTable: TableDef = QuantizerStore.radiiTableDef(prefix)
  /** The codec's trained parameters (codebooks, SQ bounds); None for Flat. */
  val auxTable: Option[TableDef] = codec.auxTable(prefix)

  private def traced[T](op: String)(body: => T): T =
    Trace.span(lake.session, s"ivf.$op", prefix)(body)

  private def vecs(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val t = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"$prefix: id column '$idCol' must be integral (stored as long), got $t")
    df.select(col(idCol).cast(LongType).as("cand_id"),
      asDouble(col(vecCol)).as("cv"))
  }

  /** Train the quantizers on `corpus` and write the tables, each via the
    * lake's temp-write + swap ([[Lake.replace]]): a mid-build failure
    * leaves the previous index intact and serving. The swaps are not
    * jointly atomic: a crash BETWEEN them leaves new vectors with old
    * quantizers (searches are wrong, not lost) and a build re-run
    * converges it. One full pass over the corpus assigns cells AND
    * encodes.
    *
    * ONE sampling job feeds every trainer (the same sample bytes the
    * one-shot paths draw); [[QuantizerStore.write]] persists the coarse
    * quantizer in either regime, so every later [[append]]/[[search]]
    * serves it from disk. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      version: Long): Unit = traced("build") {
    val spark = corpus.sparkSession
    val c = vecs(corpus, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sample = Ann.hashSample(c)
    val quant = Quantizer.train(c, sample, nLists)
    val frozen = codec.train(sample)
    val encoded = frozen.encode(quant.assign(c))
    lake.replace(vectorTable, encoded, version)
    // radii re-derive assign (+ encode) from the cached corpus — a
    // broadcast pass, no disk read-back; one aggregate, ≤ nLists rows
    QuantizerStore.writeRadii(lake, radiiTable,
      frozen.radii(encoded, quant.cells), version, spark)
    QuantizerStore.write(lake, prefix, quant, version, spark)
    auxTable.foreach(lake.replace(_, frozen.auxRows(spark), version))
    c.unpersist()
  }

  // Lake.table resolves a missing table to an empty frame; QuantizerStore
  // .load's requires turn that into loud pre-build / regime-mismatch /
  // partial-build failures instead of silently-empty searches or
  // everything-in-cell-0 appends.
  private def loadQuantizer(): Quantizer =
    QuantizerStore.load(lake, prefix, nLists)

  /** Assign + encode a new batch against the FROZEN quantizers and append
    * it — O(batch) work, touching no stored data. Duplicate ids WITHIN the
    * batch are collapsed here (same survivor rule as [[Lake.optimize]]'s
    * tie-break: remaining columns descending) so append-then-compact and a
    * direct compact agree on the surviving row. A re-ingested id's OLD
    * stored row remains until [[compact]] supersedes it by version. */
  def append(newVecs: DataFrame, idCol: String, vecCol: String,
      version: Long): Unit = traced("append") {
    val quant = loadQuantizer()
    val frozen = codec.load(lake, prefix)
    val assigned = frozen.encode(quant.assign(vecs(newVecs, idCol, vecCol)))
    val w = Window.partitionBy(col("cand_id"))
      .orderBy(col("cell").desc, col("cv").desc)
    val deduped = assigned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lake.append(vectorTable, deduped, version)
    // widen touched cells' radii so the adaptive bound stays sound for
    // appended members — O(batch) aggregate, tiny table rewrite
    QuantizerStore.mergeRadii(lake, radiiTable,
      frozen.radii(deduped, quant.cells), version, newVecs.sparkSession)
    deduped.unpersist()
  }

  /** Drift recovery in one call: retrain the quantizers on the STORED
    * corpus and rebuild the index in place (payloads re-encode against the
    * fresh codec state during the build pass). Compacts FIRST so
    * superseded re-ingested rows do not re-enter, then materializes the
    * snapshot (localCheckpoint) because [[build]] swaps the very table it
    * reads. Inherently O(corpus) — the cost of a fresh build, by design. */
  def rebuild(version: Long): Unit = traced("rebuild") {
    compact()
    val snap = lake.table(vectorTable)
      .select(col("cand_id"), col("cv").as("embedding"))
      .localCheckpoint()
    require(!snap.isEmpty, s"$prefix: nothing stored — build() the index first")
    build(snap, "cand_id", "embedding", version)
  }

  /** O(batch) delete: append the ids as tombstones — stored rows at
    * version ≤ `version` stop being served from the next search on (in
    * the scored scan AND the refine float re-read), and are physically
    * removed at the next [[compact]]. A later [[append]] of the same id at
    * a HIGHER version revives it (the lake's supersede rule). No stored
    * data is read or rewritten here. */
  def delete(ids: DataFrame, idCol: String, version: Long): Unit =
    traced("delete")(TombstoneStore.delete(lake, tombTable, ids, idCol, version))

  /** Primary-key compaction of the vector table: one row per cand_id,
    * newest version wins ([[Lake.optimize]]), then pending [[delete]]
    * tombstones are applied and drained ([[TombstoneStore.applyTo]] —
    * `version` stamps the delete-bearing rewrite). Global, not
    * cell-scoped — a re-ingested vector can MOVE cells, so its stale row
    * may sit in a partition the fresh batch never touched. Run on the
    * maintenance cadence (the reference's daily `optimize()` idiom), not
    * per append. */
  def compact(version: Long = System.currentTimeMillis()): Unit =
    traced("compact")(TombstoneStore.applyTo(lake, tombTable, vectorTable, version))

  /** Approximate top-k for a query batch, reading only the probed cells'
    * partitions. With `rerank` > k (compressed codecs only — Flat scores
    * are already exact) the refine stage re-reads floats for the
    * |Q|·rerank shortlist through broadcast joins against the same pruned
    * partitions ([[Ann.refine]]). */
  def search(queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 2, rerank: Int = 0): DataFrame = traced("search") {
    requireRerank(rerank)
    val quant = loadQuantizer()
    val score = codec.load(lake, prefix).scorer(queries, idCol, vecCol)
    // q is NOT cached: it is evaluated twice (the cell collect below and
    // the score join), but it is a |Q|-row frame against broadcast
    // centroids — recomputing it is cheaper than leaking one pinned cache
    // entry per search call from a long-lived serving process.
    val q = quant.probe(queries, idCol, vecCol, nProbe)
    val pruned = liveSlice(probedCells(q))
    Ann.refine(score(pruned, q), pruned.select(col("cand_id"), col("cv")),
      queries, idCol, vecCol, k, rerank)
  }

  private def requireRerank(rerank: Int): Unit =
    require(rerank == 0 || codec != CellCodec.Flat,
      s"$prefix: Flat scores are exact cosines — rerank has nothing to refine")

  // The probe relation is tiny (|Q| rows pre-explode), so this collect is
  // a driver round-trip over ≤ nLists ints, not a corpus job.
  private def probedCells(q: DataFrame): Array[Int] =
    q.select(col("cell")).distinct().collect().map(_.getInt(0))

  /** Probed cells' partitions, pending deletes filtered version-aware
    * before scoring (and before any refine float re-read — a deleted row
    * must not resurface via the shortlist). The literal cell list makes
    * the read RESOLVE only the probed partition directories (tableSlice —
    * the listing itself is O(probed), which planner-side pruning alone
    * can't deliver at 2^16 cells), and the isin filter keeps the literal
    * partition pruning visible in the plan. The no-tombstone path (the
    * normal case) reads version-less and adds no join node. */
  private def liveSlice(cells: Array[Int]): DataFrame = {
    val tombs = TombstoneStore.pending(lake, tombTable)
    val slice = lake.tableSlice(vectorTable,
        cells.toIndexedSeq.map(c => s"cell=$c"), keepVersion = tombs)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
    if (tombs) TombstoneStore.filterLive(lake, tombTable, slice)
      .drop(graft.lake.Lake.Version)
    else slice
  }

  /** Query-adaptive search (the [[Ann.ivfTopKAdaptive]] rule served from
    * disk): phase A reads the nProbeMin nearest cells' partitions; phase B
    * reads ONLY the extra cells whose stored-radius bound ([[radiiTable]])
    * can still beat the query's current threshold hit, capped at
    * nProbeMax. Clustered corpora stop at nProbeMin partitions;
    * adversarial ones cap at nProbeMax. nProbeMin = nProbeMax degenerates
    * to [[search]] exactly.
    *
    * Where the threshold comes from is the codec's one fact
    * ([[CellCodec.boundOnScores]]):
    *   - bound on the codec's own scores (Flat, Sq8): phase A keeps its
    *     top max(k, rerank) scores and thresholds at that depth — with
    *     rerank > k a full probe refines the top `rerank` scores, so a
    *     pruned member ranked in (k, rerank] could still refine into the
    *     exact top-k — and the merged phases refine ONCE. With nProbeMax =
    *     nLists the result is byte-equal to a full-probe [[search]] (the
    *     bound only prunes cells provably below the threshold).
    *   - bound on refined exact cosines only (Pq): each phase is refined
    *     to exact cosines before thresholding at the k-th, so the raw-space
    *     radius bound is sound. Within a probed cell recall is still bounded
    *     by the ADC shortlist (`rerank`), so run with rerank > k. Full-cap
    *     adaptive is byte-equal to a full probe when `rerank` EXHAUSTS the
    *     scanned candidates; at partial rerank adaptive refines per-phase
    *     shortlists, i.e. MORE candidates — recall ≥ the full probe's, not
    *     byte-equal (spec-pinned both ways).
    *
    * Phase A is reduced to its per-query top rows and localCheckpointed
    * before reuse (the threshold, the empty-phase-B return and the merge
    * all need it): the partition scan runs ONCE per serving call, and the
    * |Q|·depth narrow rows are ContextCleaner-freed — not the pinned
    * cache entry per call a persist would be. Top-k distributes over the
    * phase union because the ranking order is total, so the parity
    * certificates are untouched. In the routed large-k regime phase B
    * prunes whole BRANCHES first ([[Quantizer.Routed.extraProbe]]) —
    * probe selection is O(√k · surviving branches) per query, so adaptive
    * serving stays viable at 2^14+ cells. */
  def searchAdaptive(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbeMin: Int = 2, nProbeMax: Int = 8,
      rerank: Int = 0): DataFrame = traced("searchAdaptive") {
    require(nProbeMin >= 1 && nProbeMin <= nProbeMax,
      s"need 1 <= nProbeMin <= nProbeMax, got ($nProbeMin, $nProbeMax)")
    requireRerank(rerank)
    val quant = loadQuantizer()
    val radii = QuantizerStore.loadRadii(lake, radiiTable, quant.cells.length)
    val score = codec.load(lake, prefix).scorer(queries, idCol, vecCol)
    val refineEach = !codec.boundOnScores
    val depth = if (refineEach) k else math.max(k, rerank)
    val hit = Seq(col("query_id"), col("cand_id"), col("cosine"))
    def scan(q: DataFrame, cells: Array[Int]): DataFrame = {
      val pruned = liveSlice(cells)
      val scored = score(pruned, q)
      if (!refineEach) scored
      else Ann.refine(scored, pruned.select(col("cand_id"), col("cv")),
        queries, idCol, vecCol, k, rerank)
    }
    val qA = quant.probe(queries, idCol, vecCol, nProbeMin)
    val cellsA = probedCells(qA)
    val sA = scan(qA, cellsA)
    val top = (if (refineEach) sA else Ann.ranked(sA.select(hit: _*), depth))
      .localCheckpoint()
    val phaseB =
      if (nProbeMax <= nProbeMin) None
      else {
        // ranked's rank-depth row IS kthCosine(·, depth)'s output: nulls
        // sort last, and a query with fewer than depth non-null hits gets
        // NO threshold — it probes to the cap
        val kth = top.filter(col("rank") === depth && col("cosine").isNotNull)
          .select(col("query_id"), col("cosine").as("kth"))
        val qB = quant.extraProbe(queries, idCol, vecCol, radii, kth,
          nProbeMin, nProbeMax)
        Some((qB, probedCells(qB))).filter(_._2.nonEmpty)
      }
    val (merged, cells) = phaseB match {
      case None => (top.select(hit: _*), cellsA)
      case Some((qB, cellsB)) =>
        (top.select(hit: _*).unionAll(scan(qB, cellsB).select(hit: _*)),
          (cellsA ++ cellsB).distinct)
    }
    if (!refineEach && rerank > k)
      Ann.refine(merged, liveSlice(cells).select(col("cand_id"), col("cv")),
        queries, idCol, vecCol, k, rerank)
    else if (phaseB.isEmpty) top
    else Ann.ranked(merged, k)
  }
}
