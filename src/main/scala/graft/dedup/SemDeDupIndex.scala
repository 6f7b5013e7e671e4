package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions.asDouble
import graft.lake.{Lake, TableDef}
import graft.obs.Trace
import graft.similarity.{Quantizer, QuantizerStore}

/** Persisted/incremental SemDeDup: train the coarse quantizer ONCE,
  * keep cell-assigned embeddings and converged cluster labels in lake
  * tables, and fold each new batch in with O(batch) embedding work —
  * the [[graft.similarity.IvfIndex]] frozen-centroid pattern applied to
  * [[Dedup.semanticDedup]], completing the dedup matrix's semantic
  * column (batch = x83; incremental = this; streaming =
  * [[graft.streaming.DocStream.streamingSemanticDedup]]).
  *
  * Why this matters at 100 TB: the batch operator re-trains and
  * re-pairs the WHOLE corpus per run. Here [[append]] assigns only the
  * batch to the frozen centroids (one broadcast-argmin pass), pairs the
  * batch against itself and against STORED vectors of the touched cells
  * only (literal cell-id filters → static partition pruning, the
  * [[graft.similarity.IvfIndex.search]] discipline), and re-converges
  * labels over narrow (id, label) rows — stored embedding bytes outside
  * the touched cells are never read.
  *
  * Semantics: with the quantizer FROZEN, batch composition is exact —
  * append(b₁); append(b₂) produces byte-identical assignments to
  * append(b₁ ∪ b₂), and appending the build corpus in one batch equals
  * the one-shot [[Dedup.semanticDedup]] on it (same centroids — the
  * x84 gate pins both equalities). One boundary: the loud cell cap is
  * evaluated per append over (batch ∪ stored) population, so a cell
  * that crosses `maxCell` ONLY once later batches arrive keeps the
  * pairs its under-cap earlier appends emitted — composition is exact
  * while no cell is capped (capped runs announce themselves through
  * [[Dedup.lastSemanticCap]]). A batch CAN merge two existing
  * clusters; labels of PRIOR docs then move (min reachable id over the
  * grown component) — assignment history is not append-only. [[append]]
  * therefore writes the label table as a DELTA: only the batch's rows
  * plus the touched components' moved rows are appended, at a NEWER
  * version that supersedes their old rows at read time
  * ([[graft.lake.Lake.latest]] — one hash shuffle on doc_id per read);
  * untouched clusters are neither read as embeddings nor rewritten as
  * labels, so the daily write is O(batch + touched), never O(store).
  * [[compact]] is the maintenance-cadence PK compaction that drops
  * superseded rows. Versions must be strictly increasing across
  * appends (the lake's later-version-wins contract).
  * The iterative propagation itself runs only over components the
  * batch touches; untouched clusters pass through verbatim.
  *
  * Drift contract (the [[graft.similarity.IvfIndex]] note): appended
  * batches shift the distribution the frozen centroids were trained
  * on; two vectors above threshold can drift into DIFFERENT cells and
  * never pair. Recovery is a [[build]] re-run + full re-append.
  *
  * Each public lifecycle operation is a [[Trace.span]] named
  * `semdedup.<op>`, tagged with the prefix.
  */
class SemDeDupIndex(lake: Lake, prefix: String = "semdedup",
    nClusters: Int = 64, threshold: Double = 0.95,
    maxRounds: Int = 20, maxCell: Int = 16384) {

  val centroidTable: TableDef = QuantizerStore.centroidTableDef(prefix)
  /** Top-router table, non-empty ONLY for routed (large-k) builds:
    * (branch, offset into the flat cell table, router centroid) — the
    * quantizer [[Dedup.semanticDedup]] trains in-process, persisted. */
  val topTable: TableDef = QuantizerStore.topTableDef(prefix)
  /** `score` is the frozen assignment's squared-distance-to-centroid
    * (the argmin's own byproduct — no extra pass): what the 'farthest'
    * survivor policy ranks on at serve time ([[assignments]]). Stored
    * beside the vector so policy election never re-reads embeddings. */
  val vectorTable: TableDef = TableDef(s"${prefix}_vectors",
    StructType(Seq(StructField("doc_id", LongType),
      StructField("cv", ArrayType(DoubleType)),
      StructField("cell", IntegerType),
      StructField("score", DoubleType))),
    partitionKeys = Seq("cell"),
    primaryKeys = Seq("doc_id"),
    clusterWrites = true)
  /** Label rows carry the doc's frozen CELL so [[delete]] can re-read an
    * affected component's vectors with partition pruning (components
    * never span cells — pairing is within-cell). `cluster_id` NULL is a
    * deletion marker: the doc is gone from [[assignments]] from that
    * version on; [[compact]] physically drops markers. */
  val labelTable: TableDef = TableDef(s"${prefix}_labels",
    StructType(Seq(StructField("doc_id", LongType),
      StructField("cluster_id", LongType),
      StructField("cell", IntegerType))),
    primaryKeys = Seq("doc_id"))
  /** Pending vector-side deletes awaiting [[compact]] —
    * [[graft.similarity.TombstoneStore]] version-aware semantics, so a
    * doc deleted and later re-[[append]]ed (at a higher version) is
    * alive again. */
  val tombTable: TableDef =
    graft.similarity.TombstoneStore.tableDef(prefix, keyCol = "doc_id")

  /** Build a (doc_id, cluster_id, cell) label delta on the DRIVER from
    * bounded collected inputs: the same min-label fixpoint as the
    * distributed propagation ([[Dedup.unionFindMinLabels]] — labels
    * byte-identical), returned as a local relation that broadcasts
    * into the one label-append write job. */
  private def localDelta(spark: org.apache.spark.sql.SparkSession,
      nodes: Iterator[(Long, Int)],
      edges: Iterator[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val cellOf = new java.util.HashMap[java.lang.Long, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    nodes.foreach { case (id, cell) =>
      cellOf.put(id, cell)
      ids += id
    }
    val labels = Dedup.unionFindMinLabels(ids.iterator, edges)
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Int)](
      labels.size())
    val it = labels.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      rows += ((e.getKey.longValue(), e.getValue.longValue(),
        cellOf.get(e.getKey).intValue()))
    }
    rows.toSeq.toDF("doc_id", "cluster_id", "cell")
  }

  private def traced[T](op: String)(body: => T): T =
    Trace.span(lake.session, s"semdedup.$op", prefix)(body)

  private def vecs(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val t = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"$prefix: id column '$idCol' must be integral (stored as long), got $t")
    df.select(col(idCol).cast(LongType).as("doc_id"),
      asDouble(col(vecCol)).as("cv"))
  }

  /** Train the quantizer on `trainCorpus` and reset the index to empty
    * (vectors/labels are replaced by empty frames via the lake's
    * temp-write + swap). Ingestion happens through [[append]] — build
    * itself stores no vectors, so "build on the full corpus, then
    * append it in any batch decomposition" is ONE code path with ONE
    * semantics. */
  def build(trainCorpus: DataFrame, idCol: String, vecCol: String,
      version: Long): Unit = traced("build") {
    invalidateQuantizer()
    val spark = trainCorpus.sparkSession
    val c = vecs(trainCorpus, idCol, vecCol)
      .select(col("doc_id").as("cand_id"), col("cv"))
    QuantizerStore.write(lake, prefix, Quantizer.train(c, nClusters),
      version, spark)
    lake.replace(vectorTable,
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        vectorTable.schema), version)
    lake.replace(labelTable,
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        labelTable.schema), version)
  }

  /** The frozen quantizer [[append]] assigns with — its SCORED
    * assignment, whose squared-distance score fills [[vectorTable]]'s
    * `score` column.
    *
    * The loaded quantizer is MEMOIZED per instance (the DsirStore
    * rule): it is frozen by contract between builds, and re-collecting
    * centroid + router tables cost ~6 driver jobs per append at serving
    * cadence (round-14 job profile). [[build]]/[[rebuild]] invalidate;
    * out-of-band writes to the same lake path are outside the store's
    * contract (the persisted indexes' standing rule). */
  private var cachedQuantizer: Option[Quantizer] = None
  private def invalidateQuantizer(): Unit =
    synchronized { cachedQuantizer = None }
  private def quantizer(): Quantizer = synchronized {
    cachedQuantizer.getOrElse {
      val loaded = QuantizerStore.load(lake, prefix, nClusters)
      cachedQuantizer = Some(loaded)
      loaded
    }
  }

  /** Fold a batch in: assign to frozen cells, pair batch↔batch and
    * batch↔stored within touched cells (through [[Dedup.semanticPairs]]'
    * exact-collapse + loud cell cap, so a mega-group arriving over many
    * batches still never pairs quadratically), then re-converge labels
    * over the new pairs plus the stored components' star edges.
    * Batch ids must not collide with stored ids (re-ingest is a
    * rebuild concern, not an append one) — enforced loudly.
    *
    * @return the full updated (doc_id, cluster_id, is_canonical)
    *         assignment — what [[assignments]] will serve from the
    *         label table */
  def append(newDocs: DataFrame, idCol: String, vecCol: String,
      version: Long): DataFrame = traced("append") {
    val batch = quantizer().assignScored(
      vecs(newDocs, idCol, vecCol)
        .select(col("doc_id").as("cand_id"), col("cv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lim = Dedup.DriverPropagationMax
    // bounded-batch probe FIRST (one action, materializes the persist):
    // below the propagation bound the batch's (id, cell) rows live on
    // the driver for the whole append — the touched-cell list, the
    // re-ingest guard's id set and the fast-path nodes all derive from
    // them without further jobs. Past the bound only the cell list is
    // collected (≤ nClusters ints) and propagation stays distributed.
    val batchRowsOpt = DriverBatch.takeBounded(
      batch.select(col("cand_id"), col("cell")), lim)
    val batchRows = batchRowsOpt.getOrElse(Array.empty)
    val batchSmall = batchRowsOpt.exists(_.nonEmpty)
    // literal cell-id pruning: stored vectors are read ONLY in cells the
    // batch touches (tiny driver round-trip — ≤ nClusters ints), and the
    // tableSlice read lists only those partition directories too
    val cells =
      if (batchSmall) batchRows.map(_.getInt(1)).distinct
      else batch.select(col("cell")).distinct()
        .collect().map(_.getInt(0))
    // tombstoned (deleted, not yet compacted) vectors must not pair with
    // the batch — version-aware filter, zero-cost when no deletes pend
    val ts = graft.similarity.TombstoneStore
    val tombs = ts.pending(lake, tombTable)
    val slice = lake.tableSlice(vectorTable,
        cells.toIndexedSeq.map(c => s"cell=$c"), keepVersion = tombs)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
    val stored = (if (tombs) ts.filterLive(lake, tombTable, slice)
        .drop(graft.lake.Lake.Version)
      else slice)
      .select(col("doc_id").as("cand_id"), col("cv"), col("cell"))
    // merge-on-read label view materialized ONCE per append
    // (localCheckpoint — narrow (id, label) rows): the re-ingest guard,
    // the storeEmpty probe, the touched semi-join and the moved
    // semi-join would each re-pay the latest() window otherwise.
    // NULL-cluster rows are deletion markers ([[delete]]) — filtered
    // out here, so a deleted id is free to re-ingest (its new rows
    // supersede both the marker and the vector tombstone by version)
    val priorLabels = lake.latest(labelTable)
      .filter(col("cluster_id").isNotNull).localCheckpoint()
    // the guard checks the LABEL view, not the cell-pruned vectors:
    // every stored doc has a label row, so a re-ingested id whose NEW
    // embedding routes to a different cell (the drift shape) is caught
    // too — the cell-scoped `stored` read would miss it. ONE probe job
    // answers both the guard and the store-emptiness question: tag 0 =
    // any stored label exists, tag 1 = a batch id collides with one.
    val batchIdsRel = if (batchSmall) {
      import newDocs.sparkSession.implicits._
      batchRows.map(_.getLong(0)).toSeq.toDF("doc_id")
    } else batch.select(col("cand_id").as("doc_id"))
    val probe = priorLabels.select(lit(0).as("__t")).limit(1)
      .unionAll(priorLabels
        .join(batchIdsRel, Seq("doc_id"), "left_semi")
        .select(lit(1).as("__t")).limit(1))
      .collect().map(_.getInt(0)).toSet
    require(!probe.contains(1),
      s"$prefix: batch re-ingests stored doc ids — rebuild instead")
    // one pairing pass over batch ∪ touched-cell stored rows: the
    // exact-collapse and cap see the combined population (the cap bound
    // holds across the batch boundary), but only pairs TOUCHING THE
    // BATCH are generated — stored↔stored similarity already lives in
    // the label store, so each append's quadratic term is
    // O(batch × cell population), never O(store²). Cells are already
    // assigned — semanticPairsAssigned skips the argmin.
    //
    // DRIVER PAIR GENERATION (round-14 job-count discipline, second
    // cut): when batch AND touched-cell stored rows both fit the
    // vector bound, they are collected ONCE (two bounded jobs) and the
    // whole exact-collapse + cap + cosine pairing runs on the driver
    // ([[Dedup.semanticPairsLocal]] — the localDelta pattern; the
    // distributed plan's pair generation is ~11 AQE shuffle-stage jobs
    // over inputs that fit in one array). The vector bound is tighter
    // than DriverPropagationMax because rows carry cv arrays, not
    // narrow (id, label) pairs, and semanticPairsLocal itself bounds
    // its quadratic work (None → executors should do it). Truncation
    // is impossible: take(bound + 1) past the bound falls back to the
    // distributed plan — the 100 TB path, byte-identical labels.
    val vecLim = SemDeDupIndex.LocalPairVectorMax
    def vecRows(rs: Array[org.apache.spark.sql.Row], isNew: Boolean) =
      rs.iterator.map { r =>
        val raw = r.getSeq[java.lang.Double](1)
        (r.getLong(0), raw.toIndexedSeq, r.getInt(2), isNew)
      }
    val storedVecRows =
      if (batchSmall && batchRows.length <= vecLim)
        DriverBatch.takeBounded(stored, vecLim)
      else None
    val driverPairs: Option[Seq[(Long, Long)]] =
      if (storedVecRows.isDefined)
        DriverBatch.takeBounded(batch, vecLim).flatMap(batchVecs =>
          Dedup.semanticPairsLocal(
            (vecRows(batchVecs, isNew = true) ++
              vecRows(storedVecRows.get, isNew = false)).toSeq,
            threshold, maxCell))
      else None
    val pairs = driverPairs match {
      case Some(ps) =>
        import newDocs.sparkSession.implicits._
        ps.toDF("id_a", "id_b")
      case None => Dedup.semanticPairsAssigned(
          batch.drop("score").withColumn("__new", lit(true))
            .unionByName(stored.withColumn("__new", lit(false))),
          "__new", threshold, maxCell)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // propagation is confined to components the batch actually touches:
    // a stored cluster's labels can only move if a new pair reaches one
    // of its members, so untouched clusters pass through verbatim and
    // the ITERATIVE propagation runs over O(batch + touched-component
    // mass) narrow rows — never the whole store (the pair endpoints and
    // touched-cluster lists are O(batch)-sized, so AQE broadcasts them
    // through the semi/anti joins)
    val storeEmpty = !probe.contains(0)
    // label DELTA: only rows whose assignment this batch creates or can
    // move (the touched components + the batch itself). Untouched rows
    // stay on disk at their old version; latest() serves the merge.
    //
    // DRIVER FAST PATH (round-14, the deferred addendum-2 fix): the
    // propagation input is O(batch + touched components) narrow rows by
    // the touched confinement, and at serving cadence the distributed
    // round loop's cost is DRIVER JOBS (2 checkpoints + one action per
    // round × AQE stage fan-out ≈ 25 of a 78-job append), not executor
    // work. Below the bound, ONE tagged take collects the moved rows
    // and pairs together (batch rows are already on the driver), and
    // the SAME min-label fixpoint runs as a union-find — labels
    // byte-identical ([[Dedup.unionFindMinLabels]]), x84's parity gate
    // unchanged. Oversized inputs fall back to the distributed loop,
    // so the 100 TB path is untouched.
    val labelDelta =
      if (storeEmpty) {
        // first ingest: no prior components to protect — propagate the
        // batch directly, skipping the touched/untouched machinery's
        // half-dozen empty-side joins (measurable at gate scale).
        // Driver-generated pairs are already on the driver — zero
        // further jobs before the fixpoint.
        val pairSeq: Option[Seq[(Long, Long)]] = driverPairs.orElse {
          if (!batchSmall) None
          else DriverBatch.takeBounded(
              pairs.select(col("id_a"), col("id_b")), 2 * lim)
            .map(_.toSeq.map(r => (r.getLong(0), r.getLong(1))))
        }.filter(_.length <= 2 * lim)
        if (batchSmall && pairSeq.isDefined)
          localDelta(newDocs.sparkSession,
            batchRows.iterator.map(r => (r.getLong(0), r.getInt(1))),
            pairSeq.get.iterator)
        else Dedup.clusterAssignments(
            batch.select(col("cand_id").as("doc_id")), "doc_id",
            pairs, maxRounds)
          .join(batch.select(col("cand_id").as("doc_id"), col("cell")),
            Seq("doc_id"))
          .select(col("doc_id"), col("cluster_id"), col("cell"))
      } else {
        val ends = driverPairs match {
          case Some(ps) =>
            import newDocs.sparkSession.implicits._
            ps.iterator.flatMap(p => Iterator(p._1, p._2))
              .toSeq.distinct.toDF("doc_id")
          case None => pairs.select(col("id_a").as("doc_id"))
            .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
        }
        val touched = priorLabels.join(ends, Seq("doc_id"), "left_semi")
          .select(col("cluster_id")).distinct()
        val movedPlan = priorLabels
          .join(touched, Seq("cluster_id"), "left_semi")
        // driver-generated pairs past the propagation bound must not
        // reach the driver fixpoint (the storeEmpty branch's 2·lim
        // guard, mirrored): semanticPairsLocal bounds pair WORK, not
        // pair COUNT, so a dense touched cell can emit far more than
        // DriverPropagationMax pairs — labels would still be exact
        // (union-find is), but the fixpoint's input would no longer be
        // bounded by lim. Oversized pair sets propagate distributed
        // over their LocalRelation instead.
        val pairsBounded = driverPairs.forall(_.length <= 2 * lim)
        // one tagged bounded collect: moved rows (tag 0) + pairs
        // (tag 1 — skipped when the pairs are already on the driver)
        val fused = if (batchSmall && pairsBounded) {
          val movedTagged = movedPlan.select(lit(0).as("__t"),
            col("doc_id").as("a"), col("cluster_id").as("b"), col("cell"))
          DriverBatch.takeBounded(
            if (driverPairs.isDefined) movedTagged
            else movedTagged.unionByName(pairs.select(lit(1).as("__t"),
              col("id_a").as("a"), col("id_b").as("b"),
              lit(null).cast(IntegerType).as("cell"))),
            3 * lim)
        } else None
        if (fused.isDefined) {
          val (movedRows, pairRows) = fused.get.partition(_.getInt(0) == 0)
          val pairIter = driverPairs.map(_.iterator).getOrElse(
            pairRows.iterator.map(r => (r.getLong(1), r.getLong(2))))
          // star edges keep a touched component's full membership in
          // the fixpoint, exactly like the distributed form
          localDelta(newDocs.sparkSession,
            movedRows.iterator.map(r => (r.getLong(1), r.getInt(3))) ++
              batchRows.iterator.map(r => (r.getLong(0), r.getInt(1))),
            pairIter ++
              movedRows.iterator
                .filter(r => r.getLong(1) != r.getLong(2))
                .map(r => (r.getLong(2), r.getLong(1))))
        } else {
          // distributed path: materialized ONCE — moved fans out into
          // starEdges, docsProp AND cellsOf (the r13 job-count profile)
          val moved = movedPlan.localCheckpoint()
          val starEdges = moved
            .filter(col("doc_id") =!= col("cluster_id"))
            .select(col("cluster_id").as("id_a"), col("doc_id").as("id_b"))
          val docsProp = moved.select(col("doc_id"))
            .unionByName(batch.select(col("cand_id").as("doc_id")))
          val cellsOf = moved.select(col("doc_id"), col("cell"))
            .unionByName(batch.select(col("cand_id").as("doc_id"), col("cell")))
          Dedup.clusterAssignments(docsProp, "doc_id",
            pairs.unionByName(starEdges), maxRounds)
            .join(cellsOf, Seq("doc_id"))
            .select(col("doc_id"), col("cluster_id"), col("cell"))
        }
      }
    lake.append(labelTable, labelDelta, version)
    if (driverPairs.isEmpty) pairs.unpersist()
    lake.append(vectorTable,
      batch.select(col("cand_id").as("doc_id"), col("cv"), col("cell"),
        col("score")),
      version)
    batch.unpersist()
    assignments()
  }

  /** The converged corpus-so-far assignment, served from the label
    * table's merge-on-read view ([[graft.lake.Lake.latest]] — newest
    * version per doc_id): (doc_id, cluster_id, is_canonical) — the
    * [[Dedup.semanticDedup]] contract.
    *
    * `keepPolicy` mirrors the batch operator's: ''min-id'' (default)
    * derives the canonical structurally (doc == cluster label);
    * ''farthest'' ELECTS AT SERVE TIME — per cluster, the member with
    * the max stored assignment score (squared distance to its frozen
    * centroid, persisted at [[append]]; ties break to the smaller id,
    * bit-stable for power-of-two-scaled copies). Election is a
    * (doc_id, score) column-pruned read joined to the live labels —
    * embeddings are never touched — and because it is serve-time,
    * [[delete]]'s re-labeling composes with it for free: the surviving
    * members' max is the re-elected canonical. Clusters are identical
    * under both policies. */
  def assignments(keepPolicy: String = "min-id"): DataFrame =
    traced("assignments") {
      require(Seq("min-id", "farthest").contains(keepPolicy),
        s"$prefix: keepPolicy must be 'min-id' or 'farthest', got '$keepPolicy'")
      val live = lake.latest(labelTable).filter(col("cluster_id").isNotNull)
      if (keepPolicy == "min-id")
        live.select(col("doc_id"), col("cluster_id"),
          when(col("doc_id") === col("cluster_id"), 1).otherwise(0)
            .as("is_canonical"))
      else {
        // plain column-pruned read, NOT latest(): the PK window would
        // drag cv through its tie-break. Version-aware tombstone filter
        // leaves exactly one live row per doc (a revived doc's old row is
        // tombstone-dead by the version rule; compact removes it).
        val ts = graft.similarity.TombstoneStore
        val tombs = ts.pending(lake, tombTable)
        val raw = lake.table(vectorTable, keepVersion = tombs)
        val scores = (if (tombs) ts.filterLive(lake, tombTable, raw)
            .drop(graft.lake.Lake.Version)
          else raw)
          .select(col("doc_id"), col("score"))
        val labeled = live.join(scores, Seq("doc_id"))
        val keep = labeled.groupBy(col("cluster_id"))
          .agg(max(struct(col("score"), (-col("doc_id")).as("negid")))
            .as("__keep"))
          .select(col("cluster_id"), (-col("__keep.negid")).as("__keep_id"))
        labeled.join(keep, Seq("cluster_id"))
          .select(col("doc_id"), col("cluster_id"),
            when(col("doc_id") === col("__keep_id"), 1).otherwise(0)
              .as("is_canonical"))
      }
    }

  /** Drift recovery in one call: snapshot the stored corpus, retrain
    * the quantizer on it ([[build]] — tables reset), and replay the
    * snapshot through one [[append]]. Afterwards the index equals a
    * fresh build+ingest of the corpus-so-far, and therefore the
    * one-shot [[Dedup.semanticDedup]] on it (the x84 equality) — the
    * recovery for the documented drift boundary (near-dups split
    * across cells by centroids trained before they arrived). Consumes
    * versions `version` and `version + 1` (build, then append — the
    * lake's strictly-increasing contract). The snapshot is
    * materialized (localCheckpoint) because build swaps the table it
    * reads. Inherently O(corpus), by design.
    * @return the re-converged full assignment ([[append]]'s contract) */
  def rebuild(version: Long): DataFrame = traced("rebuild") {
    val ts = graft.similarity.TombstoneStore
    val raw = lake.table(vectorTable, keepVersion = true)
    val snap = (if (ts.pending(lake, tombTable))
        ts.filterLive(lake, tombTable, raw)
      else raw)
      .drop(graft.lake.Lake.Version)
      .select(col("doc_id").as("vec_id"), col("cv").as("embedding"))
      .localCheckpoint()
    require(!snap.isEmpty, s"$prefix: nothing stored — build() the index first")
    // the snapshot excludes tombstoned docs, so pending tombstones are
    // moot after the replay — drop them for the no-tombstone fast path
    lake.drop(tombTable.name)
    build(snap, "vec_id", "embedding", version)
    append(snap, "vec_id", "embedding", version + 1)
  }

  /** Takedown: remove stored docs and RE-ELECT their clusters' labels,
    * so the served [[assignments]] equals an ingest that never contained
    * the victims (byte-for-byte — the SemDeDupIndexSpec parity pin).
    * O(victims + affected components), never O(store): victims' label
    * rows name the touched clusters AND their frozen cells; the
    * surviving members' vectors are re-read with partition pruning and
    * re-paired among THEMSELVES only — a component member's pairs to
    * outside docs were below threshold by definition (components are
    * within-cell connected parts), so component-local re-pairing plus
    * re-propagation reproduces the global answer, including canonical
    * re-election when a cluster's min-id doc is the victim and
    * component SPLITS when the victim was the connectivity bridge.
    *
    * Write ordering is crash-safe without a transaction: vector
    * tombstones land first (a crash then leaves hidden vectors whose
    * labels still serve — a delete() re-run converges), then ONE label
    * delta holding NULL deletion markers for victims and re-elected
    * rows for survivors. Ids never stored (or already deleted) are
    * ignored — takedown is idempotent. A later [[append]] of a deleted
    * id at a higher version revives it through the normal ingest path.
    * @return the updated served assignment ([[append]]'s contract) */
  def delete(ids: DataFrame, idCol: String, version: Long): DataFrame =
    traced("delete") {
      val ts = graft.similarity.TombstoneStore
      val dt = ids.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"$prefix: id column '$idCol' must be integral, got $dt")
      val reqIds = ids.select(col(idCol).cast(LongType).as("doc_id")).distinct()
      val live = lake.latest(labelTable)
        .filter(col("cluster_id").isNotNull).localCheckpoint()
      val victims = live.join(reqIds, Seq("doc_id"), "left_semi")
        .localCheckpoint() // batch-bounded
      if (victims.isEmpty) assignments() else {
        ts.delete(lake, tombTable, victims.select(col("doc_id")), "doc_id",
          version)
        val touched = victims.select(col("cluster_id")).distinct()
        val members = live.join(touched, Seq("cluster_id"), "left_semi")
        val survivors = members.join(reqIds, Seq("doc_id"), "left_anti")
        // cell-pruned re-read of ONLY the affected components' cells (the
        // label rows carry them — no store-wide scan to locate victims).
        // Version-aware tombstone filter, NOT a raw read: a doc deleted and
        // later revived (re-appended at a higher version) before compact()
        // still has its stale vector row on disk, and both rows pass the
        // survivors semi-join — the dead embedding would enter pairing and
        // could phantom-merge survivor clusters. filterLive leaves exactly
        // one live row per doc (a stale row exists only while its
        // higher-version tombstone pends; compact physically removes both —
        // the rebuild()/assignments('farthest') invariant). Tombstones are
        // pending by construction here: this call just wrote the victims'.
        val cells = members.select(col("cell")).distinct()
          .collect().map(_.getInt(0))
        val sv = ts.filterLive(lake, tombTable,
            lake.tableSlice(vectorTable,
                cells.toIndexedSeq.map(c => s"cell=$c"), keepVersion = true)
              .filter(col("cell").isin(cells.toIndexedSeq: _*)))
          .drop(graft.lake.Lake.Version)
          .join(survivors.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("doc_id").as("cand_id"), col("cv"), col("cell"))
        val pairs = Dedup.semanticPairsAssigned(
          sv.withColumn("__new", lit(true)), "__new", threshold, maxCell)
        // driver fast path below the propagation bound — the [[append]]
        // rationale verbatim (survivors are O(affected components); pairs
        // here are COMPLETE within components, so no star edges needed)
        val lim = Dedup.DriverPropagationMax
        val survRows = DriverBatch.takeBounded(
          survivors.select(col("doc_id"), col("cell")), lim)
        val pairRows = survRows.flatMap(_ => DriverBatch.takeBounded(
          pairs.select(col("id_a"), col("id_b")), 2 * lim))
        val relabeled = if (pairRows.isDefined)
          localDelta(ids.sparkSession,
            survRows.get.iterator.map(r => (r.getLong(0), r.getInt(1))),
            pairRows.get.iterator.map(r => (r.getLong(0), r.getLong(1))))
        else Dedup.clusterAssignments(
            survivors.select(col("doc_id")), "doc_id", pairs, maxRounds)
          .join(survivors.select(col("doc_id"), col("cell")), Seq("doc_id"))
          .select(col("doc_id"), col("cluster_id"), col("cell"))
        val markers = victims.select(col("doc_id"),
          lit(null).cast(LongType).as("cluster_id"), col("cell"))
        lake.append(labelTable, relabeled.unionByName(markers), version)
        assignments()
      }
    }

  /** Maintenance-cadence compaction: PK-compacts the vector table and
    * applies/drains pending [[delete]] tombstones
    * ([[graft.similarity.TombstoneStore.applyTo]]), then PK-compacts the
    * label table (drops superseded delta rows so [[Lake.latest]]'s input
    * stays bounded by live docs) and physically drops NULL deletion
    * markers — they survive PK compaction by design (they ARE each
    * victim's newest row), so marker removal needs the delete-bearing
    * [[Lake.replace]] rewrite, paid only when markers exist. The served
    * [[assignments]] view is unchanged throughout. */
  def compact(version: Long = System.currentTimeMillis()): Unit =
    traced("compact") {
      graft.similarity.TombstoneStore.applyTo(
        lake, tombTable, vectorTable, version)
      lake.optimize(labelTable)
      val hasMarkers = !lake.table(labelTable)
        .filter(col("cluster_id").isNull).isEmpty
      if (hasMarkers)
        lake.replace(labelTable,
          lake.table(labelTable).filter(col("cluster_id").isNotNull), version)
    }
}

object SemDeDupIndex {
  /** Row bound for the local-pair-input serving fast path: rows here
    * carry embedding arrays (64-dim boxed doubles ≈ 1.5 KB/row →
    * ≤ ~75 MB collected at the bound), so it sits under
    * [[Dedup.DriverPropagationMax]], which bounds only narrow
    * (id, label) rows; [[Dedup.semanticPairsLocal]] separately bounds
    * the quadratic pair work. Past either, pairing stays distributed. */
  private[dedup] val LocalPairVectorMax = 50000
}
