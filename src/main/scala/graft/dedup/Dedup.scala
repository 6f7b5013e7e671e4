package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}

/** Document deduplication at corpus scale: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every variant is
  *   per-row signature (codegen'd expressions, no UDFs)
  *   → band/bucket key explode
  *   → shuffle ON THE BUCKET KEY ONLY (candidate generation)
  *   → pairwise verify INSIDE buckets.
  * The quadratic blow-up is confined to same-bucket groups; there is no
  * corpus-wide cross join anywhere. Signatures are deterministic
  * (xxhash64-derived), so recomputation on another cluster or a re-run
  * yields identical buckets — no fitted model to persist.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical content hash.
    * One hash-shuffle; the md5 pre-hash keeps the shuffle rows narrow
    * (16 bytes instead of full documents). */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Split-leakage audit: exact-duplicate content groups whose members
    * land in MORE THAN ONE train/val/test split — the post-split hygiene
    * check (a test doc with a byte-identical train twin is leakage that
    * whole-corpus dedup was supposed to prevent; any split assigned by
    * doc id rather than content key can leak this way). One row per
    * leaking content group with the group size, the distinct splits hit
    * (sorted, comma-joined — engine-portable), and the smallest member
    * id as the group handle. Scale shape: one map-side-combinable hash
    * aggregate on the 16-byte content key over one corpus pass — the
    * [[exactDuplicates]] class.
    *
    * @param splitCol split-label column (e.g.
    *                 [[graft.functions.TextFunctions.deterministicSplit]])
    */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
      splitCol: String): DataFrame =
    // min over the NATIVE id type — a widening long cast here would turn
    // string/UUID ids into silent NULLs (the hazard the incremental-path
    // integral-id guards reject); min works for the group-handle purpose
    // on any orderable id type
    df.select(md5(col(textCol)).as("content_hash"), col(splitCol).as("__sp"),
        col(idCol).as("__id"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_copies"),
        size(collect_set(col("__sp"))).as("n_splits"),
        array_join(array_sort(collect_set(col("__sp"))), ",").as("splits"),
        min(col("__id")).as("min_id"))
      .filter(col("n_splits") > 1)

  /** Distinct per-document shingle hashes as ROWS: (id, h). Built fully
    * relationally — posexplode the tokens, n-gram via window lead() — so
    * the whole path is codegen'd. Spark's higher-order array functions
    * (transform/aggregate lambdas) are interpreted; at corpus scale the
    * row formulation is an order of magnitude faster and lets every
    * signature be one map-side-combined hash aggregate.
    * Documents with fewer than `shingleSize` tokens contribute their full
    * token sequence as a single shingle. */
  private[graft] def shingleHashes(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame = {
    // ONE row-local byte-scan pass per document ([[functions.ShingleHashes]]
    // — the streaming twin's kernel, round-18): tokenize, hash each token
    // in place off the document's bytes, chain the k-gram xxhash64 fold,
    // dedup per doc with an open-addressed set — then explode. The
    // retired derivation shuffled every TOKEN row into a per-doc window
    // (exchange + sort + two leads + row_number + a partition max) and
    // then paid a second corpus-wide exchange for the (id, h) distinct;
    // those two corpus-wide exchanges bounded the whole minhash pipeline
    // (BASELINE.md "Production tracer" keeps the 2M-doc receipt). This
    // form has NO shuffle at all: per-doc distinct ≡
    // the old global (id, h) distinct because h was already deduped
    // within each id, and hash parity is exact by construction
    // (DedupAnnSpec pins kernel ≡ the retired window form on empty/
    // whitespace-only/short/duplicate-heavy docs). The pre-filter
    // reproduces the old form's zero-token behavior (no token rows ⇒ no
    // shingle rows; the kernel alone would emit the all-sentinel
    // partial): a document has a token exactly when it has a byte outside
    // the tokenizer's whitespace set (HT..CR and space,
    // `WhitespaceTokens.isWs`), which a regex finds without building the
    // token array.
    val hs = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.ShingleHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(col("__sh_text")),
        shingleSize))
    df.select(col(idCol).as("id"), col(textCol).as("__sh_text"))
      .filter(col("__sh_text").rlike("[^\\x09-\\x0D\\x20]"))
      .select(col("id"), explode(hs).as("h"))
  }

  /** MinHash + LSH banding near-dup candidate pairs, verified with exact
    * shingle-set Jaccard. `bands`×`rowsPerBand` hash functions; a pair is a
    * candidate if any band agrees fully.
    *
    * Plan shape (the 100 TB path): explode shingles → ONE codegen'd hash
    * aggregate computes all minhash components → band keys are plain
    * column hashes → candidate pairs shuffle ids only → exact verify joins
    * the shingle sets back for just the candidates.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    */
  def minhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    // shRows feeds the signature aggregate AND both sides of the exact
    // verification joins — persist once instead of recomputing the
    // tokenize/shingle DAG 4x (biggest single win in this pipeline).
    val shRows = shingleHashes(df, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashNearDuplicatesFromShingles(shRows, bands, rowsPerBand, threshold)
  }

  /** [[minhashNearDuplicates]] over a caller-supplied distinct
    * (id, h) shingle-hash relation ([[shingleHashes]] output) — for
    * callers running SEVERAL detector families over one corpus (the x66
    * recall gate, multi-signal curation): the tokenize/shingle pass is
    * the dominant shared cost, so derive it once, persist it under the
    * caller's lifecycle, and feed every shingle-compatible family.
    * Identical output to the textCol form at equal shingleSize. */
  def minhashNearDuplicatesFromShingles(
      shRows: DataFrame,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    // materialized ONCE (checkpoint, not persist — the
    // verifyJaccardSized lifecycle rule): `banded` feeds BOTH legs of
    // the candidate self-join, and without it the 16-min-hash sig
    // aggregation + banding + cap tree evaluates twice per call
    val banded = capBuckets(bandKeys(minhashSigs(shRows, bands * rowsPerBand),
        bands, rowsPerBand),
      Seq("band_id", "band_hash"), maxBucket = 500)
      .localCheckpoint()
    val a = banded.select(col("band_id"), col("band_hash"), col("id").as("id_a"))
    val b = banded.select(col("band_id"), col("band_hash"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyJaccard(shRows, cand, threshold)
  }

  /** MinHash signatures from shingle rows: one codegen'd hash aggregate
    * computing all `nHashes` components → (id, m0..m{nHashes-1}). This
    * flat-column frame is also the PERSISTABLE dedup state: ~8·nHashes
    * bytes per document, orders of magnitude smaller than the corpus, and
    * deterministic (xxhash64 — recomputation anywhere yields the same
    * signatures, so stored and fresh signatures band identically).
    * `withSize` adds `n_sh` (the doc's distinct-shingle count) to the same
    * aggregate, so the incremental path can verify Jaccard WITHOUT
    * re-aggregating the big shingle store every batch. */
  private[graft] def minhashSigs(shRows: DataFrame, nHashes: Int,
      withSize: Boolean = false): DataFrame = {
    val mins = (0 until nHashes).map(i =>
      min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    val aggs = if (withSize) mins :+ count(lit(1)).as("n_sh") else mins
    shRows.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band keys from a signature frame: (id, band_id, band_hash), one
    * row per band. */
  private[graft] def bandKeys(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(array(bandHashCols(bands, rowsPerBand): _*))
        .as(Seq("band_id", "band_hash")))

  /** Mega-bucket guard: drop LSH buckets holding more than `maxBucket`
    * docs. A bucket of B docs generates B²/2 candidate pairs; buckets far
    * above the expected near-dup cluster size are hash-collision noise on
    * over-common content and would dominate runtime quadratically. The
    * standard production LSH mitigation (bounded recall loss only inside
    * over-common clusters, which exact verification would reject anyway at
    * any realistic threshold). */
  private def capBuckets(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    banded.withColumn("__bsize", count(lit(1)).over(w))
      .filter(col("__bsize") <= maxBucket).drop("__bsize")
  }

  /** Session-conf key bounding how many candidate pairs the verify join
    * will broadcast (rows, not bytes — a pair is two longs). At or below
    * the bound the candidate relation gets an explicit broadcast hint
    * (deterministic map-side verify, the right plan for clean corpora and
    * bench scale); above it the hint is withheld and the join degrades to
    * a shuffle join (AQE may still broadcast if the post-shuffle size is
    * small). The bound exists because at 100 TB with a realistic near-dup
    * rate the candidate relation is O(duplicates) — potentially billions
    * of rows — and a FORCED broadcast would OOM the driver instead of
    * degrading. */
  private[graft] val CandBroadcastBoundKey =
    "spark.graft.dedup.candidateBroadcastBound"
  private[graft] val DefaultCandBroadcastBound = 2000000L

  /** Exact-Jaccard verification of candidate id pairs, computed
    * RELATIONALLY from shingle rows (no array materialization):
    * |A∩B| via a hash join of the two docs' shingle-hash rows,
    * |A∪B| = |A| + |B| − |A∩B|. Every step is a codegen'd join/aggregate;
    * only candidate ids' shingles participate (semi-join pruning).
    *
    * Requires threshold > 0: pairs with an empty intersection have
    * jaccard = 0 and can never pass, so they are never materialized — the
    * intersection aggregate IS the survivor set, and the candidate relation
    * is evaluated exactly once (locally checkpointed, counted for the
    * broadcast decision, then reused as the verify build/probe side). */
  private def verifyJaccard(shingles: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame =
    verifyJaccardSized(shingles,
      shingles.groupBy(col("id")).agg(count(lit(1)).as("n")), cand, threshold)

  /** [[verifyJaccard]] with the per-doc shingle counts supplied (e.g. from
    * the persisted `n_sh` signature column) instead of re-aggregated from
    * the shingle relation — the incremental path's way of skipping a full
    * scan + shuffle of the biggest table per batch. */
  private def verifyJaccardSized(shingles: DataFrame, sizes: DataFrame,
      cand: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0, "jaccard threshold must be positive")
    val sh = shingles // (id, h) distinct
    // On clean corpora the candidate-pair relation is tiny relative to the
    // shingle relation — broadcasting it lets the shingle rows stream
    // through map-side hash joins instead of shuffling twice. But its size
    // is O(near-duplicates), not O(1): a 100 TB corpus with a realistic
    // dup rate can produce billions of candidate pairs, where a FORCED
    // broadcast hint OOMs the driver. So the relation is persisted (it
    // feeds two join legs anyway), counted — one cheap job over banding
    // output that was about to be computed regardless — and hinted only
    // at or below the configured bound; above it the hint is withheld and
    // Spark plans a shuffle join (AQE still broadcasts post-shuffle sides
    // it measures as small). The sizes joins are left to AQE throughout.
    // localCheckpoint rather than persist: a CacheManager entry from
    // df.persist is never auto-released, so a long-running service
    // calling the near-dup builders daily would accumulate one cached
    // relation per call until session end — checkpointed RDD blocks are
    // reference-tracked and cleaned by the ContextCleaner when the
    // returned frame is garbage-collected, giving the same
    // evaluate-once semantics without a leak (and the same eager
    // materialization the count needs anyway). The trade: checkpointed
    // blocks are NON-REPLICATED and lineage-truncated, so losing an
    // executor mid-job (failure or dynamic-allocation decommission)
    // fails the query instead of recomputing — acceptable for a batch
    // build (re-run it); callers running under aggressive executor
    // decommissioning should disable dynamic allocation for dedup jobs.
    val bound = shingles.sparkSession.conf
      .get(CandBroadcastBoundKey, DefaultCandBroadcastBound.toString).toLong
    val candP = cand.localCheckpoint()
    val candSide = if (candP.count() <= bound) broadcast(candP) else candP
    val inter = candSide
      .join(sh.select(col("id").as("id_a"), col("h")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental exact dedup: which NEW documents duplicate content seen
    * in any earlier batch (or earlier in this batch)? `priorState` is the
    * persisted (content_hash, keep_id) frame from [[exactDuplicates]] over
    * everything ingested so far. The 100 TB point: each daily batch costs
    * one hash pass over the BATCH plus a join against the hash store
    * (16 bytes + id per distinct content) — the historical corpus text is
    * never re-read. Null-text rows group under a null hash within the
    * batch and match prior state null-safely, mirroring GROUP BY
    * semantics.
    *
    * @return (dups, newState): `dups` = (doc_id, canonical_id) for every
    *   new doc whose content first appeared under a smaller id —
    *   identical to running [[exactDuplicates]] over prior ∪ new and
    *   keeping new-doc rows; `newState` = (content_hash, keep_id) rows for
    *   content seen in THIS batch — upsert them into the hash store by
    *   content_hash (keep_id can move DOWN if a new id undercuts the
    *   prior minimum; untouched hashes keep their stored row). */
  def exactIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      priorState: DataFrame): (DataFrame, DataFrame) = {
    val nh = newDocs.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("content_hash"))
    val newGroups = nh.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("new_min"),
        count(lit(1)).as("n_members"))
    val prior = priorState.select(col("content_hash").as("prior_hash"),
      col("keep_id"))
    val canon = newGroups
      .join(prior, newGroups("content_hash") <=> prior("prior_hash"), "left")
      .select(col("content_hash"),
        least(col("keep_id"), col("new_min")).as("canonical_id"),
        col("new_min"), col("n_members"))
    val dups = nh
      .join(canon, nh("content_hash") <=> canon("content_hash"))
      .filter(col("canonical_id") < col("doc_id"))
      .select(col("doc_id"), col("canonical_id"))
    // n_members = this BATCH's member count for the hash — the lake
    // store reads Σ over appended rows, so group sizes accumulate
    // additively and the takedown path can audit group closure
    // ([[graft.dedup.IncrementalDedup.Exact.deleteClosed]])
    val state = canon.select(col("content_hash"),
      col("canonical_id").as("keep_id"), col("n_members"))
    (dups, state)
  }

  /** Incremental MinHash+LSH near-dup: match a NEW batch against the
    * accumulated corpus WITHOUT re-reading it. State is two frames the
    * caller persists between batches:
    *   - signatures (id, m0..m{bands·rowsPerBand-1}, n_sh) from
    *     [[minhashSigs]] `withSize = true` — small (8 bytes × (nHashes+1)
    *     per doc), scanned fully each batch for banding; n_sh carries the
    *     doc's shingle count so verification never re-aggregates the
    *     shingle store;
    *   - shingle rows (id, h) — the big one (∝ corpus tokens), but touched
    *     only through the candidate-pruned verification joins, and still
    *     far cheaper than re-tokenizing raw text.
    * Banding, the mega-bucket cap, and exact-Jaccard verification all run
    * over prior ∪ new, so the result is EXACTLY the pairs
    * [[minhashNearDuplicates]] over the whole corpus would emit that
    * involve at least one new document (DedupIncrementalSpec pins this).
    *
    * @return (pairs, newSigs, newShingles): pairs = (id_a, id_b, jaccard)
    *   with id_a < id_b, ≥1 side new; append newSigs/newShingles to the
    *   state tables for the next batch. */
  def minhashIncremental(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      priorSigs: DataFrame,
      priorShingles: DataFrame,
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7): (DataFrame, DataFrame, DataFrame) =
    // bounded batches run the whole banding + cap + candidate + verify
    // pipeline on the driver (three bounded collects, zero shuffle-stage
    // fan-out — the serving-cadence job-count path); past any bound the
    // distributed plan is the 100 TB path. Pair sets are identical
    // (DedupIncrementalSpec pins it).
    minhashIncrementalLocal(newDocs, idCol, textCol, priorSigs,
        priorShingles, shingleSize, bands, rowsPerBand, threshold)
      .getOrElse(minhashIncrementalDistributed(newDocs, idCol, textCol,
        priorSigs, priorShingles, shingleSize, bands, rowsPerBand,
        threshold))

  /** The distributed [[minhashIncremental]] plan — the unbounded path;
    * see the dispatcher above. */
  private[graft] def minhashIncrementalDistributed(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      priorSigs: DataFrame,
      priorShingles: DataFrame,
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7): (DataFrame, DataFrame, DataFrame) = {
    val nHashes = bands * rowsPerBand
    val newSh = shingleHashes(newDocs, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // checkpointed (the verifyJaccardSized lifecycle discipline — no
    // CacheManager leak per batch): newSigs feeds the union, the
    // new-side semi-join AND the caller's store append; unionBanded
    // feeds BOTH legs of the candidate join — without materialization
    // each occurrence re-evaluates the sig aggregation / the whole
    // banding + cap tree (store read included) under AQE
    val newSigs = minhashSigs(newSh, nHashes, withSize = true)
      .localCheckpoint()
    val allSigs = priorSigs.unionByName(newSigs)
    val unionBanded = capBuckets(
      bandKeys(allSigs, bands, rowsPerBand),
      Seq("band_id", "band_hash"), maxBucket = 500)
      .localCheckpoint()
    // the new side must be carved OUT of the capped union (semi-join on
    // the tiny new-id set), not banded separately: the mega-bucket cap
    // only sees true bucket sizes on the union
    val newBanded = unionBanded.join(
      newSigs.select(col("id")), Seq("id"), "left_semi")
    val cand = newBanded.select(col("band_id"), col("band_hash"),
        col("id").as("id_n"))
      .join(unionBanded.select(col("band_id"), col("band_hash"),
        col("id").as("id_o")), Seq("band_id", "band_hash"))
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()
    // sizes come from the signature frames' n_sh, NOT a re-aggregation of
    // the union shingle relation — the batch never pays a full scan +
    // shuffle of the biggest store just to count what's already counted
    val pairs = verifyJaccardSized(priorShingles.unionByName(newSh),
      allSigs.select(col("id"), col("n_sh").as("n")), cand, threshold)
    (pairs, newSigs, newSh)
  }

  /** Row bound for each of [[minhashIncrementalLocal]]'s three bounded
    * collects (batch shingle rows; stored banded rows in touched
    * buckets; stored candidates' shingle rows). Wider than
    * [[DriverPropagationMax]] because the rows are two/four longs, not
    * a propagation input, and the driver never does quadratic work over
    * them (pairing is separately bounded by maxPairWork). */
  private[graft] val MinhashLocalRowMax = 2000000

  /** The per-band Murmur3 LSH key columns of [[bandKeys]] — shared with
    * [[minhashIncrementalLocal]]'s stored-side banding select so the
    * two plans are the same expressions by construction. */
  private def bandHashCols(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      hash((0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    }

  /** DRIVER form of [[minhashIncremental]] for BOUNDED batches — the
    * [[semanticPairsLocal]] recipe on the minhash store family. At
    * serving cadence the distributed plan's cost is DRIVER JOBS (union
    * banding checkpoint + capped self-join + the four verify joins, each
    * an AQE stage fan-out) over inputs that fit in a few arrays; here the
    * whole banding + cap + candidate + exact-Jaccard pipeline runs on
    * the driver from THREE bounded collects (batch shingles; stored
    * banded rows in touched buckets; stored candidates' shingles — the
    * second and third stay distributed up to the bucket semi-join, so
    * the stored tables are still scanned in parallel and never shipped
    * whole). Arithmetic is replicated exactly where it cannot be
    * collected: minhash components and band keys call the SAME
    * interpreted kernels the codegen'd expressions are pinned to
    * (`XxHash64Function` / `Murmur3HashFunction`, seed 42, left-fold
    * chaining — the 2⁻⁶⁴ identity discipline), the mega-bucket cap
    * counts batch + stored members per touched bucket (identical to
    * [[capBuckets]] on the union restricted to touched buckets — an
    * untouched bucket can contribute no batch pair), Jaccard is
    * n∩/(n_a+n_b−n∩) on the stored n_sh with the `>=` compare on the
    * RAW value and Spark's HALF_UP 6dp round on the output.
    * DedupIncrementalSpec pins pair-set equality with the distributed
    * form on a mixed store/batch fixture.
    *
    * Returns None — caller falls back to the distributed plan, the
    * 100 TB path — when any collect exceeds `maxRows` or the pairing
    * work exceeds `maxPairWork`. Like the distributed form, prior ids
    * must be disjoint from batch ids (the caller's re-ingest rewrite
    * handles collisions before calling). */
  private[graft] def minhashIncrementalLocal(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      priorSigs: DataFrame,
      priorShingles: DataFrame,
      shingleSize: Int,
      bands: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxRows: Int = MinhashLocalRowMax,
      maxPairWork: Long = 2000000L): Option[(DataFrame, DataFrame, DataFrame)] = {
    import org.apache.spark.sql.catalyst.expressions.{Murmur3HashFunction, XxHash64Function}
    import org.apache.spark.sql.types.{IntegerType, LongType, DoubleType, StructField, StructType}
    val spark = newDocs.sparkSession
    val nHashes = bands * rowsPerBand
    val maxBucket = 500 // the [[minhashNearDuplicatesFromShingles]] cap
    // long-id corpora only (the incremental stores' declared type —
    // driver extraction reads longs positionally); anything else runs
    // the type-coercing distributed plan
    val shPlan = shingleHashes(newDocs, idCol, textCol, shingleSize)
    if (!DriverBatch.longIds(shPlan, "id") ||
        !priorSigs.columns.contains("n_sh") ||
        !DriverBatch.longIds(priorSigs, "id") ||
        !DriverBatch.longIds(priorShingles, "id")) return None
    // store-scale collects go through [[DriverBatch.collectBounded]]:
    // parallel materialize + eager block release (a coalesce(1).take
    // here would collapse the whole store scan into ONE task — the
    // batch-side probe below can afford that, a 10M-row sig store
    // cannot; costs +2 driver jobs per collect over the single-job
    // take — the arg-45 receipt prices it).
    def collectBounded(df: DataFrame): Option[Array[org.apache.spark.sql.Row]] =
      DriverBatch.collectBounded(df, maxRows)
    // 0. pre-screen (round-15 ADVICE item 1): an over-bound batch must
    //    not pay the full tokenize/shingle pass plus a maxRows-row
    //    driver collect just to learn it belongs on the distributed
    //    plan. Every non-empty doc yields ≥ 1 distinct shingle, so
    //    more than maxRows BATCH ROWS already implies the shingle
    //    relation cannot fit the bound — one batch-sized limit+count
    //    job, no shingle work. (All-empty-text corpora that this sends
    //    distributed produce identical — empty — pair sets there.)
    if (newDocs.limit(maxRows + 1).count() > maxRows) return None
    // 1. batch shingles: tokenize/shingle stays DISTRIBUTED (the shuffle
    //    map side is parallel); one bounded one-task collect of the
    //    narrow (id, h) rows. A shingly under-doc-bound batch can still
    //    overflow HERE and fall back — that residual recompute is now
    //    capped by the pre-screen at one ≤ maxRows-doc shingle pass.
    val shRows = DriverBatch.takeBounded(shPlan, maxRows) match {
      case Some(rs) => rs
      case None => return None
    }
    // 2. driver signatures: the exact minhashSigs arithmetic —
    //    m_i = min over h of xxhash64(h, i), seed-chained left fold
    final class Sig { val m = Array.fill(nHashes)(Long.MaxValue); var nSh = 0L }
    val sigs = new java.util.HashMap[Long, Sig]()
    val shByDoc = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    shRows.foreach { r =>
      val id = r.getLong(0); val h = r.getLong(1)
      var s = sigs.get(id)
      if (s == null) { s = new Sig; sigs.put(id, s) }
      val inner = XxHash64Function.hash(h, LongType, 42L)
      var i = 0
      while (i < nHashes) {
        val v = XxHash64Function.hash(i, IntegerType, inner)
        if (v < s.m(i)) s.m(i) = v
        i += 1
      }
      s.nSh += 1L
      var l = shByDoc.get(id)
      if (l == null) { l = new java.util.ArrayList[Long](); shByDoc.put(id, l) }
      l.add(h)
    }
    // 3. driver band keys: Murmur3 left fold, int seed 42 — the hash()
    //    expression's exact chaining (seed widens, result truncates)
    def bandHash(m: Array[Long], b: Int): Int = {
      var s = 42
      var r = 0
      while (r < rowsPerBand) {
        s = Murmur3HashFunction.hash(m(b * rowsPerBand + r), LongType,
          s.toLong).toInt
        r += 1
      }
      s
    }
    final case class Bucket(batch: java.util.ArrayList[Long] =
        new java.util.ArrayList[Long](),
      stored: java.util.ArrayList[Long] = new java.util.ArrayList[Long]())
    val buckets = new java.util.HashMap[(Int, Int), Bucket]()
    sigs.forEach { (id, s) =>
      var b = 0
      while (b < bands) {
        val key = (b, bandHash(s.m, b))
        var bk = buckets.get(key)
        if (bk == null) { bk = Bucket(); buckets.put(key, bk) }
        bk.batch.add(id)
        b += 1
      }
    }
    // 4. stored rows in TOUCHED buckets: banding over the sig store is
    //    distributed (the per-batch O(store) scan inherent to LSH),
    //    pruned by a broadcast semi-join on the batch's bucket set,
    //    then one bounded collect. n_sh rides along for verification.
    val storedBandedOpt: Option[Array[org.apache.spark.sql.Row]] =
      if (buckets.isEmpty) Some(Array.empty)
      else {
        val touched = buckets.keySet().toArray(Array.empty[(Int, Int)])
        val touchedRel = spark.createDataFrame(
          java.util.Arrays.asList(touched.map(t =>
            org.apache.spark.sql.Row(t._1, t._2)): _*),
          StructType(Seq(StructField("band_id", IntegerType),
            StructField("band_hash", IntegerType))))
        collectBounded(priorSigs
          .select(col("id") +: col("n_sh") +:
            Seq(posexplode(array(bandHashCols(bands, rowsPerBand): _*))
              .as(Seq("band_id", "band_hash"))): _*)
          .join(broadcast(touchedRel), Seq("band_id", "band_hash"),
            "left_semi"))
      }
    if (storedBandedOpt.isEmpty) return None
    val storedBanded = storedBandedOpt.get
    val storedNsh = new java.util.HashMap[Long, Long]()
    storedBanded.foreach { r =>
      // (band_id, band_hash, id, n_sh) — a USING join moves the join
      // keys to the front, semi joins included
      val key = (r.getInt(0), r.getInt(1))
      val bk = buckets.get(key)
      if (bk != null) bk.stored.add(r.getLong(2))
      storedNsh.put(r.getLong(2), r.getLong(3))
    }
    // 5. mega-bucket cap on the union population + pairing-work guard
    var pairWork = 0L
    buckets.forEach { (_, bk) =>
      val size = bk.batch.size() + bk.stored.size()
      if (size <= maxBucket) pairWork += bk.batch.size().toLong * (size - 1)
    }
    if (pairWork > maxPairWork) return None
    // 6. candidate pairs: batch × (batch ∪ stored) within uncapped
    //    buckets, ordered ids, set-deduped across buckets
    val cand = new java.util.HashSet[(Long, Long)]()
    buckets.forEach { (_, bk) =>
      if (bk.batch.size() + bk.stored.size() <= maxBucket) {
        var i = 0
        while (i < bk.batch.size()) {
          val a = bk.batch.get(i)
          var j = 0
          while (j < bk.batch.size()) {
            val o = bk.batch.get(j)
            if (o != a) cand.add((math.min(a, o), math.max(a, o)))
            j += 1
          }
          j = 0
          while (j < bk.stored.size()) {
            val o = bk.stored.get(j)
            if (o != a) cand.add((math.min(a, o), math.max(a, o)))
            j += 1
          }
          i += 1
        }
      }
    }
    // 7. stored candidates' shingles: one semi-join-pruned bounded
    //    collect (skipped when every candidate side is in the batch)
    val storedCandIds = new java.util.HashSet[Long]()
    cand.forEach { p =>
      if (!shByDoc.containsKey(p._1)) storedCandIds.add(p._1)
      if (!shByDoc.containsKey(p._2)) storedCandIds.add(p._2)
    }
    val shSets = new java.util.HashMap[Long, java.util.HashSet[Long]]()
    if (!storedCandIds.isEmpty) {
      val idList = new java.util.ArrayList[org.apache.spark.sql.Row]()
      storedCandIds.forEach(id => idList.add(org.apache.spark.sql.Row(id)))
      val idRel = spark.createDataFrame(idList,
        StructType(Seq(StructField("id", LongType))))
      val storedShOpt = collectBounded(priorShingles
        .join(broadcast(idRel), Seq("id"), "left_semi"))
      if (storedShOpt.isEmpty) return None
      storedShOpt.get.foreach { r =>
        val id = r.getLong(0)
        var s = shSets.get(id)
        if (s == null) { s = new java.util.HashSet[Long](); shSets.put(id, s) }
        s.add(r.getLong(1))
      }
    }
    def shingleSet(id: Long): java.util.HashSet[Long] = {
      var s = shSets.get(id)
      if (s == null) {
        s = new java.util.HashSet[Long]()
        val l = shByDoc.get(id)
        if (l != null) { var i = 0; while (i < l.size()) { s.add(l.get(i)); i += 1 } }
        shSets.put(id, s)
      }
      s
    }
    def nShOf(id: Long): Long = {
      val s = sigs.get(id)
      if (s != null) s.nSh else storedNsh.get(id)
    }
    // 8. exact-Jaccard verify: threshold on the RAW ratio, Spark's
    //    HALF_UP 6dp round on the emitted value (RoundBase's
    //    scala-BigDecimal-of-double grid)
    val pairRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    cand.forEach { p =>
      val sa = shingleSet(p._1); val sb = shingleSet(p._2)
      val (small, big) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
      var nInter = 0L
      val it = small.iterator()
      while (it.hasNext) if (big.contains(it.next())) nInter += 1
      if (nInter > 0) {
        val j = nInter.toDouble / (nShOf(p._1) + nShOf(p._2) - nInter).toDouble
        if (j >= threshold)
          pairRows += ((p._1, p._2, scala.math.BigDecimal(j)
            .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
            .doubleValue))
      }
    }
    // 9. results as LocalRelations — zero further jobs; the caller's
    //    store appends write them directly
    val pairsDf = spark.createDataFrame(
      java.util.Arrays.asList(pairRows.map(t =>
        org.apache.spark.sql.Row(t._1, t._2, t._3)).toSeq: _*),
      StructType(Seq(StructField("id_a", LongType),
        StructField("id_b", LongType), StructField("jaccard", DoubleType))))
    val sigSchema = StructType((StructField("id", LongType) +:
      (0 until nHashes).map(i => StructField(s"m$i", LongType))) :+
      StructField("n_sh", LongType))
    val sigRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    sigs.forEach { (id, s) =>
      sigRows.add(org.apache.spark.sql.Row.fromSeq(
        id +: s.m.toIndexedSeq :+ s.nSh))
    }
    val sigsDf = spark.createDataFrame(sigRows, sigSchema)
    val shList = new java.util.ArrayList[org.apache.spark.sql.Row](shRows.length)
    shRows.foreach(r => shList.add(r))
    val shDf = spark.createDataFrame(shList,
      StructType(Seq(StructField("id", LongType), StructField("h", LongType))))
    Some((pairsDf, sigsDf, shDf))
  }

  /** Exact n-gram Jaccard for EVERY intersecting doc pair — no candidate
    * blocking. The value-level ground truth the LSH paths approximate:
    * pairs sharing at least one shingle are generated by a self-join of the
    * shingle rows on the shingle hash, so the quadratic blow-up is bounded
    * by shingle co-occurrence, not corpus size. Use on bounded corpora (or
    * after blocking); the LSH variants are the open-corpus scale path.
    * Persists the shingle relation for its internal multi-pass use;
    * callers own the cache lifecycle (spark.catalog.clearCache() between
    * unrelated workloads — the bench harness does). */
  def allPairsJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.01): DataFrame = {
    require(threshold > 0.0, "jaccard threshold must be positive")
    val sh = shingleHashes(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("id").as("id_a"), col("h"))
      .join(sh.select(col("id").as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact cosine for EVERY vector pair — no candidate blocking. The
    * value-level ground truth [[embeddingNearDuplicates]] (and the ANN LSH
    * path) approximate: same [[VectorFunctions.cosine]] arithmetic the
    * bucketed verify step runs, over the full pair product. Quadratic by
    * construction — bounded corpora (or post-blocking refinement) only;
    * the LSH variant is the open-corpus scale path. */
  def allPairsCosine(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      VectorFunctions.asDouble(col(vecCol)).as("v"))
    val a = v.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("id").as("id_b"), col("v").as("v_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Exact Jaccard similarity of two array columns (as sets). */
  def jaccardArrays(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** 64-bit SimHash over token hashes: bit b of the signature is the sign
    * of Σ_tokens (±1 by bit b of xxhash64(token)). Column form — fine for
    * ad-hoc use; [[simhashSignatures]] is the codegen'd scale path. */
  def simhash(text: Column): Column = {
    val hs = transform(TextFunctions.tokens(text), t => xxhash64(t))
    (0 until 64).map { b =>
      when(aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftrightunsigned(h, b).bitwiseAND(1L) === 1L, lit(1L))
          .otherwise(lit(-1L))) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** SimHash signatures via exploded token rows + one codegen'd hash
    * aggregate (64 conditional sums), then a single
    * [[graft.functions.PackSignBits]] loop over the counter array.
    * Identical output to [[simhash]] — including sig = 0 for zero-token
    * documents, which are re-attached after the explode (explode drops
    * empty arrays). An order of magnitude faster at corpus scale than
    * the [[simhash]] HOF (map-side partial aggregation) — and the
    * packing is a custom loop expression, not the 64-term
    * `when(...).reduce(bitwiseOR)` tree, because that single
    * unsplittable expression fused the final HashAggregate's generated
    * method past HotSpot's 8,000-bytecode JIT cliff (the round-16
    * codegen-size audit's first real catch; see PackSignBits's
    * scaladoc for the numbers). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val bitAggs = (0 until 64).map { b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(1L) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"s$b")
    }
    val sigs = tok.groupBy(col("id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("id"),
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.PackSignBits(
            org.apache.spark.sql.GraftColumnBridge.expression(
              array((0 until 64).map(b => col(s"s$b")): _*))))
          .as("sig"))
    df.select(col(idCol).as("id")).join(sigs, Seq("id"), "left")
      .na.fill(0L, Seq("sig"))
  }

  /** SimHash near-dups: LSH on 16-bit sub-bands of the 64-bit signature,
    * verified by Hamming distance <= maxHamming.
    *
    * Identical signatures collapse to their min-id REPRESENTATIVE before
    * banding: a cluster of n identical docs (templated corpora; all
    * zero-token docs share sig = 0) would otherwise occupy every band
    * bucket n times and self-join quadratically — and a bucket-size cap
    * alone would silently drop exactly those true duplicates (simhash has
    * no downstream verify step to excuse it). Within-cluster duplicates
    * are emitted in linear STAR form — (rep, member, hamming 0) — which
    * preserves dedup semantics (every member links to its cluster
    * representative) in O(n) rows instead of O(n²); cross-cluster
    * near-dup pairs are canonicalized to the representatives. The
    * mega-bucket cap then only touches buckets of DISTINCT signatures,
    * which is band-hash collision noise — the case it exists for. */
  def simhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // sig feeds three plan occurrences (cluster agg, star join, reps)
    // and banded both self-join legs — materialize each once (the
    // verifyJaccardSized lifecycle rule) or the signature pass (the
    // dominant tokenize + 64-bit majority) re-runs per occurrence
    val sig = simhashSignatures(df, idCol, textCol).localCheckpoint()
    val clusters = sig.groupBy(col("sig")).agg(min(col("id")).as("rep_id"))
    val star = sig.join(clusters, Seq("sig"))
      .filter(col("id") =!= col("rep_id"))
      .select(col("rep_id").as("id_a"), col("id").as("id_b"),
        lit(0).cast("int").as("hamming"))
    val reps = clusters.select(col("rep_id").as("id"), col("sig"))
    val banded = capBuckets(
      reps.select(col("id"), col("sig"), posexplode(array(
        (0 until 4).map(b =>
          shiftrightunsigned(col("sig"), b * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("band_id", "band_val"))),
      Seq("band_id", "band_val"), maxBucket = 500)
      .localCheckpoint()
    val a = banded.select(col("band_id"), col("band_val"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band_id"), col("band_val"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    // hamming filter BEFORE distinct: hamming is deterministic per id pair,
    // so the dedup result is identical, but only surviving pairs enter the
    // distinct exchange instead of the full multi-band candidate set.
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .unionByName(star)
  }

  /** n-gram Jaccard near-dups with a cheap single-minhash pre-bucket to
    * avoid the full cross join; verify with exact Jaccard. */
  def ngramJaccardNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val shRows = shingleHashes(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ngramJaccardNearDuplicatesFromShingles(shRows, threshold)
  }

  /** [[ngramJaccardNearDuplicates]] over a caller-supplied distinct
    * (id, h) shingle-hash relation — the
    * [[minhashNearDuplicatesFromShingles]] sharing discipline. */
  def ngramJaccardNearDuplicatesFromShingles(
      shRows: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    // bucket on the single smallest shingle hash per doc (P[shared min] ≈
    // Jaccard, so near-dups above any realistic threshold almost always
    // collide); one codegen'd min-aggregate, no window sort. Mega-buckets
    // capped — see capBuckets.
    val banded = capBuckets(
      shRows.groupBy(col("id")).agg(min(col("h")).as("bucket")),
      Seq("bucket"), maxBucket = 500)
      .localCheckpoint() // feeds both self-join legs — evaluate once
    val a = banded.select(col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("bucket"), col("id").as("id_b"))
    val cand = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyJaccard(shRows, cand, threshold)
  }

  /** Embedding-cosine near-dups via hyperplane-LSH buckets; exact cosine
    * verify inside buckets. */
  def embeddingNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nPlanes: Int = 8,
      threshold: Double = 0.95): DataFrame = {
    // bucketed vectors feed both sides of the candidate self-join — persist
    // so the explode+aggregate bucket computation runs once
    val v = df.select(col(idCol).as("id"),
        VectorFunctions.asDouble(col(vecCol)).as("v"))
      .join(VectorFunctions.lshBuckets(df, idCol, vecCol, nPlanes), Seq("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = v.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = v.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-partition the
    * embedding space, find cosine-≥threshold pairs WITHIN each cluster,
    * and keep one document per connected semantic-duplicate group — the
    * published semantic companion to the lexical dedup family above
    * (catches paraphrases and re-renderings that share no n-grams).
    *
    * Determinism: centroids come from [[graft.similarity.Ann]]'s
    * deterministic trainer (bottom-4096-by-xxhash64 sample, seeded
    * Lloyd; two-level distributed past 256 cells), assignment
    * normalizes per row, and survivor selection is
    * [[clusterAssignments]]' min-id label propagation — identical
    * output on any partitioning or engine rerun. NONZERO scaled copies
    * of a vector normalize identically (bit-identically for
    * power-of-two scales), so exact semantic twins ALWAYS land in one
    * cell and score cosine 1 (the x83 gate requires planted recall 1.0
    * on exactly that construction). ZERO-norm vectors are the one
    * exception: [[VectorFunctions.cosine]] is NULL on them, so they
    * never pair and every zero vector survives as its own singleton —
    * they are likewise excluded from the exact-vector collapse below.
    *
    * Scale shape — three bounds keep the within-cell quadratic from
    * owning the job at corpus scale:
    *   - EXACT-VECTOR PRE-COLLAPSE: identical normalized vectors
    *     (xxhash64 of the normalized array — the shingle families'
    *     2⁻⁶⁴ hash-identity discipline) collapse to their min-id
    *     REPRESENTATIVE before any pairing; the group rejoins the
    *     labelling through (rep, member) star edges. The realistic
    *     mega-group shapes (default/zero-adjacent embeddings, exact
    *     re-crawls) contribute O(group) rows instead of O(group²)
    *     pairs, automatically — no upstream hygiene required.
    *   - CELL-SIZE CAP: after collapse, a cell with more than `maxCell`
    *     representatives is EXCLUDED from pairing (its reps keep their
    *     group edges, so exact duplicates still dedup) and counted
    *     LOUDLY — [[lastSemanticCap]] records (cells, rows) dropped and
    *     a warning logs them; silent truncation would read as full
    *     coverage. Size `nClusters` so expected cell population n/k
    *     stays well under `maxCell` (the published algorithm's own
    *     contract); the cap is the backstop for adversarially dense
    *     cells, not the operating point.
    *   - the training sample is driver-bounded, assignment is one
    *     broadcast-argmin pass over representatives, and the label
    *     propagation shuffles narrow (id, label) rows in O(log d)
    *     rounds.
    *
    * `keepPolicy` selects each semantic group's survivor:
    * ''min-id'' (default) keeps the minimum reachable id;
    * ''farthest'' keeps the member FARTHEST from its assigned centroid
    * (ties on the squared-distance score break to the smaller id) —
    * the SemDeDup paper's published policy: the most atypical member
    * carries the most marginal information for training. Both policies
    * share the same clusters; only `is_canonical` moves.
    *
    * @return (doc_id, cluster_id, is_canonical) — one row per input
    *         doc; `is_canonical` = 1 marks each semantic group's
    *         surviving representative; `cluster_id` is the minimum
    *         reachable id under either policy */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 64, threshold: Double = 0.95,
      maxRounds: Int = 20, maxCell: Int = 16384,
      keepPolicy: String = "min-id"): DataFrame = {
    require(threshold > 0.0, "cosine threshold must be positive")
    require(Seq("min-id", "farthest").contains(keepPolicy),
      s"keepPolicy must be 'min-id' or 'farthest', got '$keepPolicy'")
    locally {
      import org.apache.spark.sql.types._
      val dt = df.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"semanticDedup requires an integral id column; " +
          s"'$idCol' is ${dt.simpleString}") // non-integral casts to NULL silently
    }
    val c = df.select(col(idCol).cast("long").as("cand_id"),
      VectorFunctions.asDouble(col(vecCol)).as("cv"))
    // flat driver trainer + O(k)-per-row argmin at contract cell counts;
    // past the flat bound the two-level trainer and O(√k) routed
    // assignment (a 16,384-cell flat argmin costs 64× the routed one on
    // every corpus row) — the regime is the Quantizer's one decision
    val q = graft.similarity.Quantizer.train(c, nClusters)
    val pairs = semanticPairs(c, q.assign(_), threshold, maxCell)
    val labels = clusterAssignments(
      df.select(col(idCol).cast("long").as("doc_id")), "doc_id",
      pairs, maxRounds)
    if (keepPolicy == "min-id") labels
    else {
      // farthest-from-centroid survivor: score every doc against the
      // SAME frozen quantizer (one more broadcast-argmin pass; scores
      // of identically-normalized vectors are bit-equal for
      // power-of-two scales, so ties resolve to the smaller id
      // deterministically), then per cluster keep the max-score member
      val scored = q.assignScored(c)
        .select(col("cand_id").as("doc_id"), col("score"))
      val keep = labels.join(scored, Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(max(struct(col("score"), (-col("doc_id")).as("negid")))
          .as("__keep"))
        .select(col("cluster_id"), (-col("__keep.negid")).as("__keep_id"))
      labels.drop("is_canonical").join(keep, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"),
          when(col("doc_id") === col("__keep_id"), 1).otherwise(0)
            .as("is_canonical"))
    }
  }

  /** Dropped-cell accounting of the most recent [[semanticPairs]] call
    * ON THE CALLING THREAD: (cells over `maxCell`, representative rows
    * inside them). Written eagerly during pair generation — the cap
    * decision collects on the caller's thread — so a capped run is
    * observable (specs assert it; operators alert on it). Thread-keyed
    * rather than JVM-global: concurrent semanticDedup /
    * [[SemDeDupIndex.append]] runs on one driver each read the counts
    * their OWN call wrote, never another run's overwrite. */
  private val semanticCapTl: ThreadLocal[(Long, Long)] =
    ThreadLocal.withInitial(() => (0L, 0L))
  private[graft] def lastSemanticCap: (Long, Long) = semanticCapTl.get()

  /** Cross-thread cap observability (r12 ADVICE): a capped run inside a
    * streaming foreachBatch (or any worker thread) records here too, so
    * a monitoring thread that never ran a dedup itself still sees it.
    * STICKY: holds the most recent CAPPED run's (cells, rows) anywhere
    * in the JVM — clean runs do not zero it (a monitor polling between
    * runs must not race a reset). [[lastSemanticCap]] stays the
    * per-thread this-run view. */
  @volatile private var semanticCapSticky: (Long, Long) = (0L, 0L)
  private[graft] def lastSemanticCapGlobal: (Long, Long) = semanticCapSticky

  /** Within-cell cosine pair generation with exact-vector pre-collapse
    * and the loud cell cap — the candidate stage shared by
    * [[semanticDedup]] and [[SemDeDupIndex]]. Input is (cand_id, cv);
    * output (id_a, id_b) pairs: representative cosine pairs plus
    * (rep, member) star edges for collapsed exact groups. Collapse runs
    * BEFORE assignment, so only representatives pay the argmin pass. */
  private[graft] def semanticPairs(c: DataFrame,
      assignFn: DataFrame => DataFrame, threshold: Double,
      maxCell: Int): DataFrame = {
    val (reps, groupEdges) = collapseExactVectors(c)
    // representatives (and zero-norm singletons, which never pair but
    // cost nothing here) enter assignment + pairing; localCheckpoint
    // because the cap accounting + capped self-join evaluate it ~4×
    // (the verifyJaccardSized lifecycle discipline — reference-tracked
    // blocks, no CacheManager leak per call)
    val assigned = assignFn(reps).localCheckpoint()
    pairWithinCappedCells(assigned, threshold, maxCell)
      .unionByName(groupEdges)
  }

  /** [[semanticPairs]] over rows whose cells are ALREADY assigned
    * ((cand_id, cv, cell)) — [[SemDeDupIndex.append]]'s entry, where
    * stored rows carry their cell from the lake and the batch was just
    * assigned. Identical vectors always share a cell (assignment is a
    * function of the normalized vector), so collapsing after assignment
    * is equivalent.
    *
    * `newFlag` names a boolean column marking THIS BATCH's rows: only
    * pairs touching at least one new row are generated (full×new plus
    * new×old — disjoint by the right side's newness, so no dedup pass).
    * Stored↔stored similarity was already folded into the label store
    * by the appends that ingested it; regenerating those pairs would
    * re-pay the within-cell quadratic over the WHOLE store on every
    * batch — the exact cost the incremental path exists to avoid. The
    * same restriction applies to the exact-group STAR EDGES: a stored
    * group's members already share a component, so only edges touching
    * a new row are emitted (member new; or rep new — a smaller-id
    * arrival that relabels the group, where O(group) delta is
    * inherent). Without this, every append re-emits every stored
    * identical-vector group's edges — O(mega-group) work per batch and
    * a touched set that includes every exact-dup cluster in the store.
    * The cap still counts FULL cell populations (batch + stored), so
    * the bound cannot be dodged by arriving in small batches. */
  private[graft] def semanticPairsAssigned(assignedIn: DataFrame,
      newFlag: String, threshold: Double, maxCell: Int): DataFrame = {
    // the input union is EVALUATED ONCE (the round-13/14 input-dedup
    // rule): callers pass join-heavy trees (lake slice + tombstone
    // filter + batch union) that this function references repeatedly —
    // the exact-collapse reads it twice, the batch-id set three times —
    // and AQE re-evaluates a non-materialized plan per occurrence (the
    // round-14 job profile billed ~a third of an append's jobs here).
    // Bounded collected inputs take [[semanticPairsLocal]] instead —
    // no Spark plan at all — so every caller here is distributed.
    val assigned = assignedIn.localCheckpoint()
    val (reps, groupEdges) = collapseExactVectors(assigned)
    // batch ids — batch-sized, broadcast through the semi/anti joins
    val newIds = assigned.filter(col(newFlag)).select(col("cand_id"))
    val liveEdges = groupEdges
      .join(newIds.select(col("cand_id").as("id_b")), Seq("id_b"), "left_semi")
      .unionByName(groupEdges
        .join(newIds.select(col("cand_id").as("id_a")), Seq("id_a"), "left_semi")
        .join(newIds.select(col("cand_id").as("id_b")), Seq("id_b"), "left_anti"))
    val capped = cappedCells(reps.localCheckpoint(), maxCell)
    val aFull = capped.select(col("cell"), col("cand_id").as("id_a"),
      col("cv").as("v_a"))
    val aNew = capped.filter(col(newFlag))
      .select(col("cell"), col("cand_id").as("id_a"), col("cv").as("v_a"))
    val bNew = capped.filter(col(newFlag))
      .select(col("cell"), col("cand_id").as("id_b"), col("cv").as("v_b"))
    val bOld = capped.filter(!col(newFlag))
      .select(col("cell"), col("cand_id").as("id_b"), col("cv").as("v_b"))
    cosinePairs(aFull, bNew, threshold)
      .unionByName(cosinePairs(aNew, bOld, threshold))
      .unionByName(liveEdges.select(col("id_a"), col("id_b")))
  }

  /** Exact-vector collapse: group rows by xxhash64 of the NORMALIZED
    * array (NULL for zero-norm rows — cosine can never pair them, so
    * collapsing would change semantics and they stay out as
    * singletons); min id per group is the representative. Returns
    * (representatives with input columns intact, (rep, member) star
    * edges). Hash identity is the shingle families' 2⁻⁶⁴ discipline. */
  private def collapseExactVectors(c: DataFrame): (DataFrame, DataFrame) = {
    val keyed = c
      .withColumn("__nrm", sqrt(VectorFunctions.dot(col("cv"), col("cv"))))
      .withColumn("__vh", when(col("__nrm") > 0.0,
        xxhash64(transform(col("cv"), x => x / col("__nrm")))))
      .drop("__nrm")
    val groups = keyed.filter(col("__vh").isNotNull)
      .groupBy(col("__vh")).agg(min(col("cand_id")).as("rep"))
    val withRep = keyed.join(groups, Seq("__vh"), "left")
      .withColumn("rep", coalesce(col("rep"), col("cand_id")))
    val groupEdges = withRep.filter(col("cand_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("cand_id").as("id_b"))
    val reps = withRep.filter(col("cand_id") === col("rep"))
      .drop("__vh", "rep")
    (reps, groupEdges)
  }

  /** The capped within-cell self-join: [[cappedCells]] then all pairs
    * (id_a < id_b) among survivors. */
  private def pairWithinCappedCells(assigned: DataFrame, threshold: Double,
      maxCell: Int): DataFrame = {
    val capped = cappedCells(assigned, maxCell)
    cosinePairs(
      capped.select(col("cell"), col("cand_id").as("id_a"),
        col("cv").as("v_a")),
      capped.select(col("cell"), col("cand_id").as("id_b"),
        col("cv").as("v_b")),
      threshold)
  }

  /** Cell cap with loud accounting via [[lastSemanticCap]] (EAGER —
    * truncation is visible the moment it happens); oversized cells
    * excluded from pairing. The cap decision is a map-side-combinable
    * groupBy count joined back — never a window over the cell key (the
    * keeper-window hot-key discipline). */
  private def cappedCells(assigned: DataFrame, maxCell: Int): DataFrame = {
    val cellCounts = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("__cn")).localCheckpoint()
    val over = cellCounts.filter(col("__cn") > maxCell)
      .agg(count(lit(1)), coalesce(sum(col("__cn")), lit(0L))).head()
    recordCapAccounting((over.getLong(0), over.getLong(1)), maxCell)
    assigned.join(
      cellCounts.filter(col("__cn") <= maxCell).select(col("cell")),
      Seq("cell"))
  }

  /** The shared loud cap accounting — thread-keyed snapshot + sticky
    * global, one code path for the distributed and driver pair
    * generators so monitors see identical evidence either way. */
  private def recordCapAccounting(cap: (Long, Long), maxCell: Int): Unit = {
    semanticCapTl.set(cap)
    if (cap._1 > 0) {
      semanticCapSticky = cap
      println(s"[semanticDedup] WARNING: ${cap._1} cells over " +
        s"maxCell=$maxCell (${cap._2} representatives) excluded " +
        "from pairing — raise nClusters or maxCell")
    }
  }

  /** DRIVER form of [[semanticPairsAssigned]] for BOUNDED collected
    * inputs (the [[unionFindMinLabels]] pattern): same semantics, no
    * Spark jobs — the serving-cadence append's pair generation is
    * otherwise ~11 AQE shuffle-stage jobs over inputs that fit in one
    * array. Arithmetic is replicated exactly: dot/norm skip null
    * elements pairwise and fold in element order ([[ArrayDot]]), the
    * cosine is the fused Σab/(√Σa²·√Σb²) ([[ArrayCosine]]) on RAW
    * vectors, the threshold compare is `>=`, pair order `id_a < id_b`.
    * The exact collapse groups by the NORMALIZED CONTENT itself where
    * the distributed form groups by xxhash64 of it — the identity the
    * hash proxies at 2⁻⁶⁴ (a hash COLLISION would make the distributed
    * form merge two distinct groups this form keeps apart; the shingle
    * families' standing discipline). Zero-norm rows stay singleton.
    * The loud cell cap counts representatives per cell and excludes
    * over-cap cells with the SAME accounting ([[recordCapAccounting]]).
    *
    * Returns None when Σ_cell reps×new-reps exceeds `maxPairWork` —
    * quadratic driver work the executors should do; the caller falls
    * back to the distributed plan (byte-identical labels either way —
    * SemanticDedupSpec pins pair-set equality on a mixed fixture).
    * Rows: (id, cv with possible null elements, cell, isNew). */
  private[graft] def semanticPairsLocal(
      rowsIn: Seq[(Long, IndexedSeq[java.lang.Double], Int, Boolean)],
      threshold: Double, maxCell: Int,
      maxPairWork: Long = 2000000L): Option[Seq[(Long, Long)]] = {
    // positional access below is hot (the pairing loops) — a List here
    // would make every rows(i) an O(n) walk
    val rows = rowsIn.toIndexedSeq
    def dotSelf(v: IndexedSeq[java.lang.Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) {
        val x = v(i)
        if (x != null) { val xd = x.doubleValue(); s += xd * xd }
        i += 1
      }
      s
    }
    def cosine(a: IndexedSeq[java.lang.Double],
        b: IndexedSeq[java.lang.Double]): java.lang.Double = {
      val n = math.min(a.length, b.length)
      var sab = 0.0; var saa = 0.0; var sbb = 0.0; var i = 0
      while (i < n) {
        val x = a(i); val y = b(i)
        if (x != null && y != null) {
          val xd = x.doubleValue(); val yd = y.doubleValue()
          sab += xd * yd; saa += xd * xd; sbb += yd * yd
        }
        i += 1
      }
      val denom = math.sqrt(saa) * math.sqrt(sbb)
      if (denom > 0.0) java.lang.Double.valueOf(sab / denom) else null
    }
    // exact collapse: min id per identical-normalized-content group
    val groups = new java.util.HashMap[IndexedSeq[java.lang.Double],
      java.util.ArrayList[Int]]()
    rows.indices.foreach { ri =>
      val nrm = math.sqrt(dotSelf(rows(ri)._2))
      if (nrm > 0.0) {
        val key: IndexedSeq[java.lang.Double] = rows(ri)._2.map(x =>
          if (x == null) null
          else java.lang.Double.valueOf(x.doubleValue() / nrm))
        var g = groups.get(key)
        if (g == null) { g = new java.util.ArrayList[Int](); groups.put(key, g) }
        g.add(ri)
      }
    }
    val repOf = new Array[Boolean](rows.length)
    rows.indices.foreach(ri => repOf(ri) = true)
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val git = groups.values().iterator()
    while (git.hasNext) {
      val g = git.next()
      var rep = g.get(0)
      var i = 1
      while (i < g.size()) {
        if (rows(g.get(i))._1 < rows(rep)._1) rep = g.get(i)
        i += 1
      }
      i = 0
      while (i < g.size()) {
        val m = g.get(i)
        if (m != rep) {
          repOf(m) = false
          // only edges touching a NEW row (member new; or rep new and
          // member old) — stored↔stored groups already share a component
          if (rows(m)._4 || (rows(rep)._4 && !rows(m)._4))
            edges += ((rows(rep)._1, rows(m)._1))
        }
        i += 1
      }
    }
    // loud cell cap over representatives
    val cellReps = new java.util.HashMap[Int, java.util.ArrayList[Int]]()
    rows.indices.foreach { ri =>
      if (repOf(ri)) {
        var l = cellReps.get(rows(ri)._3)
        if (l == null) {
          l = new java.util.ArrayList[Int](); cellReps.put(rows(ri)._3, l)
        }
        l.add(ri)
      }
    }
    var overCells = 0L; var overRows = 0L; var pairWork = 0L
    val cit = cellReps.values().iterator()
    while (cit.hasNext) {
      val l = cit.next()
      if (l.size() > maxCell) { overCells += 1; overRows += l.size() }
      else {
        var nNew = 0; var i = 0
        while (i < l.size()) { if (rows(l.get(i))._4) nNew += 1; i += 1 }
        pairWork += l.size().toLong * nNew
      }
    }
    if (pairWork > maxPairWork) return None
    recordCapAccounting((overCells, overRows), maxCell)
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // outer loop over NEW reps only, inner over all reps — iteration
    // count is exactly the guarded pairWork (Σ_cell reps×newReps), not
    // the reps² of a naive double scan (a 16k-rep touched cell with one
    // new row costs 16k iterations, not 2.7e8 — the guard's unit IS the
    // loop's unit). A qualifying pair has ≥1 new member: new×old is
    // visited once (the new side is the outer), new×new twice (each as
    // outer) and emitted only from the smaller id; ids always ordered.
    val cit2 = cellReps.values().iterator()
    while (cit2.hasNext) {
      val l = cit2.next()
      if (l.size() <= maxCell) {
        var i = 0
        while (i < l.size()) {
          val ri = l.get(i)
          if (rows(ri)._4) {
            val (ia, va, _, _) = rows(ri)
            var j = 0
            while (j < l.size()) {
              if (j != i) {
                val (ib, vb, _, nb) = rows(l.get(j))
                if (!nb || ia < ib) {
                  val c = cosine(va, vb)
                  if (c != null && c.doubleValue() >= threshold)
                    pairs += ((math.min(ia, ib), math.max(ia, ib)))
                }
              }
              j += 1
            }
          }
          i += 1
        }
      }
    }
    Some((pairs ++ edges).toSeq)
  }

  /** Within-cell cosine pairs: join on the cell key only, ordered ids,
    * threshold on the raw-vector cosine. */
  private def cosinePairs(a: DataFrame, b: DataFrame,
      threshold: Double): DataFrame =
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b")

  /** Connected-component cluster assignment over near-dup pairs: every
    * document in `docs` is labelled with the MINIMUM id reachable through
    * `pairs` (itself when isolated) — the step real dedup pipelines run
    * AFTER pair generation, because near-duplication is not transitive at
    * the pair level (a~b, b~c does not imply the a~c pair exists) yet the
    * keep/drop decision must be per CLUSTER: `is_canonical` = 1 marks the
    * one survivor per component.
    *
    * Iterative min-label propagation WITH PATH HALVING: each round a
    * node takes the min of its own label, its neighbors' labels (one
    * edge hop), and its label's CURRENT label (one pointer hop — every
    * label value is itself a node id of the same component, so the
    * indirection is always a reachable id). The pointer hop doubles the
    * distance already-travelled information moves per round, so chains
    * converge in O(log diameter) rounds instead of diameter — a
    * depth-100 chain settles in ~8 rounds (DedupClusterSpec pins it),
    * and `maxRounds` = 20 now covers diameters no real near-dup graph
    * reaches (star/clique shapes still settle in 2-3 rounds; the fixed
    * point — minimum reachable id — is unchanged, so outputs are
    * byte-identical to the pure edge-propagation form). Labels only
    * decrease, so the label sum is a strictly decreasing convergence
    * witness — each round is narrow (id, label) shuffles plus an
    * O(1)-row aggregate; no per-round membership join, no driver-side
    * graph. Past `maxRounds` it THROWS rather than returning a
    * half-converged labelling — a silently split cluster is corruption,
    * not degradation.
    *
    * @param pairs (id_a, id_b) candidate/verified near-dup pairs — any of
    *              the detectors above ([[minhashNearDuplicates]],
    *              [[simhashNearDuplicates]], ...) or a verified subset;
    *              pairs touching ids absent from `docs` are ignored
    * @return (doc_id, cluster_id, is_canonical) — one row per `docs` row
    */
  def clusterAssignments(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxRounds: Int = 20): DataFrame =
    clusterAssignmentsWithRounds(docs, idCol, pairs, maxRounds)._1

  /** [[clusterAssignments]] also reporting how many propagation rounds
    * ran (including the final fixpoint-detection round) — the spec's
    * O(log d) convergence witness. */
  private[graft] def clusterAssignmentsWithRounds(docs: DataFrame,
      idCol: String, pairs: DataFrame,
      maxRounds: Int = 20): (DataFrame, Int) = {
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val lng = org.apache.spark.sql.types.LongType
    val spark = docs.sparkSession
    val ids = docs.select(col(idCol).cast(lng).as("id"))
    // THE INPUT PLANS ARE EVALUATED EXACTLY ONCE each — the round-13
    // profile measured ONE evaluation of the edge plan at 132 jobs /
    // 9.6 cpu-s on a 76-vector SemDeDupIndex append, because the plan
    // references `pairs` twice (both edge directions) and `ids` twice
    // (the endpoint clips), and callers pass join-heavy trees that AQE
    // re-evaluates per occurrence. localCheckpoint (not persist — the
    // CacheManager-leak rule) materializes each input once; the edge
    // build and every round then read cheap block scans. The ROUNDS
    // stay SQL (Tungsten min-aggregation): an all-RDD loop measured
    // ~1.5× slower on 2M-doc depth-16 chains (boxed Tuple2 shuffles vs
    // codegen'd aggregation) — executor efficiency at data scale beats
    // saving a few driver jobs per round.
    val idsM = ids.localCheckpoint()
    val prsM = pairs
      .select(col("id_a").cast(lng).as("id_a"),
        col("id_b").cast(lng).as("id_b"))
      .localCheckpoint()
    // edges are clipped to known doc ids ONCE (two semi-joins at build
    // time, not per round): an endpoint outside `docs` would otherwise
    // enter the labelling as a phantom node — an output row nobody asked
    // for, and a node-count increase that breaks the sum witness's
    // strict-decrease invariant
    val edges = prsM
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(prsM
        .select(col("id_b").as("src"), col("id_a").as("dst")))
      .join(idsM.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(idsM.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .persist(mad)
    var labels = idsM
      .select(col("id"), col("id").as("lab"))
      .persist(mad)
    // decimal sum: overflow-proof witness at any id magnitude / doc count
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lab").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds,
        s"cluster propagation not converged after $maxRounds rounds — " +
          "component diameter exceeds the bound; raise maxRounds")
      val msgs = edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("lab"))
      // path halving: lab(lab(id)) — labels keyed by label value joined
      // back to labels (every label IS a doc id, so the inner join is
      // total); one extra narrow shuffle per round buys O(log d)
      // convergence on chains. DELAYED until round 3: star/clique
      // components (every real near-dup corpus, all contract queries)
      // settle in ≤2 rounds and must not pay the hop join at all —
      // chains lose two doubling rounds, still O(log d)
      val base = labels.unionByName(msgs)
      val merged =
        if (rounds < 3) base
        else base.unionByName(
          labels.select(col("id"), col("lab").as("__mid"))
            .join(labels.select(col("id").as("__mid"), col("lab")),
              Seq("__mid"))
            .select(col("id"), col("lab")))
      val nextPlan = merged
        .groupBy(col("id")).agg(min(col("lab")).as("lab"))
      // TRUNCATE the logical plan each round: `labels` appears twice in
      // nextPlan (union side + message join), so chaining rounds directly
      // doubles the analyzed tree per round — exponential in rounds, and
      // the optimizer hangs near depth ~15 even though execution would
      // read from cache. Round-tripping through the RDD gives the next
      // round a constant-size LogicalRDD scan; lineage growth drops to
      // linear (plain RDD parentage), persist keeps recompute off the
      // hot path, and fault-tolerance semantics stay standard-Spark.
      val next = labels.sparkSession
        .createDataFrame(nextPlan.rdd, nextPlan.schema)
        .persist(mad)
      val nextSum = labelSum(next)
      if (nextSum.compareTo(prevSum) == 0) {
        next.unpersist()
        converged = true
      } else {
        labels.unpersist()
        labels = next
        prevSum = nextSum
      }
    }
    // the result reads from the persisted fixpoint; edges drop out of the
    // final projection, so their cache entry can go now
    edges.unpersist()
    (labels.select(col("id").as("doc_id"), col("lab").as("cluster_id"),
      when(col("id") === col("lab"), 1).otherwise(0).as("is_canonical")),
      rounds)
  }

  /** Row bound under which an incremental-store propagation runs as a
    * DRIVER union-find instead of the distributed round loop: a
    * serving-path append's propagation input is O(batch + touched
    * components) narrow rows, and below this bound the dominant cost of
    * the distributed loop is DRIVER JOBS (2 checkpoint actions + one
    * action per round, each fanning into AQE stage jobs — the round-14
    * profile billed ~25 of a 78-job append to the loop), not executor
    * work. 100k (id, cell) / pair rows is ~a few MB of driver heap. */
  private[graft] val DriverPropagationMax = 100000

  /** Exact min-label connected components on the driver: union by
    * smaller-root-wins with path compression, so find(node) converges to
    * the component's MINIMUM id — byte-identical labels to
    * [[clusterAssignments]] (whose fixpoint is the same minimum), just
    * computed without driver-job round-trips. Edges with endpoints
    * outside `nodes` are ignored (the distributed form's semi-join
    * clip). Caller guarantees bounded input ([[DriverPropagationMax]]). */
  private[graft] def unionFindMinLabels(nodes: Iterator[Long],
      edges: Iterator[(Long, Long)]): java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    nodes.foreach(n => parent.put(n, n))
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      if (parent.containsKey(a) && parent.containsKey(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    // compress everything so reads are O(1) min labels
    val out = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    val it = parent.keySet().iterator()
    while (it.hasNext) { val k = it.next(); out.put(k, find(k)) }
    out
  }

  /** End-to-end near-dup corpus dedup: detector pairs → connected
    * components → keep one canonical doc per cluster. The composed flow a
    * production corpus-dedup job actually runs ([[minhashNearDuplicates]]
    * alone emits PAIRS; dropping one side of every pair over-deletes when
    * components have >2 members). Returns the surviving rows of `df`,
    * schema unchanged. */
  def nearDupSurvivors(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
      threshold: Double = 0.7, maxRounds: Int = 20): DataFrame = {
    val pairs = minhashNearDuplicates(df, idCol, textCol, shingleSize,
      bands, rowsPerBand, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // propagate labels only over docs that appear in a pair — docs outside
    // every pair are trivially canonical singletons and never enter the
    // iteration; the DROP list (non-canonical cluster members) is the
    // small side (bounded by the near-dup rate, not the corpus), so the
    // final pass is one anti-join of the corpus against it, with the
    // build side left to AQE rather than force-broadcast
    val inPairs = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
    val drop = clusterAssignments(inPairs, "doc_id", pairs, maxRounds)
      .filter(col("is_canonical") === 0)
      .select(col("doc_id").as("__drop_id"))
    df.join(drop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Exact-substring span dedup at fixed n-token granularity — the
    * "remove verbatim repeated passages, keep one copy" hygiene step
    * (published as suffix-array ExactSubstr dedup in "Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2021; this
    * is the fixed-window relational form of the same idea: an n-token
    * run appearing more than once in the corpus is duplicated text).
    * Whole-document dedup misses a copied paragraph inside an otherwise
    * unique page, and line dedup misses it when line boundaries shift;
    * span dedup catches verbatim reuse at ANY alignment.
    *
    * Semantics (deterministic, engine-replayable): every occurrence of
    * an n-token run whose run-content appears >1 time corpus-wide is
    * removed EXCEPT the globally-first occurrence (arg-min by
    * (doc_id, position)); a token is dropped when ANY covering
    * non-keeper occurrence spans it, so overlapping repeated runs merge
    * into maximal removed spans (an exact duplicate of a whole earlier
    * doc loses every token). Returns (doc_id, n_tokens, n_kept,
    * text_kept) — the [[lineDedup]] contract at token granularity; docs
    * re-assemble from surviving tokens in order, absent when token-less.
    *
    * Scale shape: the keeper/count decision is a map-side
    * combinable hash aggregate on the 8-byte gram hash joined back to
    * the occurrence stream ([[spanNonKeepers]] — no keeper
    * window, so a corpus-universal gram cannot serialize one task); only
    * REPEATED grams survive it, so the join-back and the
    * covered-position explode are bounded by duplicated mass, not corpus
    * size. Token removal is ROW-LOCAL: per-doc covered positions collect
    * to a sorted array (bounded by doc length) that joins back at DOC
    * granularity — the token stream itself is never shuffled a second
    * time — and surviving tokens assemble as complement-gap slices in
    * O(|doc| + |removed| log |removed|) per row ([[removeSpans]]). */
  def exactSubstringDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 50): DataFrame = {
    val (base, grams) = spanGrams(df, idCol, textCol, n)
    removeSpans(base, spanNonKeepers(grams), n)
  }

  /** Non-keeper occurrences of repeated grams — keeper decided by a
    * DUPLICATED-GRAM hash aggregate joined back to the occurrences.
    *
    * Why this shape (round-10, closes the round-9 weak component): the
    * round-9 count/arg-min WINDOW over `h` evaluated the gram subtree
    * once but serialized ALL occurrences of one gram into one window
    * task — a corpus-universal boilerplate gram (license headers
    * repeated ~10⁸×, a realistic 100 TB shape) became a single-task
    * scale-killer, and AQE can skew-split joins but not windows. The
    * hash AGGREGATE has no such hazard: partial count/min combine
    * MAP-SIDE, so a 10⁸-occurrence gram contributes one partial row per
    * map task, never one reducer group of 10⁸ rows. The `cnt > 1`
    * filter then bounds the join-back build side by DISTINCT duplicated
    * grams (not corpus size): on clean corpora AQE measures it small
    * and broadcasts — the occurrence stream never shuffles at all —
    * and under heavy duplication the sort-merge fallback is exactly the
    * join AQE's skew-split machinery handles. ScaleBench arg-26 plants
    * ONE gram at 10⁷ occurrences: this form beats the round-9 window
    * there ≥2×; arg-23 records the no-skew trade.
    *
    * The cost of this shape is the SECOND evaluation of the gram
    * subtree (tokenize → per-doc lead window) on the aggregate side —
    * Catalyst shares no subtrees across a join, and every
    * materialization alternative was measured and rejected: a lazy
    * localCheckpoint stores the 24-byte-per-token stream as
    * non-replicated executor blocks (slower than recomputing, and an
    * executor loss kills the job), and exchange-reuse sharing via an
    * explicit repartition does not reliably fire once
    * DeduplicateRelations re-ids the duplicate branch (verified
    * empirically: ReusedExchange count 0 at 500k docs — the re-inlined
    * subtree then evaluates per consumer PLUS pays the exchange).
    * Against the round-9 keeper window (one evaluation + one sorted
    * h-exchange) this measures ~1.5× slower wall at 20M tokens with no
    * hot key (ScaleBench arg-23) and ≥2× FASTER with one 10⁷-occurrence
    * gram (arg-26) — and the window's failure mode is unbounded (one
    * task owns the universal gram's whole group; wall grows linearly
    * with the hot gram's mass and no runtime mitigation exists, AQE
    * skew-split applying to joins only), while this form's worst case
    * stays a bounded constant factor. A 100 TB default must be the
    * bounded one. */
  private[graft] def spanNonKeepers(grams: DataFrame): DataFrame = {
    val dup = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("p"))).as("keep"))
      .filter(col("cnt") > 1)
      .select(col("h"), col("keep"))
    grams.join(dup, Seq("h"))
      .filter(!(col("doc_id") === col("keep.doc_id") && col("p") === col("keep.p")))
      .select(col("doc_id"), col("p"))
  }

  /** (base docs with token arrays, full n-gram occurrences) — the shared
    * front of the span-dedup family. Gram identity is an xxhash64 combine
    * over window leads of per-token hashes (see [[exactSubstringDedup]]'s
    * scale notes). */
  private def spanGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    require(n >= 2, "span length must be at least 2 tokens")
    val base = df
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
    val toks = base
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "t")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), xxhash64(col("t")).as("th"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val leads = (1 until n).map(i => lead(col("th"), i).over(w))
    val grams = toks
      .select(col("doc_id"), col("p"),
        xxhash64(col("th") +: leads: _*).as("h"),
        leads.last.isNotNull.as("__full")) // window exprs must be projected
      .filter(col("__full")) // full n-token runs only
      .select(col("doc_id"), col("p"), col("h"))
    (base, grams)
  }

  /** Remove every token covered by a non-keeper occurrence (doc_id, p):
    * positions expand to [p, p+n-1], merge into a per-doc SORTED array,
    * and the surviving tokens assemble row-locally as slices of the gaps
    * between removed positions — the shared back of the span-dedup
    * family.
    *
    * Linear, not membership-scan (round-10): the earlier
    * `filter(tk, (t,i) => !array_contains(rm, i+1))` rescanned the
    * removal set per token — O(|doc|·|removed|), 10¹⁰ comparisons for a
    * book-length doc under heavy duplication. The removal positions are
    * a sorted distinct int array, so the KEPT tokens are exactly the
    * complement gaps: bracket the array with sentinels 0 and |doc|+1,
    * zip it against its own shift to get the (prev+1, next−1) gap
    * ranges, and flatten one `slice` per non-empty gap —
    * O(|doc| + |removed| log |removed|) per row, all codegen'd
    * array primitives, byte-identical output. */
  private def removeSpans(base: DataFrame, nonKeep: DataFrame,
      n: Int): DataFrame = {
    val removedPerDoc = nonKeep
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + lit(n - 1))).as("q"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("q"))).as("rm"))
    val kept = complementSlices(col("tk"), col("rm"))
    base.join(removedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        when(col("rm").isNull, col("tk")).otherwise(kept).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("text_kept"))
  }

  /** Elements of `items` whose 1-based position is NOT in the sorted
    * distinct position array `rm` — [[removeSpans]]'s row-local
    * surviving-token assembly: bracket `rm` with sentinels 0 and
    * |items|+1, zip it against its own shift to get the complement gap
    * ranges, and flatten one `slice` per non-empty gap. The lambdas are
    * interpreted (Spark HOFs), but each element is visited O(1) times —
    * O(|items| + |rm|) per row where the per-element membership scan it
    * replaced was O(|items|·|rm|) (10¹⁰ comparisons in ONE row for a
    * book-length doc under heavy duplication): the win is algorithmic,
    * not codegen. */
  private def complementSlices(items: Column, rm: Column): Column = {
    val bounds = concat(array(lit(0)), rm, array(size(items) + lit(1)))
    val gaps = zip_with(
      slice(bounds, lit(1), size(bounds) - 1),
      slice(bounds, lit(2), size(bounds) - 1),
      (a, b) => struct((a + 1).as("s"), (b - 1).as("e")))
    flatten(transform(
      filter(gaps, r => r.getField("e") >= r.getField("s")),
      r => slice(items, r.getField("s"),
        r.getField("e") - r.getField("s") + 1)))
  }

  /** Incremental exact-substring span dedup: one batch's n-token runs
    * against every run EVER ingested — [[lineIncremental]]'s discipline
    * at arbitrary-alignment granularity. Daily cost is O(batch) compute
    * plus joins against the gram-hash store (8 bytes per DISTINCT run
    * ever seen); historical text is never re-read.
    *
    * SEEN-CONTENT semantics: a run that ever appeared removes ALL its
    * occurrences in later batches (the global keeper lives in an earlier
    * batch); runs first seen in this batch keep their within-batch
    * arg-min occurrence, exactly like the batch operator. Batch-by-batch
    * processing therefore equals whole-corpus [[exactSubstringDedup]]
    * when ids arrive in increasing order.
    *
    * @param priorGrams (h) relation of every gram hash already stored
    *   (extra columns ignored; duplicate rows harmless — both probes are
    *   semi/anti joins)
    * @return (result, newGrams): `result` is the batch's
    *   (doc_id, n_tokens, n_kept, text_kept); `newGrams` is the distinct
    *   (h) first seen in THIS batch — append to the store (already-stored
    *   hashes are excluded, so the append stays batch-sized). */
  def spanIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      priorGrams: DataFrame, n: Int = 50): (DataFrame, DataFrame) = {
    // integral ids only: the widening cast exists so every batch writes
    // one id type against the store, but a non-integral id would cast to
    // NULL silently (collapsing every gram under one key) — and a
    // numeric keeper order on e.g. string ids would diverge from the
    // batch operator's lexicographic arg-min, breaking the documented
    // batch-equivalence. Reject instead.
    {
      import org.apache.spark.sql.types._
      val dt = newDocs.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"spanIncremental requires an integral id column; " +
          s"'$idCol' is ${dt.simpleString}")
    }
    val (base, grams) = spanGrams(
      newDocs.withColumn(idCol, col(idCol).cast("long")), idCol, textCol, n)
    // The [[spanNonKeepers]] round-10 shape with the seen-probe moved to
    // PER-DISTINCT-GRAM granularity:
    // one map-side-combinable aggregate derives (h, cnt, keep), the
    // store probe SEMI-JOINS the store against that relation (one row
    // per distinct batch gram — smaller than the round-9 per-occurrence
    // probe), and the join-back carries only grams that are seen or
    // batch-duplicated. No keeper window, so a corpus-universal gram
    // cannot serialize one task (the round-9 weak component).
    //
    // Probe DIRECTION matters at store scale (round-17): the previous
    // form left-joined perH against the store, and a LEFT OUTER join
    // can only build on the store side — past broadcast size it planned
    // as a sort-merge join that SORTED the whole gram store once per
    // serving batch (the dominant term of the arg-46 span serving
    // receipts, and the humongous sort-array GC churn at the 10M
    // decade). Semi-joining store ⋉ batch instead streams the store
    // through a hash probe of the batch-sized side (AQE broadcasts it
    // at serving cadence): the store scan IS the probe — no store-side
    // sort or shuffle at any store size. Duplicate store rows (crash
    // re-appends) pass the semi join and fan out the SEEN side exactly
    // as the old left join did — duplicated (doc_id, p) output collapses
    // in [[removeSpans]]'s position set and flagged rows are filtered
    // from `newGrams`, so the store-duplicate-insensitivity contract
    // holds without paying a distinct's shuffle on the serving path.
    val perH = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("p"))).as("keep"))
    val seenH = priorGrams.select(col("h"))
      .join(perH.select(col("h")), Seq("h"), "left_semi")
    val flaggedH = perH.join(
      seenH.select(col("h"), lit(true).as("__seen")), Seq("h"), "left")
    val relevant = flaggedH
      .filter(coalesce(col("__seen"), lit(false)) || col("cnt") > 1)
      .select(col("h"), coalesce(col("__seen"), lit(false)).as("seen"),
        col("keep"))
    val nonKeep = grams.join(relevant, Seq("h"))
      .filter(col("seen") ||
        !(col("doc_id") === col("keep.doc_id") && col("p") === col("keep.p")))
      .select(col("doc_id"), col("p"))
    val result = removeSpans(base, nonKeep, n)
    // perH is distinct on h, so unseen rows are already distinct
    val newGrams = flaggedH.filter(col("__seen").isNull).select(col("h"))
    (result, newGrams)
  }

  /** Benchmark decontamination: flag training documents sharing at least
    * one `shingleSize`-gram with a held-out evaluation set (the published
    * LLM-corpus hygiene step — n-gram collision with the benchmark means
    * the benchmark leaks into training). Returns one row per CONTAMINATED
    * training doc: its shared-distinct-n-gram count, total distinct
    * n-gram count, and the shared fraction (6dp).
    *
    * Scale shape: the benchmark side is tiny by construction (eval sets
    * are fixed-size; the corpus is not), so its distinct shingle hashes
    * BROADCAST and the whole check is one map-side hash-semijoin pass
    * over the training shingles + one hash aggregate — the 100 TB corpus
    * is read once and only (id, 8-byte hash) rows ever reach the
    * aggregate. Shingles ride as xxhash64 values ([[shingleHashes]]):
    * equality on the 64-bit hash stands in for string equality, the same
    * discipline as every dedup path above. */
  def decontaminate(train: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, shingleSize: Int = 13): DataFrame = {
    val trainSh = shingleHashes(train, idCol, textCol, shingleSize)
    val benchSh = shingleHashes(benchmark, idCol, textCol, shingleSize)
      .select(col("h"), lit(1).as("hit")).distinct()
    trainSh.join(broadcast(benchSh), Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(col("hit")).as("n_shared"), count(lit(1)).as("n_ngrams"))
      .filter(col("n_shared") > 0)
      .select(col("id").as("doc_id"), col("n_shared"), col("n_ngrams"),
        round(col("n_shared").cast("double") / col("n_ngrams"), 6)
          .as("contamination"))
  }

  /** [[decontaminate]] for the scale where the evaluation set's distinct
    * shingle hashes are too large to broadcast exactly: a Bloom filter
    * over the benchmark hashes rides to the executors instead (filter
    * bits OR-merge, so the distributed build is independent of
    * partitioning and insertion order), the corpus shingle stream is
    * probed in ONE pass, and only the probe's candidate hashes — bounded
    * by the true contamination rate plus the false-positive rate, never
    * by the corpus — are exactly verified against the benchmark
    * relation (AQE picks the verify join strategy). Bloom false
    * positives die in the verify join; false negatives are impossible
    * (the Bloom guarantee), so the output is IDENTICAL to
    * [[decontaminate]] on any input — the spec and the x57 oracle (the
    * unchanged x46 SQL) both pin that equality.
    *
    * The probe is the codegen'd [[graft.functions.BloomMightContain]]
    * expression over the broadcast filter (Spark's own
    * `BloomFilterMightContain` is internal-only) — it fuses into the
    * corpus pass's generated stage, no interpreted lambda on the
    * per-shingle hot path. The candidate
    * hashes ride OUT of the corpus pass inside the per-doc aggregate
    * (`collect_list` drops the nulls the `when` leaves for clean
    * shingles), so the corpus is scanned exactly once and the exploded
    * verify relation is candidate-sized.
    *
    * @param expectedItems Bloom sizing — pass the eval set's order of
    *                      magnitude rather than counting it (no sizing
    *                      job; oversizing only costs bits, ~1.2 MiB per
    *                      million items at fpp 0.01)
    */
  def decontaminateBloom(train: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, shingleSize: Int = 13,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    val benchSh = shingleHashes(benchmark, idCol, textCol, shingleSize)
      .select(col("h")).distinct()
    val bloom = benchSh.stat.bloomFilter("h", expectedItems, fpp)
    val bc = train.sparkSession.sparkContext.broadcast(bloom)
    val mightHit = (h: org.apache.spark.sql.Column) =>
      graft.functions.BloomMightContain(h, bc)
    val perDoc = shingleHashes(train, idCol, textCol, shingleSize)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_ngrams"),
        collect_list(when(mightHit(col("h")), col("h"))).as("cand"))
      .filter(size(col("cand")) > 0)
    perDoc.select(col("id"), col("n_ngrams"), explode(col("cand")).as("h"))
      .join(benchSh.select(col("h"), lit(1).as("hit")), Seq("h"), "left")
      .groupBy(col("id"), col("n_ngrams"))
      .agg(count(col("hit")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .select(col("id").as("doc_id"), col("n_shared"), col("n_ngrams"),
        round(col("n_shared").cast("double") / col("n_ngrams"), 6)
          .as("contamination"))
  }

  /** How a line dedup cuts text into lines: each case owns the row-local
    * (line_no, line)-struct-array expression and the separator that
    * reassembles the kept lines. The batch ([[lineDedup]]), incremental
    * ([[lineIncremental]], [[graft.dedup.IncrementalDedup.Lines]]) and
    * streaming ([[graft.streaming.DocStream.streamingLineDedup]]) paths
    * all stage lines through the same expression, so they see
    * bit-identical lines — the batch ≡ stream parity rests on it. Text
    * with no lines yields NULL, and explode of null emits no rows: the
    * doc is absent from the result. */
  sealed trait Chunker {
    def lines(text: Column): Column
    def sep: String
  }

  object Chunker {

    /** Runs of `k` whitespace tokens (the last run per doc may be
      * shorter) — the SF-testdata form, where documents are single-line
      * text and k-token runs stand in for lines; x50 oracles it
      * end-to-end. Chunk i (0-based) covers 1-based token positions
      * i*k+1 .. i*k+k; token-less text yields NULL (sequence(0,-1) would
      * descend). Reassembly rejoins with ' '. */
    final case class Tokens(k: Int = 3) extends Chunker {
      def lines(text: Column): Column = {
        val toks = TextFunctions.tokens(text)
        val kl = lit(k)
        when(size(toks) > 0, transform(
          sequence(lit(0), (size(toks) + kl - 1).divide(kl).cast("int") - 1),
          i => struct(i.as("line_no"),
            array_join(slice(toks, i * kl + 1, kl), " ").as("line"))))
      }
      def sep: String = " "
    }

    /** Newline lines — the production form on real multi-line text:
      * split on CRLF, bare CR, or LF — CRLF alternative first so it never
      * splits into two empty lines. A bare-'\n' split would keep '\r'
      * inside the line (CRLF docs), and classic-Mac/stray-'\r' endings
      * would keep whole docs as one line, so the same header under any
      * ending convention would hash differently and never dedup.
      * Reassembly rejoins with '\n' — line endings are NORMALIZED, the
      * standard cleanup semantics. Empty text yields NULL; empty LINES
      * (blank lines, trailing newline) are kept and dedup like any
      * content — the first blank line in (doc_id, line_no) order
      * survives for the docs that contain one. */
    case object Newline extends Chunker {
      def lines(text: Column): Column =
        when(length(text) > 0,
          transform(split(text, "\r\n|\r|\n"),
            (ln, i) => struct(i.as("line_no"), ln.as("line"))))
      def sep: String = "\n"
    }

    /** Blank-line-separated blocks (2+ newlines after CRLF/CR→LF
      * normalization) — the RefinedWeb/CCNet dedup granularity between
      * whole-document and single-line. Endings normalize FIRST (CRLF
      * alternative before bare CR) so the same paragraph under any
      * ending convention hashes identically even across its internal
      * single line breaks. Empty text → NULL.
      *
      * Reassembly NORMALIZES: CRLF becomes LF and every 2+-break run
      * becomes exactly one blank line ('\n\n'), so `text_kept` can
      * differ from the input even when `n_kept == n_lines` (e.g. a
      * triple newline, or CRLF endings). Paragraph IDENTITY is what
      * dedups; separator bytes are presentation. Callers needing
      * byte-stable untouched docs should compare content keys, not
      * assume n_kept == n_lines ⇒ identical text. */
    case object Paragraph extends Chunker {
      def lines(text: Column): Column = {
        val norm = regexp_replace(text, "\r\n|\r", "\n")
        when(length(norm) > 0,
          transform(split(norm, "\n{2,}"),
            (p, i) => struct(i.as("line_no"), p.as("line"))))
      }
      def sep: String = "\n\n"
    }
  }

  /** Sub-document (line-level) dedup: remove every line whose exact text
    * already appeared earlier in the corpus — the CCNet/RefinedWeb hygiene
    * step that strips boilerplate (navigation bars, license headers,
    * cookie banners) which repeats across pages without the whole pages
    * being duplicates. "Earlier" = smallest (doc id, line position), so
    * exactly one occurrence of each distinct line survives, including
    * repeats WITHIN one document. `chunker` decides what a line is
    * (default: 3-token runs, for the SF testdata that has no newlines).
    *
    * Returns (doc_id, n_lines, n_kept, text_kept): per-doc line counts
    * and the document re-assembled from surviving lines in original
    * order with the chunker's separator (empty string when nothing
    * survives; line-less docs absent).
    *
    * Scale shape: no corpus-wide window, no ROW_NUMBER. The keeper
    * decision is a map-side-combinable count/arg-min aggregate on
    * md5(line) — 16-byte keys regardless of line length, the
    * [[exactDuplicates]] discipline — left-joined back to the line
    * stream, feeding ONE per-doc reassembly aggregate. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      chunker: Chunker = Chunker.Tokens()): DataFrame = {
    // Keeper decision via a DUPLICATED-LINE hash aggregate left-joined
    // back to the line stream, feeding ONE per-doc reassembly aggregate
    // (round-10 — closes the round-9 single-hot-key window caveat):
    //   - the round-9 keeper window over line_h serialized all
    //     occurrences of one corpus-universal line into one window
    //     task — an unbounded single-task failure mode (AQE skew-split
    //     applies to joins, never windows);
    //   - here the keeper side is a map-side-combinable count/arg-min
    //     on the 16-byte hash (a 10⁸×-repeated line contributes one
    //     partial row per map task, never one reducer group), computed
    //     over a COLUMN-PRUNED second evaluation of the chunker (line
    //     text feeds md5 and is dropped before any exchange); its
    //     `cnt > 1` filter bounds `dup` by DISTINCT duplicated lines,
    //     so it broadcasts on clean corpora and the text-carrying
    //     stream then shuffles exactly once (the per-doc aggregate) —
    //     the round-9 window form shuffled text twice;
    //   - the chunker therefore evaluates twice. Sharing it was
    //     measured and rejected: exchange-reuse via explicit
    //     repartition does not reliably fire after DeduplicateRelations
    //     re-ids the duplicate branch (ReusedExchange count 0 at scale
    //     — every consumer then re-evaluates AND pays the exchange),
    //     and predicate pushdown must not see an array-emptiness filter
    //     above the chunker projection (it inlines the whole chunker
    //     expression into the filter, tripling the per-row cost — this
    //     shape has no such filter: explode drops empty docs).
    // Against the round-9 window this measures ~1.5-2× slower wall on a
    // no-skew local corpus (the second chunker evaluation — ScaleBench
    // arg-24) and ≥2× faster with one 10⁷-occurrence line (arg-26);
    // the bounded worst case is the right 100 TB default.
    // Clean lines take the left join's null branch, so every doc keeps
    // its rows through the one groupBy (collect_list skips the null
    // non-keeper entries).
    val lines = df
      .select(col(idCol).as("doc_id"),
        explode(chunker.lines(col(textCol))).as("ln"))
      .select(col("doc_id"), col("ln.line_no"), col("ln.line"),
        md5(col("ln.line")).as("line_h"))
    val dup = lines.select(col("doc_id"), col("line_no"), col("line_h"))
      .groupBy(col("line_h"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("line_no"))).as("keep"))
      .filter(col("cnt") > 1)
      .select(col("line_h"), col("keep"))
    val flagged = lines.join(dup, Seq("line_h"), "left")
      .select(col("doc_id"), col("line_no"), col("line"),
        (col("keep").isNull ||
          struct(col("doc_id"), col("line_no")) === col("keep")).as("kept"))
    flagged.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_lines"),
      count(when(col("kept"), 1)).as("n_kept"),
      array_join(transform(array_sort(
          collect_list(when(col("kept"), struct(col("line_no"), col("line"))))),
        s => s.getField("line")), chunker.sep).as("text_kept"))
  }

  /** Incremental line-level dedup: one batch's lines against every line
    * EVER ingested — the [[exactIncremental]] pattern at sub-document
    * granularity. Daily cost is O(batch) compute plus a join against the
    * line-hash store (16 md5 bytes + keeper per DISTINCT line ever seen,
    * far below corpus bytes); historical text is never re-read.
    *
    * SEEN-CONTENT semantics ([[exactIncremental]]'s contract): a line
    * that ever appeared dedups all later occurrences, so batch-by-batch
    * processing equals the whole-corpus [[lineDedup]] over the same
    * chunker when ids arrive in increasing order (the time-ordered
    * ingest case). Within the batch the same (doc_id, line_no) arg-min as
    * the batch operator decides the keeper. A store holds the lines of
    * ONE chunker: the same text cuts into different lines under each.
    *
    * @param priorFirsts (line_h) relation of every line hash already in
    *   the store (extra columns ignored)
    * @return (result, newFirsts): `result` is the batch's
    *   (doc_id, n_lines, n_kept, text_kept); `newFirsts` is
    *   (line_h, keep_doc, keep_line) for lines first seen in THIS batch
    *   — append them to the store (lines already stored are excluded,
    *   so the append stays batch-sized; re-appending under min-merge
    *   would also be correct, making re-runs idempotent either way). */
  def lineIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      priorFirsts: DataFrame, chunker: Chunker = Chunker.Tokens())
      : (DataFrame, DataFrame) = {
    val (result, allRows) = lineIncrementalCounted(
      newDocs, idCol, textCol, priorFirsts, chunker)
    (result, allRows.filter(col("keep_doc").isNotNull)
      .select(col("line_h"), col("keep_doc"), col("keep_line")))
  }

  /** [[lineIncremental]] whose second frame additionally carries the
    * batch's per-distinct-line occurrence counts — the store rows the
    * GROUP-CLOSURE AUDIT needs
    * ([[graft.dedup.IncrementalDedup.Lines.deleteClosed]]): one row per
    * distinct batch line; lines FIRST SEEN here carry their keeper
    * coordinates, already-seen lines carry NULL coordinates (pure count
    * deltas — Σ n_members over a line's rows is its total ingested
    * occurrences). Derived from the same single aggregate as the plain
    * form, so the batch pays no extra pass. */
  private[graft] def lineIncrementalCounted(newDocs: DataFrame,
      idCol: String, textCol: String, priorFirsts: DataFrame,
      chunker: Chunker): (DataFrame, DataFrame) = {
    // The [[lineDedup]] round-10 aggregate + join-back shape with the
    // seen-probe moved to PER-DISTINCT-LINE granularity: one
    // map-side-combinable count/arg-min aggregate (over a column-pruned
    // second chunker evaluation) derives (line_h, cnt, keep) for the
    // batch, the store probe left-joins THAT relation (one row per
    // distinct batch line — smaller than the round-9 per-occurrence
    // probe), and only seen-or-batch-duplicated lines join back to the
    // text-carrying stream to decide kept flags. No keeper window, so a
    // corpus-universal line cannot serialize one task (the round-9
    // hot-key caveat). The store side is DISTINCT before the probe:
    // n_lines counts joined rows, so a duplicate store row (crash
    // re-append) must not fan a seen line out twice — the distinct
    // keeps the duplicate-store-row-insensitivity contract at the cost
    // of one agg over the hash-only store projection.
    {
      import org.apache.spark.sql.types._
      val dt = newDocs.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"lineIncremental requires an integral id column; " +
          s"'$idCol' is ${dt.simpleString}") // non-integral casts to NULL silently
    }
    val lines = newDocs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(chunker.lines(col(textCol))).as("ln"))
      .select(col("doc_id"), col("ln.line_no"), col("ln.line"),
        md5(col("ln.line")).as("line_h"))
    val perH = lines.select(col("doc_id"), col("line_no"), col("line_h"))
      .groupBy(col("line_h"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("line_no"))).as("keep"))
    val flaggedH = perH.join(
      priorFirsts.select(col("line_h"), lit(true).as("__seen")).distinct(),
      Seq("line_h"), "left")
    val relevant = flaggedH
      .filter(coalesce(col("__seen"), lit(false)) || col("cnt") > 1)
      .select(col("line_h"), coalesce(col("__seen"), lit(false)).as("__sn"),
        col("keep"))
    val flagged = lines.join(relevant, Seq("line_h"), "left")
      .select(col("doc_id"), col("line_no"), col("line"),
        (col("__sn").isNull || (!col("__sn") &&
          struct(col("doc_id"), col("line_no")) === col("keep"))).as("kept"))
    val result = flagged.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_lines"),
      count(when(col("kept"), 1)).as("n_kept"),
      array_join(transform(array_sort(
          collect_list(when(col("kept"), struct(col("line_no"), col("line"))))),
        s => s.getField("line")), chunker.sep).as("text_kept"))
    // perH is distinct on line_h, so rows are already one-per-line;
    // `keep` is each first-seen line's within-batch keeper occurrence,
    // NULLed for already-seen lines (their row is a pure count delta)
    val allRows = flaggedH.select(col("line_h"),
      when(col("__seen").isNull, col("keep.doc_id")).as("keep_doc"),
      when(col("__seen").isNull, col("keep.line_no")).as("keep_line"),
      col("cnt").as("n_members"))
    (result, allRows)
  }
}
