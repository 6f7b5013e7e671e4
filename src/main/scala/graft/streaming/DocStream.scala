package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}

/** Structured Streaming twins of the document-pipeline operators: the
  * batch engine dedups a daily batch against persisted state
  * ([[graft.dedup.IncrementalDedup]]); a streaming ingest wants the same
  * decision per arriving document without a batch boundary at all. */
object DocStream {

  /** Streaming exact dedup: emit (doc_id, canonical_id) for every arriving
    * document whose content was first seen under a smaller id — the
    * streaming twin of [[graft.dedup.Dedup.exactIncremental]] applied
    * batch-by-batch (DocStreamSpec pins micro-batch ≡ batch parity, with
    * state carrying across restarts via the checkpoint).
    *
    * Keyed state: ONE long (the smallest id seen) per distinct content
    * hash — the same size class as the batch path's content-hash store,
    * growing with distinct corpus content, not with stream length or
    * redelivery (NoTimeout is deliberate: content seen a year ago is still
    * a duplicate today). Re-delivered ids and re-ingested smaller ids
    * follow the batch min-merge semantics: a doc that undercuts the stored
    * minimum becomes the new canonical and is NOT a duplicate.
    *
    * Input columns: doc_id LONG, text STRING. */
  def streamingExactDedup(docs: Dataset[Row]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .selectExpr("doc_id", "md5(text) AS content_hash")
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[(Long, String)],
            state: GroupState[Long]) => {
          var canon = state.getOption.getOrElse(Long.MaxValue)
          // ascending id order inside the micro-batch mirrors the batch
          // path's group-min: the smallest id is canonical, later ids dup
          val out = rows.map(_._1).toSeq.sorted.flatMap { id =>
            if (id < canon) { canon = id; Nil } // first seen (or undercut)
            else if (id == canon) Nil           // redelivery of canonical
            else Seq((id, canon))
          }
          state.update(canon)
          out.iterator
        })
      .toDF("doc_id", "canonical_id")
  }

  /** Streaming decontamination: flag each ARRIVING training document
    * sharing at least one `shingleSize`-gram with the static benchmark
    * set — the streaming twin of [[graft.dedup.Dedup.decontaminate]],
    * same output schema and values row-for-row (DocStreamSpec pins it).
    *
    * Completely STATELESS: the benchmark's distinct shingle hashes are
    * collected once at query build (eval sets are fixed-size by
    * construction — the same smallness assumption the batch path's
    * broadcast makes) and ride in the plan as one array literal; each
    * arriving doc is then a pure row-local map — shingle-hash array →
    * array_intersect — with no watermark, no state store, no shuffle.
    * The per-doc shingle hashes are computed with array HOFs instead of
    * the batch path's window form (window functions don't exist on
    * streams), but hash-combine the SAME token-hash sequence with the
    * SAME sentinel fill, so streaming and batch agree bitwise.
    *
    * Input columns: `idCol` LONG, `textCol` STRING. */
  def streamingDecontaminate(docs: Dataset[Row], idCol: String,
      textCol: String, benchmark: DataFrame,
      shingleSize: Int = 13): DataFrame = {
    import org.apache.spark.sql.functions._
    val benchHashes: Array[Long] =
      graft.dedup.Dedup.shingleHashes(benchmark, idCol, textCol, shingleSize)
        .select(col("h")).distinct().collect().map(_.getLong(0)).sorted
    val benchLit = typedlit(benchHashes)
    val (n, shingles) = docShingles(col(textCol), shingleSize)
    docs
      .filter(n > 0) // token-less docs shingle to nothing on the batch path
      .select(col(idCol).as("doc_id"),
        size(array_intersect(shingles, benchLit)).cast("long").as("n_shared"),
        size(shingles).cast("long").as("n_ngrams"))
      .filter(col("n_shared") > 0)
      .select(col("doc_id"), col("n_shared"), col("n_ngrams"),
        round(col("n_shared").cast("double") / col("n_ngrams"), 6)
          .as("contamination"))
  }

  /** Row-local distinct shingle hashes of a streaming document — the
    * stream-side twin of [[graft.dedup.Dedup.shingleHashes]] (window
    * functions don't exist on streams), hash-combining the SAME
    * token-hash sequence with the SAME sentinel fill, so streaming and
    * batch shingles agree bitwise.
    *
    * One codegen'd byte-scan pass per document
    * ([[graft.functions.ShingleHashes]]) — the retired three-nested-HOF
    * column form (token-hash transform → per-offset k-arity combine →
    * array_distinct, all CodegenFallback) measured ~100× slower at
    * 200k docs × 40 tokens × k=13 (39-42 s vs 0.2-0.5 s, MicroBench,
    * parity-checked in-run); on a streaming ingest that interpreted
    * cost was the per-doc floor. The token-count column tokenizes only
    * (it feeds the cheap n > 0 pre-filter, which predicate pushdown
    * keeps OUT of the shingle projection).
    * @return (token count, distinct shingle-hash array) columns */
  private def docShingles(text: Column,
      shingleSize: Int): (Column, Column) = {
    import org.apache.spark.sql.functions._
    val hs = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.ShingleHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(text),
        shingleSize))
    (size(graft.functions.TextFunctions.tokens(text)), hs)
  }

  /** [[streamingDecontaminate]] for eval suites too large to collect as
    * an exact array literal — the streaming twin of
    * [[graft.dedup.Dedup.decontaminateBloom]], identical output to the
    * exact paths on any input (Bloom false positives die in the verify
    * join; false negatives are impossible).
    *
    * Shape: the benchmark's OR-merged Bloom filter broadcasts (bits, not
    * hashes — the piece that scales past the exact-array bound); each
    * arriving doc's shingle hashes explode to rows and probe the filter
    * through the codegen'd [[graft.functions.BloomMightContain]]
    * expression — the whole derive→explode→probe pass is ONE fused
    * codegen stage, no interpreted lambda on the per-shingle hot path
    * (the survivors are bounded by true contamination + fpp, never by
    * doc size); the candidates feed a STREAM-STATIC left-semi join
    * against the exact benchmark relation (stateless — Spark re-reads/
    * broadcasts the static side per micro-batch); and a
    * flatMapGroupsWithState regroup
    * by doc_id re-folds the verified hits into the batch schema. The
    * regroup stores NOTHING (every candidate row of a doc derives from
    * the doc's single input row, so the whole group sits in one
    * micro-batch — the group function emits and leaves no state).
    *
    * Input columns: `idCol` LONG, `textCol` STRING. */
  def streamingDecontaminateBloom(docs: Dataset[Row], idCol: String,
      textCol: String, benchmark: DataFrame, shingleSize: Int = 13,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val benchSh = graft.dedup.Dedup
      .shingleHashes(benchmark, idCol, textCol, shingleSize)
      .select(col("h")).distinct()
    val bloom = benchSh.stat.bloomFilter("h", expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val (n, shingles) = docShingles(col(textCol), shingleSize)
    val verified = docs
      .filter(n > 0)
      .select(col(idCol).as("doc_id"), shingles.as("sh"))
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_ngrams"),
        explode(col("sh")).as("h"))
      .filter(graft.functions.BloomMightContain(col("h"), bc))
      .join(benchSh, Seq("h"), "left_semi")
    verified
      .select(col("doc_id"), col("n_ngrams"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (docId: Long, rows: Iterator[(Long, Long)],
            state: GroupState[Boolean]) => {
          val rs = rows.toList
          if (rs.isEmpty) Iterator.empty
          else Iterator((docId, rs.length.toLong, rs.head._2))
        })
      .toDF("doc_id", "n_shared", "n_ngrams")
      .select(col("doc_id"), col("n_shared"), col("n_ngrams"),
        round(col("n_shared").cast("double") / col("n_ngrams"), 6)
          .as("contamination"))
  }

  /** Streaming line-level dedup: per arriving document, one row PER LINE
    * with the keep/drop decision — the streaming twin of
    * [[graft.dedup.Dedup.lineDedup]]'s keep logic over the same
    * [[graft.dedup.Dedup.Chunker]]. Lines are staged by the SAME
    * row-local `chunker.lines` expression as the batch path, so the two
    * see bit-identical lines; under ascending-doc_id arrival the
    * decisions match the batch operator's min-(doc_id, line_no) rule
    * exactly (DocStreamSpec pins it per chunker, including reassembly
    * parity of text_kept with the chunker's separator).
    *
    * Keyed state: ONE (doc_id, line_no) pair per distinct line md5 — the
    * first occurrence seen so far. Like [[streamingExactDedup]], a
    * late-arriving SMALLER (doc_id, line_no) undercuts the stored first
    * and is itself kept (prior emissions are not retracted — Append
    * mode); NoTimeout is deliberate: a line seen long ago still dedups
    * today. Reassembly (the batch op's text_kept) is the consumer's
    * per-doc fold over these rows; a second stateful doc_id regroup in
    * the same query would chain stateful operators, which Structured
    * Streaming restricts in Append mode.
    *
    * Input columns: doc_id LONG, text STRING. */
  def streamingLineDedup(docs: Dataset[Row],
      chunker: graft.dedup.Dedup.Chunker = graft.dedup.Dedup.Chunker.Tokens())
      : DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val ord = Ordering.Tuple2[Long, Int]
    docs
      .select(col("doc_id"), explode(chunker.lines(col("text"))).as("ln"))
      .select(col("doc_id"), col("ln.line_no").as("line_no"),
        col("ln.line").as("line"), md5(col("ln.line")).as("line_h"))
      .as[(Long, Int, String, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[(Long, Int, String, String)],
            state: GroupState[(Long, Int)]) => {
          var first = state.getOption.getOrElse((Long.MaxValue, Int.MaxValue))
          // (doc_id, line_no) order inside the micro-batch mirrors the
          // batch path's arg-min: the smallest occurrence is the keeper
          val out = rows.toSeq.sortBy(r => (r._1, r._2))(ord).map {
            case (d, no, line, _) =>
              val kept = ord.lt((d, no), first)
              if (kept) first = (d, no)
              (d, no, line, kept)
          }
          state.update(first)
          out.iterator
        })
      .toDF("doc_id", "line_no", "line", "kept")
  }

  /** Streaming exact-substring span dedup: per arriving document, one
    * row PER FULL n-token RUN with the keep/drop decision — the
    * streaming twin of [[graft.dedup.Dedup.exactSubstringDedup]]'s
    * keeper rule (first corpus occurrence by (doc_id, position) keeps;
    * every later occurrence of the same run drops). Gram hashes are
    * built row-locally with array HOFs (window leads don't exist on
    * streams) but combine the SAME per-token xxhash64 sequence at the
    * SAME fixed arity as the batch path's [[graft.dedup.Dedup]] gram
    * builder, so batch and stream agree bitwise; under ascending-doc_id
    * arrival the decisions match the batch operator exactly
    * (DocStreamSpec pins it, including reassembled text_kept parity —
    * the consumer's fold expands kept=false rows to covered spans
    * [p, p+n−1], exactly [[graft.dedup.Dedup]]'s removal step).
    *
    * Keyed state: ONE (doc_id, p) pair per distinct run ever seen (8
    * bytes of key + 12 of state — the streaming form of the batch gram
    * store). Like [[streamingLineDedup]], a late-arriving smaller
    * occurrence undercuts the stored first and is itself kept (Append
    * mode — no retraction); NoTimeout is deliberate.
    *
    * Input columns: doc_id LONG, text STRING. */
  def streamingSpanDedup(docs: Dataset[Row], n: Int = 50): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(n >= 2, "span length must be at least 2 tokens")
    val spark = docs.sparkSession
    import spark.implicits._
    val ord = Ordering.Tuple2[Long, Int]
    // one codegen'd byte-scan pass per document (GramHashes) — the
    // retired token-hash transform + per-offset n-arity combine paid n
    // (=50 here) interpreted boxed get() calls per gram position, the
    // CodegenFallback class ShingleHashes measured at ~100×. Positions,
    // hashes and the short-doc empty-array branch are spec-pinned equal
    // (DedupAnnSpec).
    val grams = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.GramHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(col("text")), n))
    docs
      .select(col("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"), col("g.p").as("p"), col("g.h").as("h"))
      .as[(Long, Int, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[(Long, Int, Long)],
            state: GroupState[(Long, Int)]) => {
          var first = state.getOption.getOrElse((Long.MaxValue, Int.MaxValue))
          val out = rows.toSeq.sortBy(r => (r._1, r._2))(ord).map {
            case (d, p, _) =>
              val kept = ord.lt((d, p), first)
              if (kept) first = (d, p)
              (d, p, kept)
          }
          state.update(first)
          out.iterator
        })
      .toDF("doc_id", "p", "kept")
  }

  /** Streaming SemDeDup — the streaming twin of
    * [[graft.dedup.Dedup.semanticDedup]] /
    * [[graft.dedup.SemDeDupIndex]], completing the semantic column of
    * the batch/incremental/streaming dedup matrix. Centroids are
    * FROZEN (train once via [[graft.similarity.Ann]] or a
    * [[graft.dedup.SemDeDupIndex.build]]); each arriving embedding is
    * assigned row-locally (broadcast argmin — the IVF assignment
    * kernel), and keyed state holds ONE entry per CELL: that cell's
    * canonical survivors' (id, vector) list.
    *
    * Streaming semantics are the GREEDY ONLINE variant: a new vector
    * that scores cosine ≥ threshold against any stored canonical of
    * its cell is emitted as a duplicate of the SMALLEST-id matching
    * canonical; otherwise it becomes canonical itself and joins the
    * state. Under ascending-id arrival on star-shaped duplicate groups
    * (every member similar to the group's first vector — the realistic
    * near-dup shape, and the x83 planted construction) this equals the
    * batch operator exactly (DocStreamSpec pins it); on CHAIN-shaped
    * groups (a~b, b~c, a≁c) batch connected-components merge what the
    * greedy pass keeps separate — the documented deviation every
    * online dedup shares. [[reconcileSemantic]] is the periodic batch
    * re-label that converges streamed labels to exact component
    * semantics (run at the store-maintenance cadence).
    *
    * State is bounded by canonicals per cell (duplicates never enter
    * state); zero vectors never match (cosine undefined ⇒ not similar)
    * and are each emitted canonical, mirroring the batch operator.
    *
    * Input columns: doc_id LONG, embedding ARRAY<FLOAT|DOUBLE>.
    * Output: (doc_id, cluster_id, is_canonical). */
  def streamingSemanticDedup(docs: Dataset[Row],
      centroids: Array[Array[Double]],
      threshold: Double = 0.95): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val assigned = graft.similarity.Quantizer.Flat(centroids).assign(
      docs.select(col("doc_id").as("cand_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("cv")))
    assigned
      .select(col("cand_id").as("doc_id"), col("cv"), col("cell"))
      .as[(Long, Seq[Double], Int)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, rows: Iterator[(Long, Seq[Double], Int)],
            state: GroupState[List[(Long, Array[Double])]]) => {
          var canon = state.getOption.getOrElse(Nil)
          // ascending-id order inside the micro-batch mirrors the batch
          // path's min-id survivor rule
          val out = rows.toSeq.sortBy(_._1).map { case (id, v, _) =>
            val a = v.toArray
            val hits = canon.filter { case (_, c) => cosineJvm(a, c) >= threshold }
            if (hits.isEmpty) {
              canon = (id, a) :: canon
              (id, id, 1)
            } else (id, hits.map(_._1).min, 0)
          }
          state.update(canon)
          out.iterator
        })
      .toDF("doc_id", "cluster_id", "is_canonical")
  }

  /** Periodic RECONCILE for [[streamingSemanticDedup]]: re-label the
    * streamed corpus with exact batch connected-component semantics so
    * chain-shaped groups (a~b, b~c, a≁c — what the greedy online pass
    * keeps split) converge to [[graft.dedup.Dedup.semanticDedup]].
    *
    * One batch pass over the corpus-so-far against the SAME frozen
    * centroids the stream assigns with: row-local cell assignment,
    * within-cell pair generation (exact-collapse + loud cell cap — the
    * batch operator's machinery), connected components, min-id
    * canonicals. Because every greedy edge is a real ≥-threshold pair,
    * streamed clusters are always REFINEMENTS of these components —
    * reconcile only merges, never splits, and `moved` marks exactly the
    * rows whose label changed (the chain-merge victims; alert/report
    * surface for operators).
    *
    * CADENCE: run at the maintenance cadence of the backing store (the
    * reference's daily `optimize()` idiom — same as
    * [[graft.dedup.SemDeDupIndex.compact]]); between reconciles the
    * streamed labels are the documented greedy-online approximation.
    * The pass costs one corpus read (it does NOT rewrite the stream's
    * keyed state — after a reconcile, serve labels from this output or
    * a [[graft.dedup.SemDeDupIndex]], not from the stream's raw
    * emissions).
    *
    * @param docs     the corpus-so-far: (doc_id LONG, embedding ARRAY)
    * @param streamed the stream's emitted (doc_id, cluster_id, ...)
    * @return (doc_id, cluster_id, is_canonical, moved) in batch
    *         semantics; DocStreamSpec pins chain-corpus equality with
    *         the batch operator */
  def reconcileSemantic(docs: DataFrame,
      centroids: Array[Array[Double]], threshold: Double,
      streamed: DataFrame, maxCell: Int = 16384,
      localVectorMax: Int = ReconcileLocalVectorMax): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = docs.sparkSession
    val assigned = graft.similarity.Quantizer.Flat(centroids).assign(
      docs.select(col("doc_id").as("cand_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("cv")))
    // Bounded-corpus driver path (the SemDeDupIndex.append / DriverBatch
    // discipline): at gate/spec/small-store scale the distributed pair +
    // propagation machinery costs DRIVER JOBS (checkpoints + one action
    // per round × AQE fan-out), not executor work. ONE bounded take
    // collects (id, cv, cell); the exact-collapse + cap + cosine pairing
    // and the min-label fixpoint then run on the driver
    // (Dedup.semanticPairsLocal + unionFindMinLabels — pair sets and
    // labels byte-identical, both spec-pinned). Past the vector bound,
    // past semanticPairsLocal's pair-work budget, or past the fixpoint's
    // edge bound, the distributed plan below runs untouched — the 100 TB
    // path.
    val dd = graft.dedup.Dedup
    val lim = dd.DriverPropagationMax
    val labelsLocal: Option[DataFrame] =
      graft.dedup.DriverBatch.takeBounded(
          assigned.select(col("cand_id"), col("cv"), col("cell")),
          localVectorMax)
        .flatMap { rows =>
          dd.semanticPairsLocal(
              rows.iterator.map(r => (r.getLong(0),
                r.getSeq[java.lang.Double](1).toIndexedSeq,
                r.getInt(2), true)).toSeq,
              threshold, maxCell)
            .filter(_.length <= 2 * lim)
            .map { pairSeq =>
              val uf = dd.unionFindMinLabels(
                rows.iterator.map(_.getLong(0)), pairSeq.iterator)
              val out = rows.toIndexedSeq.map { r =>
                val id = r.getLong(0)
                val lab = uf.get(id).longValue()
                org.apache.spark.sql.Row(id, lab,
                  if (lab == id) 1 else 0)
              }
              spark.createDataFrame(
                spark.sparkContext.parallelize(out, 1),
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField("doc_id",
                    org.apache.spark.sql.types.LongType, nullable = false),
                  org.apache.spark.sql.types.StructField("cluster_id",
                    org.apache.spark.sql.types.LongType, nullable = false),
                  org.apache.spark.sql.types.StructField("is_canonical",
                    org.apache.spark.sql.types.IntegerType,
                    nullable = false))))
            }
        }
    val labels = labelsLocal.getOrElse {
      val pairs = dd.semanticPairsAssigned(
        assigned.withColumn("__new", lit(true)), "__new", threshold, maxCell)
      dd.clusterAssignments(docs.select(col("doc_id")), "doc_id", pairs)
    }
    labels
      .join(streamed.select(col("doc_id"),
        col("cluster_id").as("__sc")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"),
        coalesce(col("cluster_id") =!= col("__sc"), lit(true)).as("moved"))
  }

  /** Vector-row bound for [[reconcileSemantic]]'s driver path — the
    * [[graft.dedup.SemDeDupIndex]] LocalPairVectorMax value: rows carry
    * cv arrays, so the bound is tighter than
    * [[graft.dedup.Dedup.DriverPropagationMax]]. */
  private val ReconcileLocalVectorMax = 50000

  /** Plain-JVM cosine matching [[graft.functions.VectorFunctions.cosine]]'s
    * arithmetic (dot / (√dot·√dot)); returns NaN on zero norms — which
    * compares false against any threshold, the streaming form of the
    * batch path's NULL-never-pairs rule. */
  private def cosineJvm(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
    while (i < n) {
      dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i); i += 1
    }
    dab / (math.sqrt(daa) * math.sqrt(dbb))
  }
}
