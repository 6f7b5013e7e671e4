package graft.e2ebench

import java.sql.Date
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.lake.Catalog
import graft.pipelines.Orchestrator

/** Correctness checks of one run: each is attempted once; a false one is
  * a failure and is reported on stderr with its detail. */
final class Checks {
  var attempted = 0
  var failed = 0

  def apply(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[e2ebench] CHECK FAILED $name: $detail")
    }
  }
}

/** What every workload gets: the session, the tracer, a private work
  * directory, the seed and the run's checks. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val workDir: String, val seed: Long, val checks: Checks) {
  private var lakes = 0
  /** A fresh, empty traced lake under the run's work directory. */
  def freshLake(): TracedLake = {
    lakes += 1
    new TracedLake(spark, s"$workDir/lake$lakes", tracer)
  }
}

/** One workload: `setup` builds the inputs (it runs several times and the
  * last result is used); `op` is one closed-loop unit of work; `finish`
  * checks the outputs of the last op. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  def setup(): Unit
  def op(i: Int): Unit
  def finish(): Unit
  /** Workload-level counters for the per-layer report. */
  def counters: Map[String, Double] = Map.empty
  /** The lake whose files are counted, if any. */
  def lake: Option[TracedLake] = None

  protected val spark: SparkSession = ctx.spark
  protected def span[T](n: String)(body: => T): T = ctx.tracer.span(n)(body)
  protected def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    ctx.checks(name, ok, detail)
}

/** One full `Orchestrator.runAll` over a fresh lake per op. */
final class QuantBackfill(c: Ctx) extends Workload(c) {
  val name = "quant-backfill"
  // a fifth of the reference's S&P 500 universe, so the QP (N×N) and the
  // per-ticker rolling OLS outweigh the per-job driver cost
  private val nStocks = 100
  private val window = 252
  private val start = java.time.LocalDate.of(2021, 1, 4)
  private var panel: Gen.Panel = _
  private var last: TracedLake = _
  private var inputs: Seq[DataFrame] = Nil

  def setup(): Unit = {
    // 25 months: the 2·window warm-up of loadings → idio vol → alphas,
    // then about a month of dates the optimizer can solve
    panel = Gen.panel(spark, ctx.seed, nStocks, start, start.plusMonths(25).minusDays(1))
    inputs = Seq(panel.calendarDf(spark), panel.currentDf(spark),
      panel.changesDf(spark), panel.stockBarsDf(spark), panel.etfBarsDf(spark))
  }

  def op(i: Int): Unit = {
    val lake = ctx.freshLake()
    val orch = new Orchestrator(spark, lake, panel.factors, window = window)
    span("pipelines.orchestrator") {
      orch.runAll(inputs(0), inputs(1), inputs(2), inputs(3), inputs(4))
    }
    if (last != null) last.drop("")
    last = lake
  }

  /** Tables present and non-empty, portfolio simplex and coverage against
    * the five optimizer inputs, loadings against the planted B. */
  def finish(): Unit = {
    import spark.implicits._
    val valueCol = Map(Catalog.alphas -> "alpha", Catalog.benchmarkWeights -> "weight",
      Catalog.factorLoadings -> "loading", Catalog.factorCovariances -> "covariance",
      Catalog.idioVol -> "idio_vol")
    val produced = Catalog.all.filterNot(_ == Catalog.portfolioHistory)
    val missing = produced.filterNot(t => last.exists(t.name)).map(_.name)
    // one job: the dates each table holds (for the five optimizer inputs,
    // dates with a non-null value)
    val dates: Map[String, Set[Date]] = produced.filter(t => last.exists(t.name))
      .map { t =>
        val df = last.table(t)
        valueCol.get(t).fold(df)(c => df.na.drop(Seq(c)))
          .select(lit(t.name).as("t"), $"date").distinct()
      }.reduce(_ union _).collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getDate(1)).toSet }
      .withDefaultValue(Set.empty)
    check(s"$name.tables_nonempty", missing.isEmpty &&
      produced.forall(t => dates(t.name).nonEmpty),
      s"missing ${missing.mkString(",")}; empty " +
        produced.map(_.name).filter(dates(_).isEmpty).mkString(","))
    check(s"$name.no_missing_reads", last.missingReads == 0,
      s"${last.missingReads} reads of tables that do not exist")
    val bad = last.table(Catalog.portfolioWeights).groupBy($"date")
      .agg(sum($"weight").as("s"), min($"weight").as("m"))
      .filter(abs($"s" - 1.0) > 1e-6 || $"m" < -1e-9).count()
    check(s"$name.weights_simplex", bad == 0, s"$bad dates with weights off the simplex")
    val covered = valueCol.keys.map(t => dates(t.name)).reduce(_ intersect _)
    val solved = dates(Catalog.portfolioMetrics.name)
    val weighted = dates(Catalog.portfolioWeights.name)
    check(s"$name.covered_dates_solved",
      covered == solved && solved == weighted && solved.nonEmpty,
      s"${covered.size} covered dates, ${solved.size} solved, ${weighted.size} weighted")
    val at = panel.calendar.last
    val got = last.table(Catalog.factorLoadings).filter($"date" === lit(at))
      .collect().map(r => (r.getAs[String]("ticker"), r.getAs[String]("factor"),
        r.getAs[Double]("loading")))
    val worst = got.map { case (t, f, l) => math.abs(l - panel.loadings(t)(f)) }
    check(s"$name.loadings_vs_planted",
      got.length == nStocks * panel.factors.length && worst.max < 0.15,
      s"${got.length} loadings at $at, max |loading - B| = ${worst.maxOption}")
    check(s"$name.returns_rows", last.table(Catalog.stockReturns).count() ==
      nStocks.toLong * (panel.calendar.length - 1), "stock_returns row count")
  }

  override def counters: Map[String, Double] = {
    val conv = last.table(Catalog.portfolioMetrics).select("qp_converged")
      .collect().map(_.getBoolean(0))
    Map("opt.dates_solved" -> conv.length.toDouble,
      "opt.converged_share" -> (if (conv.isEmpty) 0.0 else conv.count(identity).toDouble / conv.length))
  }
  override def lake: Option[TracedLake] = Option(last)
}

/** trim → DSIR top-k → chunk → pack → minhash near-dup over a planted
  * corpus, then an IVF-PQ k-NN search of the twins' embeddings over the
  * whole corpus; every stage is materialized inside its span. No lake. */
final class Curation(c: Ctx) extends Workload(c) {
  val name = "curation"
  private val nDocs = 3000
  private val nTwins = 20
  private val k = 10
  private var corpus: Gen.Corpus = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var twinQueries: DataFrame = _
  private var target: DataFrame = _
  private var twinsFound = 0.0
  private var recall = 0.0

  def setup(): Unit = {
    import spark.implicits._
    Seq(docs, vecs).filter(_ != null).foreach(_.unpersist())
    corpus = Gen.corpus(ctx.seed, nDocs, nTwins)
    docs = corpus.docs.toDF("doc_id", "lang", "text").persist(StorageLevel.MEMORY_AND_DISK)
    vecs = corpus.vectors.toSeq.sortBy(_._1).map { case (id, v) => (id, v.toSeq) }
      .toDF("doc_id", "embedding").persist(StorageLevel.MEMORY_AND_DISK)
    docs.count()
    vecs.count()
    twinQueries = corpus.twins.toSeq.map(_._2).sorted
      .map(id => (id, corpus.vectors(id).toSeq)).toDF("doc_id", "embedding")
    target = corpus.target.toDF("doc_id", "text")
  }

  def op(i: Int): Unit = {
    import spark.implicits._
    import graft.functions.TextFunctions
    import graft.sampling.{Dsir, Sampling}
    val mad = StorageLevel.MEMORY_AND_DISK
    val nClass = corpus.classIds.size
    val trimmed = span("functions.trim") {
      val t = TextFunctions.lineQualityTrim(docs, "doc_id", "text")
        .filter($"n_kept" > 0)
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
        .select($"doc_id", $"lang", $"n_lines", $"n_kept", $"text_kept".as("text"))
        .persist(mad)
      t.count()
      t
    }
    val sel = span("sampling.dsir") {
      val s = Dsir.resampleTopK(trimmed.select($"doc_id", $"text"), target,
        "doc_id", "text", k = nClass).select($"doc_id").persist(mad)
      s.count()
      s
    }
    val chunks = span("functions.chunk") {
      val ch = TextFunctions.chunkTokens(
          trimmed.join(sel, Seq("doc_id"), "left_semi"),
          "doc_id", "text", chunkSize = 16, stride = 12)
        .withColumn("chunk_uid", $"doc_id" * 4L + $"chunk_no")
        .join(trimmed.select($"doc_id", $"lang"), Seq("doc_id"))
        .persist(mad)
      ch.count()
      ch
    }
    val bins = span("sampling.pack") {
      val b = Sampling.packSequences(chunks, "chunk_uid",
          $"n_tokens".cast("long"), budgetTokens = 64, partitionCols = Seq("lang"))
        .groupBy($"lang", $"bin")
        .agg(count(lit(1)).as("n_chunks"), sum($"n_tokens").as("tok"))
        .persist(mad)
      b.count()
      b
    }
    val pairs = span("dedup.minhash") {
      graft.dedup.Dedup.minhashNearDuplicates(trimmed.select($"doc_id", $"text"),
        "doc_id", "text", bands = 8, rowsPerBand = 2)
        .select($"id_a", $"id_b").collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    }
    val hits = span("similarity.search") {
      graft.similarity.Ann.ivfPqTopK(twinQueries, vecs, "doc_id", "embedding", k = k,
          nLists = 16, nProbe = 4, m = 8, ksub = 16, rerank = 100)
        .select($"query_id", $"cand_id").collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    }
    if (i == 0) {
      checkStages(trimmed, sel, chunks, bins, pairs, nClass)
      checkSearch(hits)
    }
    Seq(bins, chunks, sel, trimmed).foreach(_.unpersist())
  }

  private def checkStages(trimmed: DataFrame, sel: DataFrame, chunks: DataFrame,
      bins: DataFrame, pairs: Set[(Long, Long)], k: Int): Unit = {
    import spark.implicits._
    val n = corpus.docs.length.toLong
    val acct = trimmed.agg(sum($"n_lines"), sum($"n_kept"), count(lit(1))).head()
    check(s"$name.trim_accounting", acct.getLong(0) == 4 * n &&
      acct.getLong(1) == 2 * n && acct.getLong(2) == n, s"$acct != (4N, 2N, N), N=$n")
    val picked = sel.collect().map(_.getAs[Number](0).longValue).toSet
    check(s"$name.dsir_selects_class", picked == corpus.classIds,
      s"${picked.size} selected, ${picked.diff(corpus.classIds).size} outside the class")
    val ch = chunks.agg(count(lit(1)), sum(when($"n_tokens" === 16, 0).otherwise(1))).head()
    check(s"$name.chunk_accounting", ch.getLong(0) == 2L * k && ch.getLong(1) == 0L,
      s"$ch != (2k, 0), k=$k")
    val maxBin = bins.groupBy($"lang").agg(max($"bin").as("mx"))
    val nonFinalBad = bins.join(maxBin, Seq("lang"))
      .filter($"bin" < $"mx" && ($"n_chunks" =!= 4 || $"tok" =!= 64)).count()
    val tot = bins.agg(sum($"tok"), sum($"n_chunks")).head()
    check(s"$name.pack_accounting", nonFinalBad == 0 &&
      tot.getLong(0) == 32L * k && tot.getLong(1) == 2L * k,
      s"$nonFinalBad bad non-final bins, totals $tot != (32k, 2k)")
    val found = corpus.twins.count(pairs.contains)
    twinsFound = found.toDouble / corpus.twins.size
    check(s"$name.twins_found", found == corpus.twins.size,
      s"$found of ${corpus.twins.size} planted twins found")
    check(s"$name.no_false_merges", pairs.subsetOf(corpus.twins),
      s"${pairs.diff(corpus.twins).size} pairs are not planted twins")
  }

  /** Every twin's top hits include its original; recall@k against an
    * exact scan of all other documents stays above the floor. */
  private def checkSearch(hits: Array[(Long, Long)]): Unit = {
    val byQuery = hits.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
    val missed = corpus.twins.count { case (o, t) => !byQuery.getOrElse(t, Set.empty)(o) }
    check(s"$name.twin_vectors_found", missed == 0,
      s"$missed of ${corpus.twins.size} twins miss their original in the top $k")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < a.length) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
      d / math.sqrt(na * nb)
    }
    val all = corpus.vectors.toSeq
    recall = corpus.twins.toSeq.map { case (_, t) =>
      val q = corpus.vectors(t)
      val exact = all.filter(_._1 != t).map { case (id, v) => (id, cos(q, v)) }
        .sortBy(x => (-x._2, x._1)).take(k).map(_._1).toSet
      exact.intersect(byQuery.getOrElse(t, Set.empty)).size.toDouble / k
    }.sum / corpus.twins.size
    check(s"$name.recall_floor", recall >= 0.6, f"recall@$k = $recall%.4f")
  }

  def finish(): Unit = Seq(docs, vecs).foreach(_.unpersist())

  override def counters: Map[String, Double] = Map(
    "dedup.twins_found_share" -> twinsFound, "similarity.recall_at_k" -> recall)
}
