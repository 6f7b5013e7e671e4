package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.dedup.Dedup
import graft.pipelines.Quant
import graft.similarity.Ann
import graft.trade.TradingDiff

/** Robustness: every pipeline/operator must handle empty inputs without
  * throwing (the reference's empty-result fallback contract, S5). */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def empty(fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  test("returns/signals/scores on empty prices") {
    val prices = empty("ticker" -> StringType, "date" -> DateType,
      "close" -> DoubleType)
    val r = Quant.materializeReturns(prices)
    assert(r.count() == 0)
    assert(Quant.reversalSignals(r).count() == 0)
    assert(Quant.reversalScores(Quant.reversalSignals(r)).count() == 0)
  }

  test("factor model on empty returns") {
    val rets = empty("ticker" -> StringType, "date" -> DateType,
      "return" -> DoubleType)
    val (l, iv) = Quant.factorModel(rets, rets, Seq("F1"), 10)
    assert(l.count() == 0 && iv.count() == 0)
  }

  test("dedup family on empty corpus") {
    val docs = empty("doc_id" -> LongType, "text" -> StringType)
    assert(Dedup.exactDuplicates(docs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashNearDuplicates(docs, "doc_id", "text").count() == 0)
    assert(Dedup.simhashNearDuplicates(docs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardNearDuplicates(docs, "doc_id", "text").count() == 0)
    assert(Dedup.allPairsJaccard(docs, "doc_id", "text").count() == 0)
  }

  test("allPairsJaccard on a single-doc / whitespace-only corpus") {
    val one = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(Dedup.allPairsJaccard(one, "doc_id", "text").count() == 0)
    val blank = Seq((1L, "   "), (2L, "")).toDF("doc_id", "text")
    assert(Dedup.allPairsJaccard(blank, "doc_id", "text").count() == 0)
  }

  test("ANN on empty query/candidate sets") {
    val vecs = empty("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType))
    assert(Ann.bruteForceTopK(vecs, vecs, "vec_id", "embedding", 5).count() == 0)
    assert(Ann.lshTopK(vecs, vecs, "vec_id", "embedding", 5).count() == 0)
  }

  test("trading diff with empty current positions") {
    val targets = Seq(("AAPL", 500.0)).toDF("ticker", "target_notional")
    val currents = empty("ticker" -> StringType, "current_notional" -> DoubleType)
    val toClose = TradingDiff.positionsToClose(targets, currents)
    assert(toClose.count() == 0)
    val deltas = TradingDiff.notionalDeltas(targets, currents, toClose)
    assert(deltas.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("AAPL", 500.0)))
  }

  test("allPairsCosine on empty / single-vector corpora") {
    val vecs = empty("vec_id" -> LongType, "embedding" -> ArrayType(FloatType))
    assert(Dedup.allPairsCosine(vecs, "vec_id", "embedding", 0.5).count() == 0)
    val one = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Dedup.allPairsCosine(one, "vec_id", "embedding", 0.5).count() == 0)
  }

  test("fills extraction and summaries on empty raw orders") {
    val raw = empty("order_id" -> StringType, "ticker" -> StringType,
      "side" -> StringType, "filled_qty" -> DoubleType,
      "filled_avg_price" -> DoubleType, "filled_at" -> TimestampType)
    val fills = TradingDiff.extractFills(raw)
    assert(fills.count() == 0)
    assert(TradingDiff.topTrades(fills).count() == 0)
    val t = TradingDiff.notionalTotals(fills).collect().head
    assert(t.getDouble(0) == 0.0 && t.getDouble(1) == 0.0 && t.getDouble(2) == 0.0)
    assert(TradingDiff.currentPositions(
      empty("ticker" -> StringType, "value" -> DoubleType)).count() == 0)
  }

  test("html table extraction on table-free and malformed input") {
    assert(graft.sources.Ingest.htmlTables("<html><body>no tables</body></html>").isEmpty)
    assert(graft.sources.Ingest.htmlTables("").isEmpty)
    // unterminated table: the non-greedy regex finds no complete match
    assert(graft.sources.Ingest.htmlTables("<table><tr><td>x</td></tr>").isEmpty)
  }

  test("asof join with empty sides") {
    val probes = empty("k" -> LongType, "t" -> TimestampType, "rid" -> LongType)
    val quotes = empty("k" -> LongType, "t" -> TimestampType, "qv" -> LongType)
    assert(graft.ops.AsofJoin.backward(probes, quotes,
      Seq("k"), "t", Seq("qv")).count() == 0)
    // empty right side: left rows survive with null as-of columns
    val p1 = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L))
      .toDF("k", "t", "rid")
    val out = graft.ops.AsofJoin.backward(p1, quotes, Seq("k"), "t", Seq("qv"))
      .collect()
    assert(out.length == 1 && out.head.isNullAt(out.head.fieldIndex("asof_qv")))
  }

  test("sessionize and packing on empty inputs") {
    val e = empty("user_id" -> LongType, "ts" -> TimestampType)
    assert(graft.ops.Sessions.sessionStats(e, "user_id", "ts", 600).count() == 0)
    val d = empty("doc_id" -> LongType, "lang" -> StringType, "n" -> IntegerType)
    assert(graft.sampling.Sampling.packSequences(
      d, "doc_id", org.apache.spark.sql.functions.col("n"), 100, Seq("lang")).count() == 0)
    assert(graft.sampling.Sampling.stratifiedSample(
      d, "doc_id", "lang", Map("en" -> 0.5), 0.5).count() == 0)
  }

  test("round-8 text ops on empty and degenerate inputs") {
    val d = empty("doc_id" -> LongType, "text" -> StringType)
    assert(graft.functions.TextFunctions.bm25Scores(
      d, "doc_id", "text", Seq("a")).count() == 0)
    assert(graft.functions.TextFunctions.bigramLogScore(
      d, "doc_id", "text", minCount = 5L).count() == 0)
    assert(graft.dedup.Dedup.lineDedup(d, "doc_id", "text",
      graft.dedup.Dedup.Chunker.Newline).count() == 0)
    assert(graft.dedup.Dedup.lineDedup(d, "doc_id", "text",
      graft.dedup.Dedup.Chunker.Paragraph).count() == 0)
    // a corpus whose every doc is token-less: bm25's avgdl stat has no
    // rows to average — must yield an empty result, not a null-division
    // row
    val blank = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    assert(graft.functions.TextFunctions.bm25Scores(
      blank, "doc_id", "text", Seq("a")).count() == 0)
    // normalizeText on empty string stays empty (not null)
    val n = Seq((1L, "")).toDF("doc_id", "text")
      .select(graft.functions.TextFunctions.normalizeText(
        org.apache.spark.sql.functions.col("text")).as("c")).collect()
    assert(n.head.getString(0) == "")
  }

  test("round-9 ops on empty and degenerate inputs") {
    import org.apache.spark.sql.functions.col
    val d = empty("doc_id" -> LongType, "text" -> StringType)
    assert(graft.dedup.Dedup.exactSubstringDedup(d, "doc_id", "text", 3)
      .count() == 0)
    assert(graft.functions.TextFunctions.charEntropy(d, "doc_id", "text")
      .count() == 0)
    assert(graft.functions.TextFunctions.gopherRepetition(d, "doc_id", "text")
      .count() == 0)
    // token-less corpus: absent from every per-doc relation, no throws
    val blank = Seq((1L, ""), (2L, "  \n  ")).toDF("doc_id", "text")
    assert(graft.dedup.Dedup.exactSubstringDedup(blank, "doc_id", "text", 3)
      .count() == 0)
    assert(graft.functions.TextFunctions.gopherRepetition(blank, "doc_id", "text")
      .count() == 0)
    // whitespace-only text still has characters -> entropy rows exist
    assert(graft.functions.TextFunctions.charEntropy(blank, "doc_id", "text")
      .count() == 1)
    // budget sample over an empty corpus: empty, no 0/0 weight rows
    val s = empty("doc_id" -> LongType, "text" -> StringType,
      "source" -> StringType)
    assert(graft.sampling.Sampling.budgetSample(s, "doc_id", "source",
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long"),
      100L).count() == 0)
    // incremental span batch over an empty batch: empty result, empty
    // store append, no throw
    val dir = java.nio.file.Files.createTempDirectory("spemempty").toString
    val incr = new graft.dedup.IncrementalDedup.Span(
      new graft.lake.Lake(spark, dir), prefix = "se", n = 3)
    assert(incr.process(d, "doc_id", "text", 1L).count() == 0)
    assert(spark.read.parquet(s"$dir/se_span_grams").count() == 0)
  }

  test("round-12 ops on empty and degenerate inputs") {
    import graft.functions.TextFunctions
    import graft.sampling.Dsir
    val docs = empty("doc_id" -> LongType, "text" -> StringType)
    val target = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    // empty raw pool: no feature rows, no weights, empty selection
    assert(Dsir.featureBuckets(docs, "doc_id", "text").count() == 0)
    assert(Dsir.importanceWeights(docs, target, "doc_id", "text").count() == 0)
    assert(Dsir.resampleTopK(docs, target, "doc_id", "text", 5).count() == 0)
    // empty TARGET sample: every raw bucket gets target_count 0 — the
    // weights are all-negative but defined, one row per doc
    val raw = Seq((1L, "alpha beta"), (2L, "")).toDF("doc_id", "text")
    val wEmptyTarget = Dsir.importanceWeights(raw, docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
    assert(wEmptyTarget.length == 2 &&
      wEmptyTarget(0).getDouble(2) < 0 && wEmptyTarget(1).getDouble(2) == 0.0)
    // frozen-model scoring with an empty model: everything scores 0
    val m0 = Dsir.fitModel(docs, target, "doc_id", "text")
    assert(m0.buckets.isEmpty)
    val s0 = Dsir.scoreWithModel(raw, "doc_id", "text", m0)
      .orderBy($"doc_id").collect()
    assert(s0.forall(r => r.getLong(1) == 0L && r.getDouble(2) == 0.0))
    // chunking / trimming on empty frames and whitespace-only docs
    assert(TextFunctions.chunkTokens(docs, "doc_id", "text", 8, 4)
      .count() == 0)
    assert(TextFunctions.lineQualityTrim(docs, "doc_id", "text")
      .count() == 0)
    val blank = Seq((1L, "   "), (2L, "")).toDF("doc_id", "text")
    assert(TextFunctions.chunkTokens(blank, "doc_id", "text", 8, 4)
      .count() == 0)
    val trimmed = TextFunctions.lineQualityTrim(blank, "doc_id", "text")
      .orderBy($"doc_id").collect()
    assert(trimmed.forall(r => r.getLong(2) == 0L && r.getString(3) == ""))
    // NULL text follows the empty-string contract exactly (1/0/''),
    // never null counts a downstream n_kept > 0 filter would drop
    // without accounting (r12 ADVICE)
    val withNullText = Seq((1L, null.asInstanceOf[String]), (2L, ""))
      .toDF("doc_id", "text")
    val tn = TextFunctions.lineQualityTrim(withNullText, "doc_id", "text")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(tn.toSeq == Seq((1L, 1L, 0L, ""), (2L, 1L, 0L, "")),
      s"null-text contract broke: ${tn.toSeq}")
  }

  test("nyse calendar over a closed-only span") {
    // 2024-03-16/17 is a weekend — empty session list, no throw
    val cal = graft.sources.Ingest.nyseCalendar(spark,
      java.sql.Date.valueOf("2024-03-16"), java.sql.Date.valueOf("2024-03-17"))
    assert(cal.count() == 0)
  }

  test("semanticPairsLocal on empty and edge-only inputs (round-14 " +
      "driver pair generation)") {
    import graft.dedup.Dedup
    assert(Dedup.semanticPairsLocal(Seq.empty, 0.95, 16).contains(Seq()))
    // a lone zero-norm row: singleton rep, no pairs, no cap trip
    val zero = IndexedSeq.fill(4)(java.lang.Double.valueOf(0.0))
    assert(Dedup.semanticPairsLocal(Seq((1L, zero, 0, true)), 0.95, 16)
      .contains(Seq()))
    assert(Dedup.lastSemanticCap == ((0L, 0L)))
    // pair-work bound: an over-work cell returns None (distributed
    // fallback), never a truncated pair set
    val rows = (0 until 40).map { i =>
      (i.toLong, IndexedSeq.tabulate(4)(d =>
        java.lang.Double.valueOf(if (d == 0) 1.0 else 0.001 * i)), 0,
        true)
    }
    assert(Dedup.semanticPairsLocal(rows, 0.5, 1000, maxPairWork = 10L)
      .isEmpty)
  }
}
