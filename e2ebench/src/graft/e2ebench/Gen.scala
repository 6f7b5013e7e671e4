package graft.e2ebench

import java.sql.Date
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded inputs with planted truths. Everything the programs under test
  * receive is built here from the seed; the truths stay on this side. */
object Gen {

  type Bar = (String, Date, Double, Double, Double, Double, Double, Double, Double)

  /** A price panel whose returns follow r = B·f + ε with planted B.
    * @param calendar trading days, ascending
    * @param loadings planted B, ticker → factor → loading
    * @param current today's constituents
    * @param changes (effective_date, ticker, action): adds and removes */
  final case class Panel(
      calendar: IndexedSeq[Date],
      tickers: IndexedSeq[String],
      factors: IndexedSeq[String],
      loadings: Map[String, Map[String, Double]],
      stockBars: IndexedSeq[Bar],
      etfBars: IndexedSeq[Bar],
      current: IndexedSeq[String],
      changes: IndexedSeq[(Date, String, String)]) {

    def stockBarsDf(spark: SparkSession): DataFrame = bars(spark, stockBars)
    def etfBarsDf(spark: SparkSession): DataFrame = bars(spark, etfBars)
    def calendarDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      calendar.toDF("date")
    }
    def currentDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      current.toDF("ticker")
    }
    def changesDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      changes.toDF("effective_date", "ticker", "action")
    }
    private def bars(spark: SparkSession, rows: IndexedSeq[Bar]): DataFrame = {
      import spark.implicits._
      rows.toDF("ticker", "date", "open", "high", "low", "close", "volume",
        "trade_count", "vwap")
    }
  }

  val FactorEtfs: IndexedSeq[String] = IndexedSeq("SPY", "MTUM", "QUAL", "USMV", "VLUE")

  def panel(spark: SparkSession, seed: Long, nStocks: Int,
      start: java.time.LocalDate, end: java.time.LocalDate): Panel = {
    val rnd = new scala.util.Random(seed)
    val calendar = graft.sources.Ingest.nyseCalendar(spark,
        Date.valueOf(start), Date.valueOf(end))
      .collect().map(_.getAs[Date]("date")).sortBy(_.getTime).toIndexedSeq
    val tickers = (0 until nStocks).map(i => f"S$i%03d")
    val factors = FactorEtfs
    val loadings = tickers.map { t =>
      t -> factors.zipWithIndex.map { case (f, k) =>
        f -> (if (k == 0) 0.6 + 0.8 * rnd.nextDouble() else rnd.nextDouble() - 0.5)
      }.toMap
    }.toMap
    val nDays = calendar.length
    val fRet = Array.fill(nDays, factors.length)(
      0.0003 + 0.01 * rnd.nextGaussian())
    def priceSeries(base: Double, ret: Int => Double): Array[Double] = {
      val p = new Array[Double](nDays)
      p(0) = base
      (1 until nDays).foreach(d => p(d) = p(d - 1) * (1.0 + ret(d)))
      p
    }
    def toBars(t: String, p: Array[Double]): IndexedSeq[Bar] =
      calendar.indices.map { d =>
        val c = p(d)
        (t, calendar(d), c * 0.998, c * 1.01, c * 0.99, c,
          1e6 + (d % 7) * 1e4, 1e3, c * 1.001)
      }
    val etfBars = factors.indices.flatMap(k =>
      toBars(factors(k), priceSeries(100.0 + 20 * k, d => fRet(d)(k))))
    val stockBars = tickers.flatMap { t =>
      val b = factors.map(loadings(t))
      val eps = Array.fill(nDays)(0.004 * rnd.nextGaussian())
      toBars(t, priceSeries(20.0 + 80.0 * rnd.nextDouble(), d =>
        b.indices.map(k => b(k) * fRet(d)(k)).sum + eps(d)))
    }
    // change log: the last four tickers joined mid-history (Added), four
    // former members left (Removed) and are not current constituents
    val added = tickers.takeRight(4)
    val removed = tickers.slice(nStocks - 8, nStocks - 4)
    val mid = nDays / 2
    val changes = added.zipWithIndex.map { case (t, i) =>
      (calendar(mid + 10 * i), t, "Added") } ++
      removed.zipWithIndex.map { case (t, i) =>
        (calendar(mid / 2 + 15 * i), t, "Removed") }
    Panel(calendar, tickers, factors, loadings, stockBars, etfBars,
      tickers.filterNot(removed.contains), changes)
  }

  /** Curation corpus in the four-line planted-class shape: lines 0 and 2
    * are 14-word lines ending in '.', lines 1 and 3 fail the line-quality
    * rules, so trimming keeps exactly 2 of 4 lines. Class docs draw from a
    * disjoint 64-word vocabulary (DSIR must select exactly them). Twins
    * repeat a background doc's text with its last word replaced, so their
    * trimmed texts share 25 of 27 word 3-shingles with the original, and
    * carry the original's embedding plus small noise. Embeddings are drawn
    * around `nCenters` random directions.
    * @param docs (doc_id, lang, text)
    * @param vectors doc_id → embedding, one per doc
    * @param target (doc_id, text): the DSIR target sample
    * @param twins planted (original, twin) pairs */
  final case class Corpus(docs: IndexedSeq[(Long, String, String)],
      vectors: Map[Long, Array[Double]],
      target: IndexedSeq[(Long, String)], classIds: Set[Long],
      twins: Set[(Long, Long)])

  private def word(rnd: scala.util.Random, pool: String, vocab: Int): String =
    pool + Integer.toString(rnd.nextInt(vocab), 26).map(c =>
      if (c.isDigit) ('a' + (c - '0')).toChar else (c + 10).toChar)

  private def keepLine(rnd: scala.util.Random, pool: String, vocab: Int): String =
    (0 until 14).map(_ => word(rnd, pool, vocab)).mkString(" ") + "."

  def corpus(seed: Long, nDocs: Int, nTwins: Int, dim: Int = 16,
      nCenters: Int = 32): Corpus = {
    val rnd = new scala.util.Random(seed)
    def isClass(id: Long) = id % 100 == 7
    def text(l0: String, l2: String) =
      Seq(l0, "no terminal punctuation here", l2, "x y").mkString("\n")
    val base = (0L until nDocs.toLong).map { id =>
      val (pool, vocab) = if (isClass(id)) ("t", 64) else ("b", 256)
      (id, "l" + (id % 3), text(keepLine(rnd, pool, vocab),
        keepLine(rnd, pool, vocab)))
    }
    val centers = Array.fill(nCenters, dim)(rnd.nextGaussian())
    val baseVecs = base.map { case (id, _, _) =>
      id -> centers(rnd.nextInt(nCenters)).map(_ + 0.35 * rnd.nextGaussian())
    }.toMap
    val background = base.filterNot(d => isClass(d._1))
    val originals = rnd.shuffle(background).take(nTwins).sortBy(_._1)
    val twinIds = Iterator.from(nDocs).map(_.toLong).filterNot(isClass)
    val twins = originals.map { case (id, lang, t) =>
      val tid = twinIds.next()
      val lines = t.split("\n")
      val l2 = lines(2).split(" ")
      l2(l2.length - 1) = "zz" + word(rnd, "q", 1 << 20) + "."
      lines(2) = l2.mkString(" ")
      ((id, tid), (tid, lang, lines.mkString("\n")),
        tid -> baseVecs(id).map(_ + 0.01 * rnd.nextGaussian()))
    }
    val target = (0L until math.max(64, nDocs / 50).toLong).map(i =>
      (2000000000L + i, keepLine(rnd, "t", 64) + "\n" + keepLine(rnd, "t", 64)))
    Corpus(base ++ twins.map(_._2), baseVecs ++ twins.map(_._3), target,
      base.map(_._1).filter(isClass).toSet, twins.map(_._1).toSet)
  }
}
