package graft

import java.nio.file.Files
import java.sql.Date
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.{Catalog, Lake, TableDef}
import graft.obs.{Span, Trace}
import graft.pipelines.Orchestrator

/** The five round-3 daily incremental flows (prices gate, factor
  * covariances, benchmark, betas, portfolio weights) against a synthetic
  * backfilled lake:
  *  - market-open gate skips cleanly on a non-trading day;
  *  - date-local flows (benchmark, portfolio weights) reproduce the
  *    backfill slice EXACTLY;
  *  - trailing-window flows (covariances, betas) reproduce the raw
  *    statistic exactly at the end date (their EWM smoothing is
  *    deliberately scoped to the daily window, mirroring the reference's
  *    reversal-flow scoping subtlety — see Orchestrator scaladoc);
  *  - every daily upsert is idempotent under PK compaction;
  *  - `runAll` stays inside a job budget on a fresh lake AND re-run over
  *    the lake it left, and the re-run leaves the same rows;
  *  - the concurrent `runAll` / `runAllDaily` read and write exactly what
  *    each flow declares, read a table only after its producer wrote it,
  *    run no Spark job inside a lake read,
  *    and leave every table raw-bit equal to the serial composition of
  *    the public flow calls; a failed flow delivers one payload with its
  *    own error, its dependents never start, and a healthy re-run
  *    converges.
  *
  * Reference: factor_covariances_flow.py:89-110, benchmark_flow.py:95-113,
  * betas_flow.py:119-142, portfolio_weights_flow.py:212-240,
  * stock_prices_flow.py:134-151, __main__.py:22-35.
  */
class OrchestratorDailySpec extends SparkSpec {
  import spark.implicits._

  private val factors = Seq("SPY", "MTUM")
  private val window = 10
  private val nDays = 40
  private val dates = (0 until nDays).map(i =>
    Date.valueOf(java.time.LocalDate.of(2024, 2, 1).plusDays(i.toLong)))
  private val yesterday = dates.last
  private val tickers = (1 to 6).map(i => f"TK$i%02d")

  private def price(t: String, i: Int): Double = {
    val seed = math.abs(t.hashCode) % 89
    80.0 + seed + 12.0 * math.sin(0.07 * (i + seed)) + 0.3 * i +
      3.0 * math.sin(0.31 * i + seed)
  }
  private def bars(ts: Seq[String]): DataFrame =
    (for (t <- ts; i <- dates.indices) yield {
      val c = price(t, i)
      (t, dates(i), c * 0.995, c * 1.01, c * 0.99, c, 1e6, 1e3, c)
    }).toDF("ticker", "date", "open", "high", "low", "close", "volume",
      "trade_count", "vwap")

  private lazy val (lake, orch) = {
    val l = new Lake(spark, Files.createTempDirectory("daily_lake").toString)
    val o = new Orchestrator(spark, l, factors, window = window, halfLife = 5.0)
    o.runAll(dates.toDF("date"), tickers.toDF("ticker"),
      Seq.empty[(Date, String, String)]
        .toDF("effective_date", "ticker", "action"),
      bars(tickers), bars(factors))
    (l, o)
  }

  // backfill snapshots taken before any daily flow rewrites a table
  private lazy val backfillBenchW: Map[String, Double] =
    lake.table(Catalog.benchmarkWeights).filter($"date" === yesterday)
      .collect().map(r => r.getAs[String]("ticker") -> r.getAs[Double]("weight")).toMap
  private lazy val backfillBenchR: Double =
    lake.table(Catalog.benchmarkReturns).filter($"date" === yesterday)
      .collect().head.getAs[Double]("return")
  private lazy val backfillPortW: Map[String, Double] =
    lake.table(Catalog.portfolioWeights).filter($"date" === yesterday)
      .collect().map(r => r.getAs[String]("ticker") -> r.getAs[Double]("weight")).toMap
  private lazy val backfillBetaHist: Map[String, Double] =
    lake.table(Catalog.betas).filter($"date" === yesterday)
      .collect().map(r => r.getAs[String]("ticker") -> r.getAs[Double]("historical_beta")).toMap
  private lazy val backfillReturns: Map[(String, Date), Double] =
    lake.table(Catalog.etfReturns)
      .collect().map(r => (r.getAs[String]("ticker"), r.getAs[Date]("date")) ->
        r.getAs[Double]("return")).toMap

  test("market-open gate: non-trading day is a clean no-op") {
    val holiday = Date.valueOf(yesterday.toLocalDate.plusDays(1))
    val before = Catalog.all.map(t => t.name -> lake.table(t).count()).toMap
    assert(!orch.marketOpen(holiday))
    assert(!orch.runPricesDaily(holiday, bars(tickers), bars(factors)))
    assert(!orch.runFactorCovariancesDaily(holiday))
    assert(!orch.runBenchmarkDaily(holiday))
    assert(!orch.runBetasDaily(holiday))
    assert(!orch.runPortfolioWeightsDaily(holiday))
    Catalog.all.foreach(t => assert(lake.table(t).count() == before(t.name),
      s"${t.name} changed through a closed-market gate"))
    assert(orch.marketOpen(yesterday))
  }

  test("prices daily: gated upsert of yesterday's bars is idempotent") {
    val before = lake.table(Catalog.stockPrices).count()
    assert(orch.runPricesDaily(yesterday, bars(tickers), bars(factors)))
    assert(lake.table(Catalog.stockPrices).count() == before)
    val lastClose = lake.table(Catalog.stockPrices)
      .filter($"date" === yesterday && $"ticker" === "TK01")
      .collect().head.getAs[Double]("close")
    assert(approxEqual(lastClose, price("TK01", nDays - 1)))
  }

  test("portfolio weights daily: single-date solve equals the backfill slice") {
    // runs BEFORE the covariance daily test: the daily chain's covariance
    // recompute deliberately overwrites the last date with window-scoped
    // values (reference semantics), which would perturb this comparison
    val before = lake.table(Catalog.portfolioWeights).count()
    assert(orch.runPortfolioWeightsDaily(yesterday))
    assert(lake.table(Catalog.portfolioWeights).count() == before)
    val daily = lake.table(Catalog.portfolioWeights).filter($"date" === yesterday)
      .collect().map(r => r.getAs[String]("ticker") -> r.getAs[Double]("weight")).toMap
    assert(daily.keySet == backfillPortW.keySet)
    daily.foreach { case (t, w) =>
      assert(approxEqual(w, backfillPortW(t), 1e-6), s"weight($t): $w vs ${backfillPortW(t)}")
    }
    val m = lake.table(Catalog.portfolioMetrics).filter($"date" === yesterday)
      .collect().head
    assert(m.getAs[Boolean]("qp_converged"))
  }

  test("benchmark daily: single-date recompute equals the backfill slice") {
    assert(orch.runBenchmarkDaily(yesterday))
    val daily = lake.table(Catalog.benchmarkWeights).filter($"date" === yesterday)
      .collect().map(r => r.getAs[String]("ticker") -> r.getAs[Double]("weight")).toMap
    assert(daily == backfillBenchW)
    val dailyR = lake.table(Catalog.benchmarkReturns).filter($"date" === yesterday)
      .collect().head.getAs[Double]("return")
    assert(approxEqual(dailyR, backfillBenchR))
    // other dates untouched
    assert(lake.table(Catalog.benchmarkReturns).count() > 1)
  }

  test("betas daily: end-date slice only; raw statistic matches backfill exactly") {
    val before = lake.table(Catalog.betas).count()
    assert(orch.runBetasDaily(yesterday))
    assert(lake.table(Catalog.betas).count() == before) // PK upsert absorbed
    val daily = lake.table(Catalog.betas).filter($"date" === yesterday)
      .collect().map(r => r.getAs[String]("ticker") -> r.getAs[Double]("historical_beta")).toMap
    assert(daily.keySet == backfillBetaHist.keySet)
    // the trailing-2w recompute sees the same `window` rows the backfill
    // saw for the closed-form OLS, so the raw beta is bitwise-comparable
    daily.foreach { case (t, b) =>
      assert(approxEqual(b, backfillBetaHist(t), 1e-9), s"beta($t): $b vs ${backfillBetaHist(t)}")
    }
  }

  test("factor covariances daily: trailing-window recompute emits the end date with the exact raw covariance") {
    assert(orch.runFactorCovariancesDaily(yesterday))
    val daily = lake.table(Catalog.factorCovariances)
      .filter($"date" === yesterday)
      .collect().map(r => (r.getAs[String]("factor_1"), r.getAs[String]("factor_2")) ->
        r.getAs[Double]("covariance")).toMap
    assert(daily.keySet ==
      (for (a <- factors; b <- factors) yield (a, b)).toSet)
    // with exactly `window` trailing dates the rolling cov completes only on
    // the final date and the EWM over that single row is the row itself:
    // the stored value IS the sample covariance of the last `window` returns
    val lastDates = dates.takeRight(window)
    def expectedCov(f1: String, f2: String): Double = {
      val xs = lastDates.map(d => backfillReturns((f1, d)))
      val ys = lastDates.map(d => backfillReturns((f2, d)))
      val mx = xs.sum / xs.size; val my = ys.sum / ys.size
      xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / (xs.size - 1)
    }
    daily.foreach { case ((f1, f2), c) =>
      assert(approxEqual(c, expectedCov(f1, f2), 1e-9), s"cov($f1,$f2)")
    }
    // idempotent on re-run
    val n = lake.table(Catalog.factorCovariances).count()
    assert(orch.runFactorCovariancesDaily(yesterday))
    assert(lake.table(Catalog.factorCovariances).count() == n)
  }

  test("trading daily: gated on today's NYSE session; rebalance frames from last trading date's weights") {
    val today = Date.valueOf("2024-03-13")    // Wednesday — NYSE session
    val saturday = Date.valueOf("2024-03-16") // closed
    val currents = Seq(("TK01", 5000.0), ("ZZZ", 250.0))
      .toDF("ticker", "current_notional")
    val rawOrders = Seq(("o1", "TK01", "buy", 10.0, 100.0, "2024-03-13 10:00:00"))
      .toDF("order_id", "ticker", "side", "filled_qty", "filled_avg_price", "filled_at")
      .selectExpr("order_id", "ticker", "side", "filled_qty",
        "filled_avg_price", "cast(filled_at as timestamp) as filled_at")
    assert(orch.runTradingDaily(saturday, 100000.0, currents, rawOrders).isEmpty)
    val run = orch.runTradingDaily(today, 100000.0, currents, rawOrders).get
    // last trading date in the lake calendar is dates.last — its weights
    // sum to 1 (simplex), so cent-rounded targets sum to the account value
    val tSum = run.targets.agg(sum($"target_notional")).collect().head.getDouble(0)
    assert(math.abs(tSum - 100000.0) < 1.0)
    assert(run.fills.count() == 1)
    assert(run.totals.collect().head.getAs[Double]("total_notional") == 1000.0)
    // a held ticker absent from targets nets out through the coalesced diff
    assert(run.deltas.filter($"ticker" === "ZZZ").collect().head
      .getAs[Double]("notional_delta") == -250.0)
  }

  test("trading daily: ad-hoc closure via extraClosures gates out") {
    // 2024-03-13 is a rule-open NYSE Wednesday; an ad-hoc closure (the
    // reference's exchange calendar carries e.g. mourning days the rules
    // can't derive) must gate the flow exactly like a weekend
    val today = Date.valueOf("2024-03-13")
    val currents = Seq(("TK01", 5000.0)).toDF("ticker", "current_notional")
    val rawOrders = Seq.empty[(String, String, String, Double, Double, String)]
      .toDF("order_id", "ticker", "side", "filled_qty", "filled_avg_price", "filled_at")
      .selectExpr("order_id", "ticker", "side", "filled_qty",
        "filled_avg_price", "cast(filled_at as timestamp) as filled_at")
    assert(orch.runTradingDaily(today, 100000.0, currents, rawOrders,
      extraClosures = Seq(today)).isEmpty)
    assert(orch.runTradingDaily(today, 100000.0, currents, rawOrders,
      extraClosures = Seq(Date.valueOf("2024-03-14"))).nonEmpty)
  }

  test("trading daily on a lake with no calendar history gates out cleanly") {
    val l2 = new Lake(spark, Files.createTempDirectory("empty_trade_lake").toString)
    val o2 = new Orchestrator(spark, l2, factors, window = window, halfLife = 5.0)
    l2.create(Catalog.calendar) // created but empty: no date before today
    l2.create(Catalog.portfolioWeights)
    val res = o2.runTradingDaily(Date.valueOf("2024-03-13"), 1000.0,
      Seq.empty[(String, Double)].toDF("ticker", "current_notional"),
      Seq.empty[(String, String, String, Double, Double, java.sql.Timestamp)]
        .toDF("order_id", "ticker", "side", "filled_qty", "filled_avg_price", "filled_at"))
    assert(res.isEmpty) // gated on missing history, not the weights guard
  }

  test("runAllDaily: end-of-day chain over the backfilled lake completes and stays consistent") {
    val empty = Seq.empty[(Date, String, String)]
      .toDF("effective_date", "ticker", "action")
    // closed market: chain gates out after the calendar/universe rebuild,
    // fact tables untouched
    val pricesBefore = lake.table(Catalog.stockPrices).count()
    assert(!orch.runAllDaily(Date.valueOf(yesterday.toLocalDate.plusDays(1)),
      dates.toDF("date"), tickers.toDF("ticker"), empty,
      bars(tickers), bars(factors)))
    assert(lake.table(Catalog.stockPrices).count() == pricesBefore)
    // open market: the realistic scenario — a backfilled lake plus the new
    // trading day; every stage runs, PK upserts absorb the overlap
    assert(orch.runAllDaily(yesterday, dates.toDF("date"),
      tickers.toDF("ticker"), empty, bars(tickers), bars(factors)))
    assert(lake.table(Catalog.stockPrices).count() == pricesBefore)
    val m = lake.table(Catalog.portfolioMetrics).filter($"date" === yesterday)
      .collect().head
    assert(m.getAs[Boolean]("qp_converged"))
    Catalog.all.filterNot(_.name == "portfolio_history").foreach(t =>
      assert(lake.table(t).count() > 0, s"${t.name} empty after daily chain"))
  }

  test("trading execution daily: gate + lake weights through the imperative loop") {
    // full trading_daily_flow over the backfilled lake: weights at the
    // last trading date drive real orders against the staged broker
    var nowMs = java.time.Instant.parse("2024-03-13T15:00:00Z").toEpochMilli
    val clock = () => new java.sql.Timestamp(nowMs)
    val broker = new graft.trade.StagedBroker(
      equity = 100000.0,
      initialPositions = Seq("ZZZ" -> 250.0), // not in targets → closed? no: target absent ⇒ delta −250 sell
      priceOf = _ => 50.0,
      clock = clock,
      fillAfterPolls = 1)
    val ex = orch.runTradingExecutionDaily(
      Date.valueOf("2024-03-13"), broker, clock, sec => nowMs += sec * 1000L).get
    assert(ex.allFilled)
    // simplex weights scale to ~the account value; every delta ≥ $1 turned
    // into an order, plus the ZZZ unwind (absent from targets → full sell)
    assert(ex.placed.nonEmpty)
    assert(ex.placed.exists { case (t, d) => t == "ZZZ" && d == -250.0 })
    assert(ex.fills.count() == ex.placed.size)
    val notional = ex.fills.agg(sum($"notional")).collect().head.getDouble(0)
    assert(notional > 90000.0, s"fills notional $notional")
    org.json4s.jackson.JsonMethods.parse(ex.payload)
    // closed market gates out before touching the broker
    assert(orch.runTradingExecutionDaily(
      Date.valueOf("2024-03-16"), broker, clock, _ => ()).isEmpty)
  }

  test("failure hook: a failing flow delivers the Slack failure payload and rethrows") {
    // a fresh lake with NO portfolio weights: runTradingDaily trips the
    // reference's weights guard; the hook (slack_failure_handler.py
    // wiring at trading_flow.py:268) must deliver exactly one payload
    // naming the flow, then the flow's own error surfaces unchanged
    val l2 = new Lake(spark, Files.createTempDirectory("hook_lake").toString)
    val delivered = scala.collection.mutable.ArrayBuffer[String]()
    val o2 = new Orchestrator(spark, l2, factors, window = window,
      halfLife = 5.0, onFlowFailure = Some(delivered += _),
      failureChannel = "alerts")
    o2.runCalendar(dates.toDF("date"))
    l2.create(Catalog.portfolioWeights)
    val notionals = Seq.empty[(String, Double)].toDF("ticker", "current_notional")
    val rawOrders = Seq.empty[(Long, String, String, Double, Double, java.sql.Timestamp)]
      .toDF("order_id", "ticker", "side", "filled_qty", "filled_avg_price", "filled_at")
    val monday = Date.valueOf("2024-03-04") // NYSE session
    val e = intercept[IllegalArgumentException] {
      o2.runTradingDaily(monday, 100000.0, notionals, rawOrders)
    }
    assert(e.getMessage.contains("Portfolio weights appear to not be empty!"))
    assert(delivered.size == 1)
    val payload = delivered.head
    assert(payload.contains("\"text\": \"🚨 Flow Failed: trading_daily_flow\""))
    assert(payload.contains("*Error Type:* `IllegalArgumentException`"))
    assert(payload.contains("Portfolio weights appear to not be empty!"))
    assert(payload.contains("\"channel\": \"alerts\""))
    org.json4s.jackson.JsonMethods.parse(payload)
    // the market-closed no-op path (non-local return) is NOT a failure
    val saturday = Date.valueOf("2024-03-02")
    assert(o2.runTradingDaily(saturday, 100000.0, notionals, rawOrders).isEmpty)
    assert(delivered.size == 1)
  }

  test("runAll job budget on a fresh lake and a re-run; the re-run keeps the rows") {
    val l = new Lake(spark, Files.createTempDirectory("rerun_lake").toString)
    val o = new Orchestrator(spark, l, factors, window = window, halfLife = 5.0)
    def run() = Trace.record(spark)(o.runAll(dates.toDF("date"),
      tickers.toDF("ticker"), Seq.empty[(Date, String, String)]
        .toDF("effective_date", "ticker", "action"),
      bars(tickers), bars(factors)))._2
    // each table's rows keyed by primary key (values compared to 1e-12 —
    // shuffle order may move the last bit of a sum between runs)
    def snapshot() = Catalog.all.filter(t => l.exists(t.name)).map { t =>
      val df = l.table(t)
      val cols = t.primaryKeys ++ df.columns.filterNot(t.primaryKeys.contains)
      val rs = df.select(cols.map(col): _*).collect()
        .map(r => r.toSeq.take(t.primaryKeys.size) -> r.toSeq.drop(t.primaryKeys.size))
      t.name -> (rs.length, rs.toMap)
    }.toMap
    def same(a: Any, b: Any) = (a, b) match {
      case (x: Double, y: Double) => approxEqual(x, y, 1e-12)
      case _ => a == b
    }
    val fresh = run()
    val first = snapshot()
    val again = run()
    val second = snapshot()
    info(s"runAll jobs: fresh ${fresh.total.jobs}, re-run ${again.total.jobs}")
    // measured 73 and 77 jobs with the one-pass factor model, schema-declared
    // reads and one write per replace-mode table (the one-write upsert took
    // 99 and 106, create + append + optimize upserts 165 and 152); the
    // margin of 3 covers adaptive-execution jobs that vary between runs
    assert(fresh.total.jobs <= 76, s"fresh runAll: ${fresh.total.jobs} jobs")
    assert(again.total.jobs <= 80, s"re-run runAll: ${again.total.jobs} jobs")
    assert(first.keySet == second.keySet && first.size == Catalog.all.size - 1)
    first.foreach { case (name, (n, rows)) =>
      val (n2, rows2) = second(name)
      assert(n == rows.size && n2 == n && rows2.keySet == rows.keySet,
        s"$name: row count or keys changed on re-run")
      rows.foreach { case (k, v) =>
        assert(v.zip(rows2(k)).forall { case (a, b) => same(a, b) },
          s"$name: $k changed on re-run: $v vs ${rows2(k)}")
      }
    }
  }

  private def emptyChanges = Seq.empty[(Date, String, String)]
    .toDF("effective_date", "ticker", "action")
  private def runAllOn(o: Orchestrator): Unit =
    o.runAll(dates.toDF("date"), tickers.toDF("ticker"), emptyChanges,
      bars(tickers), bars(factors))
  private def runAllDailyOn(o: Orchestrator, day: Date): Boolean =
    o.runAllDaily(day, dates.toDF("date"), tickers.toDF("ticker"), emptyChanges,
      bars(tickers), bars(factors))
  private def declared(o: Orchestrator, daily: Boolean) =
    o.flows(if (daily) Some(yesterday) else None, dates.toDF("date"),
      tickers.toDF("ticker"), emptyChanges, bars(tickers), bars(factors))

  /** Every table's rows, sorted, doubles as their raw bits. */
  private def rawRows(l: Lake): Map[String, Seq[String]] =
    Catalog.all.filter(t => l.exists(t.name)).map { t =>
      val df = l.table(t)
      t.name -> df.select(df.columns.sorted.map(col): _*).collect().toSeq
        .map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToRawLongBits(d).toHexString
          case v => String.valueOf(v)
        }.mkString("|")).sorted
    }.toMap

  /** The public flow calls in the pre-scheduler serial order, on a fresh
    * lake: rows after the backfill, then after one daily chain. */
  private lazy val serialRows: (Map[String, Seq[String]], Map[String, Seq[String]]) = {
    val l = new Lake(spark, Files.createTempDirectory("serial_lake").toString)
    val o = new Orchestrator(spark, l, factors, window = window, halfLife = 5.0)
    o.runCalendar(dates.toDF("date"))
    o.runUniverse(tickers.toDF("ticker"), emptyChanges)
    o.runPrices(bars(tickers), bars(factors))
    o.runReturns()
    o.runFactorModel()
    o.runFactorCovariances()
    o.runReversal()
    o.runBenchmark()
    o.runBetas()
    o.runPortfolioWeights()
    val backfill = rawRows(l)
    o.runCalendar(dates.toDF("date"))
    o.runUniverse(tickers.toDF("ticker"), emptyChanges)
    assert(o.marketOpen(yesterday))
    assert(o.runPricesDaily(yesterday, bars(tickers), bars(factors)))
    o.runReturns()
    o.runFactorModelDaily(yesterday)
    assert(o.runFactorCovariancesDaily(yesterday))
    o.runReversalDaily(yesterday)
    assert(o.runBenchmarkDaily(yesterday))
    assert(o.runBetasDaily(yesterday))
    assert(o.runPortfolioWeightsDaily(yesterday))
    (backfill, rawRows(l))
  }

  import OrchestratorDailySpec.{Op, RecordingLake}

  /** Run `body` recorded; the span tree and each lake op with the flow
    * whose `pipelines.<flow>` span it ran under ("" outside every flow). */
  private def observe[T](l: RecordingLake)(body: => T): (T, Span, Seq[(String, Op)]) = {
    l.log.clear()
    val (r, root) = Trace.record(spark)(body)
    val flowOf = root.children.filter(_.name.startsWith("pipelines."))
      .flatMap(c => c.walk.map(_.id.toString -> c.name.stripPrefix("pipelines.")))
      .toMap
    (r, root, l.log.asScala.toSeq.map(op => flowOf.getOrElse(op.span, "") -> op))
  }

  /** Each flow wrote exactly what it declares and read exactly what it
    * declares (plus tables it wrote itself); each read of another flow's
    * table started after that flow's last write of it ended. */
  private def assertDeclared(fs: Seq[Orchestrator.Flow], seen: Seq[(String, Op)]): Unit = {
    val ran = seen.map(_._1).filter(_.nonEmpty).toSet
    assert(ran == fs.map(_.name).toSet, s"flows seen: $ran")
    fs.foreach { f =>
      val ops = seen.filter(_._1 == f.name).map(_._2)
      val writes = ops.filter(_.kind != "read").map(_.table).toSet
      val reads = ops.filter(_.kind == "read").map(_.table).toSet
      assert(writes == f.writes.map(_.name).toSet, s"${f.name} wrote $writes")
      assert(reads -- writes == f.reads.map(_.name).toSet, s"${f.name} read $reads")
    }
    val producer = fs.flatMap(f => f.writes.map(_.name -> f.name)).toMap
    for ((f, r) <- seen if r.kind == "read"; p <- producer.get(r.table) if p != f) {
      val written = seen.collect { case (`p`, w) if w.kind != "read" && w.table == r.table => w.endNs }
      assert(written.nonEmpty && r.startNs >= written.max,
        s"$f read ${r.table} before $p finished writing it")
    }
  }

  private lazy val recorded = {
    val l = new RecordingLake(spark, Files.createTempDirectory("flows_lake").toString)
    val o = new Orchestrator(spark, l, factors, window = window, halfLife = 5.0)
    val backfill = observe(l)(runAllOn(o))
    val backfillRows = rawRows(l)
    val closed = observe(l)(runAllDailyOn(o, Date.valueOf(yesterday.toLocalDate.plusDays(1))))
    val daily = observe(l)(runAllDailyOn(o, yesterday))
    (o, backfill, backfillRows, closed, daily, rawRows(l))
  }

  test("runAll / runAllDaily read and write exactly the tables each flow declares, " +
      "each read after its producer's write; one pipelines.<flow> span per flow") {
    val (o, (_, root, seen), _, (open, _, closedSeen), (ran, dailyRoot, dailySeen), _) = recorded
    val fs = declared(o, daily = false)
    assertDeclared(fs, seen)
    assert(seen.forall(_._1.nonEmpty), "a lake op outside every flow")
    // one child span per flow (plus the drain); the flows carry every job
    assert(root.children.map(_.name).sorted ==
      (fs.map("pipelines." + _.name) :+ "trace.drain").sorted)
    assert(root.self.jobs == 0 &&
      root.children.map(_.total.jobs).sum == root.total.jobs && root.total.jobs > 0)
    // a read only plans: it resolves against the declared schema, so no
    // schema-inference job runs on the flow's thread
    Seq(root, dailyRoot).foreach { r =>
      val reads = r.walk.filter(_.name == "lake.read").toSeq
      assert(reads.nonEmpty && reads.forall(_.total.jobs == 0),
        s"lake.read spans with jobs: ${reads.filter(_.total.jobs > 0).map(_.tag)}")
    }
    // daily: the calendar, the gate's one calendar read on the calling
    // thread, then the declared DAG; a closed day rebuilds only the
    // calendar and the universe
    assert(ran && !open)
    val dfs = declared(o, daily = true)
    assertDeclared(dfs, dailySeen)
    assertDeclared(dfs.filter(f => f.name == "calendar" || f.name == "universe"), closedSeen)
    Seq(dailySeen, closedSeen).foreach(s =>
      assert(s.filter(_._1.isEmpty).map(o => (o._2.kind, o._2.table)) == Seq(("read", "calendar"))))
  }

  test("runAll and runAllDaily leave every table raw-bit equal to the serial flow calls") {
    val (serialBackfill, serialDaily) = serialRows
    val (_, _, backfillRows, _, _, dailyRows) = recorded
    Seq(backfillRows -> serialBackfill, dailyRows -> serialDaily).foreach { case (got, want) =>
      assert(got.keySet == want.keySet)
      want.foreach { case (t, rows) => assert(got(t) == rows, s"$t differs from the serial run") }
    }
  }

  test("a failed flow: one payload with its own error, its dependents never start, " +
      "and a healthy re-run converges to the serial rows") {
    val l = new RecordingLake(spark, Files.createTempDirectory("fail_lake").toString)
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val o = new Orchestrator(spark, l, factors, window = window, halfLife = 5.0,
      onFlowFailure = Some(delivered.add(_)))
    runAllOn(o)
    l.failUpsertOf = Some(Catalog.idioVol.name)
    val (e, root, seen) = observe(l)(intercept[UnsupportedOperationException] {
      runAllDailyOn(o, yesterday)
    })
    assert(e.getMessage == "planted failure: upsert of idio_vol")
    assert(delivered.size == 1)
    val payload = delivered.peek()
    assert(payload.contains("Flow Failed: daily_flow"))
    assert(payload.contains("*Error Type:* `UnsupportedOperationException`"))
    assert(payload.contains("planted failure: upsert of idio_vol"))
    val started = root.children.map(_.name).toSet
    assert(started("pipelines.factor_model"))
    assert(!started("pipelines.reversal") && !started("pipelines.portfolio"), started)
    assert(!seen.exists { case (f, op) => f == "reversal" || f == "portfolio" ||
      (op.kind == "read" && Set("idio_vol", "alphas").contains(op.table)) })
    l.failUpsertOf = None
    assert(runAllDailyOn(o, yesterday))
    val got = rawRows(l)
    val want = serialRows._2
    assert(got.keySet == want.keySet)
    want.foreach { case (t, rows) => assert(got(t) == rows, s"$t differs from the serial run") }
  }
}

object OrchestratorDailySpec {
  /** One lake call: its kind, table, the calling thread's span id and its
    * start and end (`System.nanoTime`). */
  final case class Op(kind: String, table: String, span: String, startNs: Long, endNs: Long)

  /** A lake that logs every table read and write, and can plant a failure
    * in the upsert of one table. */
  final class RecordingLake(spark: SparkSession, root: String) extends Lake(spark, root) {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    @volatile var failUpsertOf: Option[String] = None

    private def rec[T](kind: String, t: TableDef)(body: => T): T = {
      val span = spark.sparkContext.getLocalProperty("graft.span")
      val t0 = System.nanoTime()
      try body finally log.add(Op(kind, t.name, span, t0, System.nanoTime()))
    }
    override def table(t: TableDef, keepVersion: Boolean): DataFrame =
      rec("read", t)(super.table(t, keepVersion))
    override def tableSlice(t: TableDef, partitions: Seq[String],
        keepVersion: Boolean): DataFrame =
      rec("read", t)(super.tableSlice(t, partitions, keepVersion))
    override def latest(t: TableDef): DataFrame = rec("read", t)(super.latest(t))
    override def create(t: TableDef, replace: Boolean): Boolean =
      rec("create", t)(super.create(t, replace))
    override def replace(t: TableDef, df: DataFrame, version: Long): Unit =
      rec("replace", t)(super.replace(t, df, version))
    override def append(t: TableDef, df: DataFrame, version: Long): Unit =
      rec("append", t)(super.append(t, df, version))
    override def upsert(t: TableDef, df: DataFrame, version: Long,
        partitions: Seq[String]): Unit = rec("upsert", t) {
      if (failUpsertOf.contains(t.name))
        throw new UnsupportedOperationException(s"planted failure: upsert of ${t.name}")
      super.upsert(t, df, version, partitions)
    }
  }
}
