package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dag.GateArms
import graft.lake.{Catalog, Lake, TableDef}
import graft.opt.PortfolioOptimizer

/** The frames produced by one daily trading run (trading_flow.py's task
  * outputs): rebalance targets/close-list/deltas plus the fill summary. */
final case class TradingRun(
    targets: DataFrame,
    toClose: DataFrame,
    deltas: DataFrame,
    fills: DataFrame,
    topTrades: DataFrame,
    totals: DataFrame)

/** The full daily DAG as plain Scala orchestration — the Spark-first
  * replacement for the reference's Prefect flow chain
  * (/root/reference/pipelines/__main__.py:22-35): each stage is a pure
  * function over catalog tables with idempotent upsert writes: each is ONE
  * merge-write (existing ∪ new rows, newest row per primary key, written
  * once — [[Lake.upsert]]), scoped to the touched year partitions on the
  * daily path.
  *
  * [[runAll]] and [[runAllDaily]] schedule the stages from their declared
  * table reads and writes ([[Orchestrator.Flow]]): a flow starts, on its
  * own driver thread and inside a `pipelines.<flow>` [[graft.obs.Trace]]
  * span, once every flow that writes a table it reads has finished, so
  * the three branches after returns (factor model → reversal, factor
  * covariances, benchmark → betas) and the calendar → universe chain run
  * beside each other ([[graft.dag.GateArms]]). The first flow to fail is
  * rethrown with its own exception; flows still running are cancelled and
  * a flow whose input's producer failed never starts.
  *
  * External ingestion (brokerage bars, Wikipedia constituents, NYSE
  * calendar) arrives as staged DataFrames — the engine's contract starts at
  * parquet (SURVEY §7.0).
  */
class Orchestrator(
    spark: SparkSession,
    lake: Lake,
    factors: Seq[String],
    window: Int = 252,
    halfLife: Double = 60.0,
    ic: Double = 0.05,
    targetActiveRisk: Double = 0.05,
    onFlowFailure: Option[String => Unit] = None,
    failureChannel: String = "trading") {

  import spark.implicits._

  /** slack_failure_handler.py:106-148 `create_failure_handler`, as an
    * engine hook: run `body` as the named flow; on any throwable, format
    * the failure payload (graft.trade.SlackFailure) and hand it to the
    * injected consumer — webhook transport stays out-of-engine — then
    * rethrow the flow's own error. A consumer failure never masks it
    * (the reference's "don't let the handler failure break the flow"). */
  private def guarded[T](flowName: String)(body: => T): T =
    try body catch {
      // NonFatal: a `return` inside the flow body (the market-closed
      // no-op path) travels as ControlThrowable and is NOT a failure;
      // fatal VM errors shouldn't attempt payload assembly either
      case scala.util.control.NonFatal(e) =>
        onFlowFailure.foreach { deliver =>
          try deliver(graft.trade.SlackFailure.fromThrowable(
            flowName, e, channel = failureChannel))
          catch {
            case h: Throwable =>
              println(s"Error in Slack failure hook: ${h.getMessage}")
          }
        }
        throw e
    }

  /** calendar_flow: replace-mode calendar table. */
  def runCalendar(calendarDates: DataFrame): Unit = {
    lake.create(Catalog.calendar, replace = true)
    lake.append(Catalog.calendar, calendarDates.select($"date"))
    calCache = None // the scalars below derive from the table just rewritten
  }

  /** Every calendar scalar one daily-chain run needs, fetched in a SINGLE
    * batched job and memoized until the calendar table is rewritten: the
    * unfiltered last market date (the market-open gate) plus, for each
    * lookback n the chain uses, the min of the last n trading dates ≤
    * `end` (≡ `trailingDates(cal.filter(date <= end), n).agg(min)`).
    * Issued separately these are six one-row agg jobs per chain run, each
    * serializing the driver between stages (round-6 advisory). The
    * calendar is tiny by construction (one row per trading day — ~25k
    * rows per century), so the single-partition rank window is safe at
    * any data scale. */
  private final case class CalScalars(
      lastAll: java.sql.Date, starts: Map[Int, java.sql.Date])
  // filled on the calling thread (the daily gate) before the flows fan out
  @volatile private var calCache: Option[(java.sql.Date, Set[Int], CalScalars)] = None

  private def calScalars(end: java.sql.Date, lookbacks: Set[Int]): CalScalars =
    calCache match {
      case Some((e, lbs, s)) if e == end && lookbacks.subsetOf(lbs) => s
      case _ =>
        val need = (lookbacks ++ Set(21, window, 2 * window)).toSeq.sorted
        val cal = lake.table(Catalog.calendar).select($"date")
        val ranked = cal.filter($"date" <= lit(end)).withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy($"date".desc)))
        val mins = need.map(n => min(when($"rn" <= n, $"date")).as(s"s$n"))
        val row = cal.agg(max($"date").as("last_all"))
          .crossJoin(ranked.agg(mins.head, mins.tail: _*))
          .collect().head
        val s = CalScalars(row.getDate(0),
          need.zipWithIndex.map { case (n, i) => n -> row.getDate(i + 1) }.toMap)
        calCache = Some((end, need.toSet, s))
        s
    }

  /** universe_flow: membership reconstruction from the change log. */
  def runUniverse(currentConstituents: DataFrame, changes: DataFrame): Unit = {
    val uni = Universe.reconstruct(currentConstituents, changes,
      lake.table(Catalog.calendar))
    lake.create(Catalog.universe, replace = true)
    lake.append(Catalog.universe, uni)
  }

  /** stock/etf price ingestion: upsert staged bars. */
  def runPrices(stockBars: DataFrame, etfBars: DataFrame): Unit = {
    def withYear(df: DataFrame) = df.withColumn("year", year($"date"))
    lake.upsert(Catalog.stockPrices, withYear(stockBars))
    lake.upsert(Catalog.etfPrices, withYear(etfBars))
  }

  /** returns_flow: replace-mode simple returns. */
  def runReturns(): Unit = {
    val sr = Quant.materializeReturns(lake.table(Catalog.stockPrices))
    val er = Quant.materializeReturns(lake.table(Catalog.etfPrices))
    lake.create(Catalog.stockReturns, replace = true)
    lake.append(Catalog.stockReturns, sr)
    lake.create(Catalog.etfReturns, replace = true)
    lake.append(Catalog.etfReturns, er)
  }

  /** factor_model_flow: loadings + idio vol. */
  def runFactorModel(): Unit = {
    val (loadings, idio) = Quant.factorModel(
      lake.table(Catalog.stockReturns), lake.table(Catalog.etfReturns),
      factors, window, halfLife)
    lake.upsert(Catalog.factorLoadings, loadings)
    lake.upsert(Catalog.idioVol, idio)
  }

  /** factor_covariances_flow. */
  def runFactorCovariances(): Unit =
    lake.upsert(Catalog.factorCovariances,
      Quant.factorCovariances(lake.table(Catalog.etfReturns), window, halfLife))

  /** reversal_flow: signal → score → alpha chain. Scoring filters to the
    * reversal signal rows — the signals table's PK includes the signal name
    * so other signals can coexist without contaminating this z-score. */
  def runReversal(): Unit = {
    val signals = Quant.reversalSignals(lake.table(Catalog.stockReturns))
    lake.upsert(Catalog.signals, signals)
    val scores = Quant.reversalScores(
      lake.table(Catalog.signals).filter($"signal" === "reversal"))
    lake.upsert(Catalog.scores, scores)
    val alphas = Quant.reversalAlphas(
      lake.table(Catalog.scores), lake.table(Catalog.idioVol), ic)
    lake.upsert(Catalog.alphas, alphas)
  }

  /** benchmark_flow: universe-gated equal-weight benchmark. The left join
    * KEEPS members with a missing return (reference get_universe_returns) —
    * they count in the 1/N denominator; the Σ w·r sum skips their null
    * contribution, exactly like Polars' null-skipping sum. */
  def runBenchmark(): Unit = {
    val universeReturns = lake.table(Catalog.universe)
      .select($"date", $"ticker")
      .join(lake.table(Catalog.stockReturns).select($"date", $"ticker", $"return"),
        Seq("date", "ticker"), "left")
    val w = Quant.benchmarkWeights(universeReturns)
    lake.upsert(Catalog.benchmarkWeights, w)
    lake.upsert(Catalog.benchmarkReturns,
      Quant.benchmarkReturns(universeReturns, w))
  }

  /** betas_flow. */
  def runBetas(): Unit =
    lake.upsert(Catalog.betas, Quant.betas(
      lake.table(Catalog.stockReturns), lake.table(Catalog.benchmarkReturns),
      window, halfLife))

  /** portfolio_weights_flow: per-date mean-variance fan-out. */
  def runPortfolioWeights(): Unit = {
    val alphas = lake.table(Catalog.alphas).na.drop(Seq("alpha"))
    val combined = PortfolioOptimizer.optimizeAllDates(
      alphas,
      lake.table(Catalog.benchmarkWeights),
      lake.table(Catalog.factorLoadings).na.drop(Seq("loading")),
      lake.table(Catalog.factorCovariances).na.drop(Seq("covariance")),
      lake.table(Catalog.idioVol).na.drop(Seq("idio_vol")),
      targetActiveRisk).cache()
    lake.upsert(Catalog.portfolioWeights, PortfolioOptimizer.weights(combined))
    lake.upsert(Catalog.portfolioMetrics, PortfolioOptimizer.metrics(combined))
    combined.unpersist()
  }

  /** portfolio_history_flow.py:24-83: staged 1-minute equity snapshots
    * (epoch seconds) → UTC timestamps, upserted on the timestamp PK. */
  def runPortfolioHistory(equitySnapshots: DataFrame): Unit = {
    val decoded = equitySnapshots
      .select(timestamp_seconds($"epoch_s").as("timestamp"), $"equity")
    lake.upsert(Catalog.portfolioHistory, decoded)
  }

  /** utils/calendar.py:8-13: last market date = max(calendar.date) — the
    * calendar table ends at "yesterday" (calendar_backfill_flow). */
  def lastMarketDate(): java.sql.Date =
    lake.table(Catalog.calendar).agg(max($"date")).collect().head.getDate(0)

  /** The gate shared by every *_daily_flow in the reference (e.g.
    * stock_prices_flow.py:136-144): proceed only when `yesterday` IS the
    * calendar's last market date; otherwise log and skip — a holiday or
    * weekend run is a clean no-op, not an error. */
  def marketOpen(yesterday: java.sql.Date): Boolean = {
    // through the batched fetch: in a daily chain the gate re-checks in
    // every flow, and this makes all of them (plus the window starts) one
    // memoized job instead of a driver round-trip each
    val last = calScalars(yesterday, Set.empty).lastAll
    val open = last == yesterday
    if (!open) {
      println("Market was not open yesterday!")
      println(s"Last Market Date: $last")
      println(s"Yesterday: $yesterday")
    }
    open
  }

  /** The year partitions spanning `dates` — a daily upsert's scope. */
  private def years(dates: java.sql.Date*): Seq[String] = {
    val ys = dates.map(_.toLocalDate.getYear)
    (ys.min to ys.max).map(y => s"year=$y")
  }

  /** stock_prices_flow.py:134-151 / etf_prices (same shape): the daily
    * price upsert, gated on market-open. The reference fetches only
    * yesterday's bars ([00:00, 23:59]); with ingestion staged as frames
    * (SURVEY §7.0) that fetch range is the `date === yesterday` slice.
    * @return true iff the market was open and the upsert ran */
  def runPricesDaily(yesterday: java.sql.Date,
      stockBars: DataFrame, etfBars: DataFrame): Boolean = {
    if (!marketOpen(yesterday)) return false
    def day(df: DataFrame) = df.filter($"date" === lit(yesterday))
      .withColumn("year", year($"date"))
    lake.upsert(Catalog.stockPrices, day(stockBars), partitions = years(yesterday))
    lake.upsert(Catalog.etfPrices, day(etfBars), partitions = years(yesterday))
    true
  }

  /** factor_covariances_flow.py:89-110: recompute the trailing `window`
    * trading days and upsert the WHOLE recomputed slice — the reference
    * uploads the full clean output without a date filter (the PK upsert
    * dedups overlap), unlike betas_daily which slices to the end date. */
  def runFactorCovariancesDaily(yesterday: java.sql.Date): Boolean = {
    if (!marketOpen(yesterday)) return false
    // gate passed ⇒ max(calendar) == yesterday, so the ≤-yesterday-filtered
    // trailing window equals the reference's unfiltered one
    val start = calScalars(yesterday, Set(window)).starts(window)
    val er = lake.table(Catalog.etfReturns)
      .filter($"date".between(lit(start), lit(yesterday)))
    val cov = Quant.factorCovariances(er, window, halfLife)
    lake.upsert(Catalog.factorCovariances, cov, partitions = years(start, yesterday))
    true
  }

  /** benchmark_flow.py:95-113: single-date universe returns → weights +
    * benchmark return for that date only. */
  def runBenchmarkDaily(yesterday: java.sql.Date): Boolean = {
    if (!marketOpen(yesterday)) return false
    val universeReturns = lake.table(Catalog.universe)
      .filter($"date" === lit(yesterday))
      .select($"date", $"ticker")
      .join(lake.table(Catalog.stockReturns)
        .filter($"date" === lit(yesterday))
        .select($"date", $"ticker", $"return"),
        Seq("date", "ticker"), "left")
    val w = Quant.benchmarkWeights(universeReturns)
    lake.upsert(Catalog.benchmarkWeights, w, partitions = years(yesterday))
    // benchmark_returns is unpartitioned (one row per date) — full merge
    lake.upsert(Catalog.benchmarkReturns, Quant.benchmarkReturns(universeReturns, w))
    true
  }

  /** betas_flow.py:119-142: recompute the trailing `2·window` days, slice
    * the cleaned betas to the end date, upsert. */
  def runBetasDaily(yesterday: java.sql.Date): Boolean = {
    if (!marketOpen(yesterday)) return false
    val start = calScalars(yesterday, Set(window * 2)).starts(window * 2)
    val sr = lake.table(Catalog.stockReturns)
      .filter($"date".between(lit(start), lit(yesterday)))
    val br = lake.table(Catalog.benchmarkReturns)
      .filter($"date".between(lit(start), lit(yesterday)))
    val b = Quant.betas(sr, br, window, halfLife)
      .filter($"date" === lit(yesterday))
    lake.upsert(Catalog.betas, b, partitions = years(yesterday))
    true
  }

  /** portfolio_weights_flow.py:212-240: single-date mean-variance solve
    * from single-date slices of every input table. */
  def runPortfolioWeightsDaily(yesterday: java.sql.Date): Boolean = {
    if (!marketOpen(yesterday)) return false
    def at(t: graft.lake.TableDef) =
      lake.table(t).filter($"date" === lit(yesterday))
    val combined = PortfolioOptimizer.optimizeAllDates(
      at(Catalog.alphas).na.drop(Seq("alpha")),
      at(Catalog.benchmarkWeights),
      at(Catalog.factorLoadings).na.drop(Seq("loading")),
      at(Catalog.factorCovariances).na.drop(Seq("covariance")),
      at(Catalog.idioVol).na.drop(Seq("idio_vol")),
      targetActiveRisk).cache()
    lake.upsert(Catalog.portfolioWeights, PortfolioOptimizer.weights(combined),
      partitions = years(yesterday))
    lake.upsert(Catalog.portfolioMetrics, PortfolioOptimizer.metrics(combined))
    combined.unpersist()
    true
  }

  /** trading_flow.py:267-299 (+173-244): the relational spine of the daily
    * trading flow. Gate differs from the data flows: TODAY must be a
    * trading session (`market_is_open`, checked against the NYSE rules
    * directly — the calendar table ends at yesterday); the rebalance is
    * driven by the LAST trading date's portfolio weights. Brokerage I/O
    * (submit/cancel/poll) stays outside the engine; its staged outputs —
    * current notionals and the raw filled-orders dump — arrive as frames.
    * @param extraClosures ad-hoc non-rule closures (e.g. the 2025-01-09
    *        national day of mourning) the rule calendar can't derive; the
    *        reference's `market_is_open` consults the exchange calendar,
    *        which includes such days
    * @return None when the market is closed today, else the full set of
    *         frames the flow's side effects consume */
  /** The trading-flow prologue shared by [[runTradingDaily]] and
    * [[runTradingExecutionDaily]]: the today-is-a-session NYSE gate
    * (trading_flow.py:271-275), the last-trading-date lookup, and the
    * weights fetch with the reference's non-empty guard (verbatim
    * message, trading_flow.py:280-281). None ⇒ a clean gated no-op. */
  private def tradingGateWeights(
      today: java.sql.Date,
      extraClosures: Seq[java.sql.Date]): Option[DataFrame] = {
    val open = graft.sources.Ingest.nyseCalendar(spark, today, today,
      extraClosures = extraClosures).count() > 0
    if (!open) {
      println("Market is not open today!")
      println("Ending flow.")
      return None
    }
    val lastTrading = lake.table(Catalog.calendar)
      .filter($"date" < lit(today))
      .agg(max($"date")).collect().head.getDate(0)
    if (lastTrading == null) {
      // fresh lake with no calendar history before today — gate out with
      // the real cause instead of tripping the empty-weights guard below
      println(s"No market date before $today in the calendar — ending flow.")
      return None
    }
    val weights = lake.table(Catalog.portfolioWeights)
      .filter($"date" === lit(lastTrading)).select($"ticker", $"weight")
    require(weights.limit(1).count() > 0,
      "Portfolio weights appear to not be empty!")
    Some(weights)
  }

  /** trading_flow.py:267-299 END-TO-END: the gate + weights prologue
    * feeding the IMPERATIVE execution loop ([[graft.trade.TradingLoop]])
    * against a brokerage client — cancel stale orders, liquidate the
    * close list, place per-delta market orders, poll to terminal states,
    * extract today's fills, format the Slack summary. This is the full
    * reference daily trading flow; [[runTradingDaily]] remains the
    * staged-I/O relational variant (S9 fixtures in, frames out). Same
    * failure hook. */
  def runTradingExecutionDaily(
      today: java.sql.Date,
      broker: graft.trade.BrokerClient,
      clock: () => java.sql.Timestamp,
      sleep: Int => Unit,
      previousAccountValue: Option[Double] = None,
      extraClosures: Seq[java.sql.Date] = Nil,
      channel: String = "trading"): Option[graft.trade.TradingExecution] =
    guarded("trading_daily_flow") {
      tradingGateWeights(today, extraClosures).map { weights =>
        new graft.trade.TradingLoop(spark, broker, clock, sleep)
          .execute(weights, previousAccountValue, channel)
      }
    }

  def runTradingDaily(
      today: java.sql.Date,
      accountValue: Double,
      currentNotionals: DataFrame,
      rawOrders: DataFrame,
      extraClosures: Seq[java.sql.Date] = Nil): Option[TradingRun] = guarded("trading_daily_flow") {
    val weights = tradingGateWeights(today, extraClosures) match {
      case Some(w) => w
      case None => return None
    }
    val targets = graft.trade.TradingDiff.targetNotionals(weights, accountValue)
    val toClose = graft.trade.TradingDiff.positionsToClose(targets, currentNotionals)
    val deltas = graft.trade.TradingDiff.notionalDeltas(targets, currentNotionals, toClose)
    val fills = graft.trade.TradingDiff.extractFills(rawOrders)
    Some(TradingRun(targets, toClose, deltas, fills,
      graft.trade.TradingDiff.topTrades(fills),
      graft.trade.TradingDiff.notionalTotals(fills)))
  }

  /** The reference's daily incremental pattern (SURVEY §2.11 / §4
    * "key-range incremental recomputation"): recompute only the trailing
    * `lookback` trading days, slice to the target date, upsert — the merge
    * scoped to the touched year partition. This is what makes the daily
    * DAG O(window), not O(history), at any table size.
    *
    * Example — the factor-model daily flow
    * (factor_model_flow.py:177-202). */
  def runFactorModelDaily(endDate: java.sql.Date): Unit = {
    val lookback = window * 2
    val dates = calScalars(endDate, Set(lookback)).starts(lookback)
    val sr = lake.table(Catalog.stockReturns).filter($"date".between(lit(dates), lit(endDate)))
    val er = lake.table(Catalog.etfReturns).filter($"date".between(lit(dates), lit(endDate)))
    val (loadings, idio) = Quant.factorModel(sr, er, factors, window, halfLife)
    lake.upsert(Catalog.factorLoadings, loadings.filter($"date" === lit(endDate)),
      partitions = years(endDate))
    lake.upsert(Catalog.idioVol, idio.filter($"date" === lit(endDate)),
      partitions = years(endDate))
  }

  /** reversal_flow.py:163-194 — the daily reversal chain. Note the
    * reference's scoping subtlety (SURVEY §7.4.4): the daily flow reads
    * only the trailing 21 trading days, so the rolling sum completes only
    * on the final date and the z-score is effectively CROSS-SECTIONAL over
    * that date — a different (deliberate) semantics from the backfill's
    * whole-panel z-score. Replicated exactly, including the non-empty
    * guard. */
  def runReversalDaily(endDate: java.sql.Date, signalWindow: Int = 21): Unit = {
    val startDate = calScalars(endDate, Set(signalWindow)).starts(signalWindow)
    val sr = lake.table(Catalog.stockReturns)
      .filter($"date".between(lit(startDate), lit(endDate)))
    val iv = lake.table(Catalog.idioVol)
      .filter($"date".between(lit(startDate), lit(endDate)))
    import org.apache.spark.storage.StorageLevel
    // the z-score sums in the slice's row order: sorting the one-date slice
    // keeps the daily scores bit-stable (reversalSignals itself is unsorted)
    val signals = Quant.reversalSignals(sr, signalWindow)
      .filter($"date" === lit(endDate)).orderBy($"ticker")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val scores = Quant.reversalScores(signals).filter($"date" === lit(endDate))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val alphas = Quant.reversalAlphas(scores, iv, ic)
      .filter($"date" === lit(endDate)).persist(StorageLevel.MEMORY_AND_DISK)
    // reference's guard (reversal_flow.py:189-190); alphas is non-empty iff
    // the whole chain is (each stage preserves rows), and the persists keep
    // the guard counts + the writes from recomputing the chain
    require(alphas.count() > 0, "No values found!")
    Seq((Catalog.signals, signals), (Catalog.scores, scores),
      (Catalog.alphas, alphas)).foreach { case (t, df) =>
      lake.upsert(t, df, partitions = years(endDate))
      df.unpersist()
    }
  }

  /** The DAG's flows and what each declares it reads and writes; the
    * daily forms (`daily = Some(yesterday)`) replace the backfill bodies
    * where the reference has a *_daily_flow. A flow may re-read a table
    * it writes (reversal reads back its signals and scores); only reads
    * of another flow's tables order it. */
  private[graft] def flows(
      daily: Option[java.sql.Date],
      calendarDates: DataFrame,
      currentConstituents: DataFrame,
      changes: DataFrame,
      stockBars: DataFrame,
      etfBars: DataFrame): Seq[Orchestrator.Flow] = {
    import Catalog._
    import Orchestrator.Flow
    def either(backfill: => Unit)(day: java.sql.Date => Any): () => Unit =
      () => daily.fold(backfill)(d => { day(d); () })
    Seq(
      Flow("calendar", Nil, Seq(calendar), () => runCalendar(calendarDates)),
      Flow("universe", Seq(calendar), Seq(universe),
        () => runUniverse(currentConstituents, changes)),
      Flow("prices", Nil, Seq(stockPrices, etfPrices),
        either(runPrices(stockBars, etfBars))(runPricesDaily(_, stockBars, etfBars))),
      Flow("returns", Seq(stockPrices, etfPrices), Seq(stockReturns, etfReturns),
        () => runReturns()),
      Flow("factor_model", Seq(stockReturns, etfReturns), Seq(factorLoadings, idioVol),
        either(runFactorModel())(runFactorModelDaily)),
      Flow("factor_covariances", Seq(etfReturns), Seq(factorCovariances),
        either(runFactorCovariances())(runFactorCovariancesDaily)),
      Flow("reversal", Seq(stockReturns, idioVol), Seq(signals, scores, alphas),
        either(runReversal())(runReversalDaily(_))),
      Flow("benchmark", Seq(universe, stockReturns), Seq(benchmarkWeights, benchmarkReturns),
        either(runBenchmark())(runBenchmarkDaily)),
      Flow("betas", Seq(stockReturns, benchmarkReturns), Seq(betas),
        either(runBetas())(runBetasDaily)),
      Flow("portfolio",
        Seq(alphas, benchmarkWeights, factorLoadings, factorCovariances, idioVol),
        Seq(portfolioWeights, portfolioMetrics),
        either(runPortfolioWeights())(runPortfolioWeightsDaily)))
  }

  /** Run `fs`, each once every flow writing a table it reads has finished;
    * the first failure surfaces as the failing flow's own exception. */
  private def runFlows(fs: Seq[Orchestrator.Flow]): Unit = {
    def arm(f: Orchestrator.Flow) = s"pipelines.${f.name}"
    val writer = fs.flatMap(f => f.writes.map(_.name -> f)).toMap
    require(writer.size == fs.map(_.writes.size).sum, "a table has two writing flows")
    try GateArms.run(fs.map(f => arm(f) -> f.body), after = fs.map(f => arm(f) ->
      f.reads.flatMap(t => writer.get(t.name)).filter(_ ne f).map(arm).toSet).toMap)
    catch { case e: GateArms.ArmFailed => throw e.getCause }
  }

  /** The whole backfill DAG ([[flows]]), scheduled from its reads and
    * writes. */
  def runAll(
      calendarDates: DataFrame,
      currentConstituents: DataFrame,
      changes: DataFrame,
      stockBars: DataFrame,
      etfBars: DataFrame): Unit =
    runFlows(flows(None, calendarDates, currentConstituents, changes, stockBars, etfBars))

  /** __main__.py:22-35 `daily_flow`: the calendar rebuild, the market-open
    * gate, then the rest of the daily DAG ([[flows]]) scheduled from its
    * reads and writes — the universe rebuild (backfill-mode even in the
    * daily chain, __main__.py:24-25), returns rebuild (replace-mode,
    * __main__.py:28) and the gated incremental flows. The gate is checked
    * once here (in the reference each flow re-checks the identical
    * predicate; here their re-checks read the scalars it cached). Returns
    * false — having rebuilt only the calendar and the universe, touching
    * no fact table — when yesterday wasn't a trading day. */
  def runAllDaily(
      yesterday: java.sql.Date,
      calendarDates: DataFrame,
      currentConstituents: DataFrame,
      changes: DataFrame,
      stockBars: DataFrame,
      etfBars: DataFrame): Boolean = guarded("daily_flow") {
    // the reference attaches the failure hook to the TOP-LEVEL daily flow
    // (__main__.py:22) — one payload per failed chain, not one per stage
    val (cal, rest) = flows(Some(yesterday), calendarDates, currentConstituents,
      changes, stockBars, etfBars).partition(_.name == "calendar")
    runFlows(cal)
    val open = marketOpen(yesterday)
    runFlows(if (open) rest else rest.filter(_.name == "universe"))
    open
  }
}

object Orchestrator {
  /** One flow of the daily DAG: its name (its span is `pipelines.<name>`),
    * the [[Catalog]] tables it reads and writes, and its body. */
  final case class Flow(name: String, reads: Seq[TableDef], writes: Seq[TableDef],
      body: () => Unit)
}
