package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.{RollingOls, TimeSeries}

/** The quant pipelines — Spark-first re-expressions of the reference flows.
  * All are pure `DataFrame => DataFrame` functions over the catalog tables;
  * every rolling/EWM op matches the Polars/pandas semantics golden-tested
  * in ScalaTest (null until window full; EWM adjust=True, half-life form).
  *
  * Outputs that only feed a lake upsert are left unsorted: the upsert's
  * merge re-partitions on the primary key, so a global sort there would be
  * a sampling job and a range shuffle whose order nothing keeps. Frames
  * written by a replace (returns) keep their sort, which sets the files'
  * row order.
  *
  * Citations: /root/reference/pipelines/{returns,factor_model,
  * factor_covariances,reversal,benchmark,betas}_flow.py.
  */
object Quant {

  /** returns_flow.py:15-24: simple returns per ticker, first row dropped. */
  def materializeReturns(prices: DataFrame): DataFrame = {
    val s = prices.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"ticker").orderBy($"date")
    prices
      .select($"ticker", $"date", year($"date").as("year"),
        TimeSeries.pctChange($"close", w).as("return"))
      .na.drop(Seq("return"))
      .orderBy($"ticker", $"date")
  }

  /** factor_model_flow.py:13-104: per-ticker rolling OLS of stock returns on
    * wide factor (ETF) returns; EWM-smoothed long loadings + idio vol.
    *
    * Reference subtleties preserved:
    *  - tickers with fewer than `window` rows are dropped entirely (the
    *    reference's short-ticker branch builds a frame but `continue`s
    *    without appending it — factor_model_flow.py:29-40);
    *  - loadings are unpivoted, renamed B_<f> → <f>, then EWM(hl=60)
    *    smoothed per (ticker, factor) — leading nulls ride through;
    *  - idio_vol = rolling_std(residual, window) then EWM(hl=60) per ticker.
    *
    * Both are projections of one per-ticker pass ([[factorFit]]).
    *
    * @return (factorLoadings(ticker,date,year,factor,loading),
    *          idioVol(ticker,date,year,idio_vol))
    */
  def factorModel(
      stockReturns: DataFrame,
      etfReturns: DataFrame,
      factors: Seq[String],
      window: Int,
      halfLife: Double = 60.0): (DataFrame, DataFrame) = {
    val fit = factorFit(stockReturns, etfReturns, factors, window, halfLife)
    (factorLoadings(fit, factors), idioVol(fit))
  }

  /** The factor model's one pass ([[RollingOls.smoothedFit]]) over the
    * panel: per ticker and date, each factor's smoothed loading (a column
    * named after the factor) and `idio_vol`. */
  def factorFit(
      stockReturns: DataFrame,
      etfReturns: DataFrame,
      factors: Seq[String],
      window: Int,
      halfLife: Double = 60.0): DataFrame =
    RollingOls.smoothedFit(factorPanel(stockReturns, etfReturns, factors),
      "ticker", "date", "return", factors, window, halfLife, fittedOnly = false)

  /** [[factorFit]]'s loadings in long form. */
  def factorLoadings(fit: DataFrame, factors: Seq[String]): DataFrame =
    fit.unpivot(Array(col("ticker"), col("date")), factors.map(col).toArray,
        "factor", "loading")
      .select(col("ticker"), col("date"), year(col("date")).as("year"),
        col("factor"), col("loading"))

  /** [[factorFit]]'s idio vol. */
  def idioVol(fit: DataFrame): DataFrame =
    fit.select(col("ticker"), col("date"), year(col("date")).as("year"), col("idio_vol"))

  /** J2: panel × wide factor returns (small: dates × K — broadcast). */
  private def factorPanel(stockReturns: DataFrame, etfReturns: DataFrame,
      factors: Seq[String]): DataFrame = {
    val wide = etfReturns.groupBy(col("date"))
      .pivot("ticker", factors).agg(first(col("return")))
    stockReturns.select(col("ticker"), col("date"), col("return"))
      .join(broadcast(wide), Seq("date"), "left")
  }

  /** [[factorModel]] as the window composition it replaced: a count
    * window, [[RollingOls.rollingOls]], an unpivot with an EWM window per
    * (ticker, factor), and a rolling std + EWM window per ticker. Kept as
    * the reference the one-pass operator is tested against. */
  private[graft] def factorModelComposed(
      stockReturns: DataFrame,
      etfReturns: DataFrame,
      factors: Seq[String],
      window: Int,
      halfLife: Double = 60.0): (DataFrame, DataFrame) = {
    val s = stockReturns.sparkSession
    import s.implicits._
    GraftFunctions.register(s)
    val panel = factorPanel(stockReturns, etfReturns, factors)

    // drop short tickers (reference drops them from the output entirely)
    val cnt = Window.partitionBy($"ticker")
    val eligible = panel.withColumn("__n", count(lit(1)).over(cnt))
      .filter($"__n" >= window).drop("__n")

    val fitted = RollingOls.rollingOls(eligible, Seq("ticker"), Seq("date"),
      "return", factors, window)

    // loadings: wide → long, factor renamed, EWM smoothed per (ticker,factor)
    val long = fitted.unpivot(
      Array($"ticker", $"date"),
      factors.map(f => col(s"b_$f")).toArray,
      "factor", "loading_raw")
      .withColumn("factor", regexp_replace($"factor", "^b_", ""))
    val wl = Window.partitionBy($"ticker", $"factor").orderBy($"date")
    val loadings = long
      .withColumn("loading", GraftFunctions.ewm_mean($"loading_raw", halfLife).over(wl))
      .select($"ticker", $"date", year($"date").as("year"), $"factor", $"loading")

    // idio vol: rolling std of residual, EWM smoothed
    val wt = Window.partitionBy($"ticker").orderBy($"date")
    val idio = fitted
      .withColumn("vol_raw", TimeSeries.rollingStd($"residual", wt, window))
      .withColumn("idio_vol", GraftFunctions.ewm_mean($"vol_raw", halfLife).over(wt))
      .select($"ticker", $"date", year($"date").as("year"), $"idio_vol")
    (loadings, idio)
  }

  /** factor_covariances_flow.py:10-46: full K×K rolling covariance matrix
    * per date (pandas rolling(window, min_periods=window).cov() semantics),
    * long form, EWM(hl=60) smoothed per pair. Self-join of the long factor
    * series replaces the pandas pivot — K is tiny so the join is a
    * broadcast; the window pass is one shuffle on (factor_1, factor_2). */
  def factorCovariances(
      etfReturns: DataFrame,
      window: Int,
      halfLife: Double = 60.0): DataFrame = {
    val s = etfReturns.sparkSession
    import s.implicits._
    GraftFunctions.register(s)
    // Densify to the union-date × factor grid first: the pandas reference
    // pivots on the union of dates, so a date where one ETF lacks data
    // still occupies a window SLOT (and nulls every window containing it);
    // a naive co-presence join would silently skip that date and let the
    // trailing window span extra calendar rows.
    val dates = etfReturns.select($"date").distinct()
    val facts = etfReturns.select($"ticker").distinct()
    val grid = dates.crossJoin(broadcast(facts))
      .join(etfReturns.select($"ticker", $"date", $"return"),
        Seq("ticker", "date"), "left")
    val a = grid.select($"ticker".as("factor_1"), $"date", $"return".as("r1"))
    val b = grid.select($"ticker".as("factor_2"), $"date", $"return".as("r2"))
    val pairs = a.join(b, Seq("date")) // all ordered pairs incl. diagonal
    val w = Window.partitionBy($"factor_1", $"factor_2").orderBy($"date")
    // The reference drop_nulls the WIDE pair frame (factor_covariances_flow
    // .py:30-46): a date where ANY pair's rolling covariance is null (one
    // factor incomplete in the trailing window) is dropped for ALL pairs —
    // including complete ones like var(F1) — before the EWM pass. Replicate
    // with a per-date any-null flag; K² pairs per date, so the date window
    // is cheap.
    val wd = Window.partitionBy($"date")
    val cov = pairs
      .withColumn("cov_raw", TimeSeries.rollingCovar($"r1", $"r2", w, window))
      .withColumn("__any_null",
        max(when($"cov_raw".isNull, 1).otherwise(0)).over(wd))
      .filter($"__any_null" === 0).drop("__any_null")
    cov
      .withColumn("covariance", GraftFunctions.ewm_mean($"cov_raw", halfLife).over(w))
      .select($"date", year($"date").as("year"), $"factor_1", $"factor_2", $"covariance")
  }

  /** reversal_flow.py:12-29: 21-day reversal signal, null-guarded, long. */
  def reversalSignals(stockReturns: DataFrame, windowSize: Int = 21): DataFrame = {
    val s = stockReturns.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"ticker").orderBy($"date")
    stockReturns
      .select($"ticker", $"date", year($"date").as("year"),
        lit("reversal").as("signal"),
        TimeSeries.rollingSum(log1p($"return"), w, windowSize)
          .multiply(-1).as("value"))
      .na.drop()
  }

  /** reversal_flow.py:33-43: GLOBAL panel z-score (no per-date grouping —
    * deliberate, SURVEY §7.4.4). */
  def reversalScores(signals: DataFrame, signalName: String = "reversal"): DataFrame = {
    val s = signals.sparkSession
    import s.implicits._
    TimeSeries.zscoreGlobalAgg(signals, "value", "score")
      .select($"ticker", $"date", year($"date").as("year"),
        lit(signalName).as("signal"), $"score")
  }

  /** reversal_flow.py:47-58: alpha = IC · score · idio_vol. */
  def reversalAlphas(
      scores: DataFrame, idioVol: DataFrame,
      ic: Double = 0.05, signalName: String = "reversal"): DataFrame = {
    val s = scores.sparkSession
    import s.implicits._
    scores.join(idioVol.select($"ticker", $"date", $"idio_vol"),
        Seq("ticker", "date"), "left")
      .select($"ticker", $"date", year($"date").as("year"),
        lit(signalName).as("signal"),
        (lit(ic) * $"score" * $"idio_vol").as("alpha"))
  }

  /** benchmark_flow.py:11-30: equal weights 1/N per date over the
    * universe-gated returns; benchmark return Σ w·r per date. */
  def benchmarkWeights(universeReturns: DataFrame): DataFrame = {
    val s = universeReturns.sparkSession
    import s.implicits._
    universeReturns.select($"ticker", $"date", year($"date").as("year"),
        TimeSeries.equalWeight(Seq("date")).as("weight"))
  }

  /** Σ w·r per date, added in ticker order whatever the input's
    * partitioning: a grouped sum adds in arrival order, which the plan
    * and the partitioning decide, and a double sum's last bits depend on
    * that order. Nulls are skipped; a date with none but nulls is null. */
  def benchmarkReturns(universeReturns: DataFrame, weights: DataFrame): DataFrame = {
    val s = universeReturns.sparkSession
    import s.implicits._
    val byDate = Window.partitionBy($"date").orderBy($"ticker")
    weights.select($"ticker", $"date", $"weight")
      .join(universeReturns.select($"ticker", $"date", $"return"),
        Seq("date", "ticker"), "left")
      .select($"date", sum($"return" * $"weight").over(byDate.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("return"),
        row_number().over(byDate).as("__rn"))
      .filter($"__rn" === 1).drop("__rn")
  }

  /** betas_flow.py:14-72: per-ticker rolling single-factor OLS beta vs the
    * benchmark (K=1 → the exact RollingOLS kernel, same as the closed
    * covar/var form), short tickers dropped, null betas dropped, EWM(hl=60)
    * predicted beta over the rows that have a beta — the factor model's
    * one pass with K = 1 ([[RollingOls.smoothedFit]], `fittedOnly`). */
  def betas(
      stockReturns: DataFrame,
      benchmarkReturns: DataFrame,
      window: Int,
      halfLife: Double = 60.0): DataFrame =
    RollingOls.smoothedFit(betaPanel(stockReturns, benchmarkReturns),
        "ticker", "date", "return", Seq("benchmark_return"), window, halfLife,
        fittedOnly = true)
      .select(col("ticker"), col("date"), year(col("date")).as("year"),
        col("b_benchmark_return").as("historical_beta"),
        col("benchmark_return").as("predicted_beta"))

  private def betaPanel(stockReturns: DataFrame, benchmarkReturns: DataFrame): DataFrame =
    stockReturns.select(col("ticker"), col("date"), col("return"))
      .join(broadcast(benchmarkReturns
        .select(col("date"), col("return").as("benchmark_return"))), Seq("date"), "left")

  /** [[betas]] as the window composition it replaced (count window,
    * [[RollingOls.rollingOls]], null filter, EWM window); the reference the
    * one-pass operator is tested against. */
  private[graft] def betasComposed(
      stockReturns: DataFrame,
      benchmarkReturns: DataFrame,
      window: Int,
      halfLife: Double = 60.0): DataFrame = {
    val s = stockReturns.sparkSession
    import s.implicits._
    GraftFunctions.register(s)
    val joined = betaPanel(stockReturns, benchmarkReturns)
    val cnt = Window.partitionBy($"ticker")
    val eligible = joined.withColumn("__n", count(lit(1)).over(cnt))
      .filter($"__n" >= window).drop("__n")
    val fitted = RollingOls.rollingOls(eligible, Seq("ticker"), Seq("date"),
        "return", Seq("benchmark_return"), window)
      .filter($"b_benchmark_return".isNotNull)
    val wb = Window.partitionBy($"ticker").orderBy($"date")
    fitted
      .select($"ticker", $"date", $"b_benchmark_return".as("historical_beta"))
      .withColumn("predicted_beta", GraftFunctions.ewm_mean($"historical_beta", halfLife).over(wb))
      .select($"ticker", $"date", year($"date").as("year"),
        $"historical_beta", $"predicted_beta")
  }

  /** calendar_flow helpers (utils/calendar.py): last market date and the
    * trailing-n trading dates. */
  def lastMarketDate(calendar: DataFrame): DataFrame =
    calendar.agg(max(col("date")).as("date"))

  def trailingDates(calendar: DataFrame, n: Int): DataFrame =
    calendar.orderBy(col("date").desc).limit(n)
}
