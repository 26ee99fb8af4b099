package graft.operators

import graft.core.{BookTrade, OpenPos, PnlConfig, TradeBook}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Distributed mark-to-market engine — the Spark-native re-expression of
  * the reference's `Trade_Mtm_Runner.calculate` → `Mtm_Result` pipeline
  * (reference: runner_mtm.py:71-205, trade_reward.py:81-170).
  *
  * One kernel, [[walk]], runs the [[graft.core.TradeBook]] state machine
  * over a symbol-sorted partition: one book per symbol run, one row per
  * bar ("tl"), one row per closed or still-open trade ("bl") and, at the
  * end of each symbol run of an unsliced walk, one summary row ("sm").
  * Plan shape (SURVEY.md §4): canonical bars → `repartition($"symbol")` →
  * `sortWithinPartitions(symbol, ts, event_id)` → `mapPartitions(walk)`.
  * ONE shuffle total; parallelism = #symbols spread by hash; per-task
  * state is O(open positions) — closed trades are drained every bar and
  * rows stream through an iterator — so a skewed mega-symbol is
  * wall-clock-bound but never OOMs. Three callers share the kernel:
  *  - [[timeline]], [[blotter]], [[pnlSummary]], [[maxDrawdown]] and
  *    [[sharpeRatio]]: lazy `kind` projections of one walk;
  *  - [[combinedRun]]: one walk materialized once, the timeline, blotter
  *    and summary read from the stored blocks;
  *  - [[runSliced]]: one walk per time slice, book state carried between
  *    slices as rows of the same output type ("st"); a slice sees part of
  *    a symbol, so sliced walks emit no summary.
  *
  * Numeric discipline: per-bar mtm is pure double arithmetic (replicated
  * bit-for-bit by the DuckDB oracle); every cumulative/aggregated series
  * (pnl_ratio, drawdown, pnl, sharpe's sum) quantizes to exact 1e-9
  * units and sums in an overflow-safe accumulator (see [[ExactNum]]), so
  * results are exact, independent of partitioning/aggregation order, AND
  * engine-agnostic — the properties that keep 100 TB runs reproducible.
  */
object MtmEngine {

  /** Input bar (μs epoch; event_id tiebreaks equal timestamps). In a
    * sliced run, rows at `ts_us` = [[CarriedTs]] are carried book state
    * (see [[walk]]).
    */
  private[graft] final case class EngineBar(
      symbol: Long, ts_us: Long, event_id: Long, close: Double, buy: Int, sell: Int)

  /** The kernel's output row, discriminated by `kind`: "tl" timeline
    * point, "bl" blotter record, "st" carried book state (sliced runs
    * only — same columns as an [[EngineBar]], see [[walk]]) and "sm" a
    * symbol run's summary (unsliced runs only), which reuses columns
    * rather than widening every row:
    *
    * | summary column     | "sm" column   |
    * |--------------------|---------------|
    * | `pnl`              | `mtm_ratio`   |
    * | `n_trades`         | `event_id`    |
    * | `win_rate`         | `exit_price`  |
    * | `avg_holding_secs` | `pnl_norm`    |
    * | `max_drawdown`     | `close`       |
    * | `sharpe_ratio`     | `entry_price` |
    */
  private[graft] final case class EngineOut(
      kind: String,
      symbol: Long, ts_us: Long = 0L, event_id: Long = 0L, close: Double = 0.0,
      buy: Int = 0, sell: Int = 0, mtm_ratio: Double = 0.0,
      direction: String = "", entry_ts_us: Long = 0L, entry_price: Double = 0.0,
      exit_ts_us: Option[Long] = None, exit_price: Option[Double] = None,
      pnl_norm: Option[Double] = None, close_reason: Option[String] = None,
      is_closed: Boolean = false)

  /** `ts_us` of carried-state rows: sorts ahead of every bar of a symbol. */
  private final val CarriedTs = Long.MinValue

  /** events → canonical bar view (SURVEY §2): user_id plays the symbol,
    * value the close price, purchase/click the buy/sell signals; every
    * event row is a bar (non-signal types are hold bars). Contract: a
    * bar requires a POSITIVE close price — every engine output is
    * normalized by an entry price, so a zero/negative close would put
    * IEEE ±inf/NaN into the pnl algebra (and SQL engines disagree with
    * IEEE on x/0). Non-positive-price events are excluded here and in
    * every oracle's bar CTE, symmetrically.
    */
  def barsFromEvents(events: DataFrame): DataFrame =
    events.filter(col("value") > 0).select(
      col("user_id").as("symbol"),
      unix_micros(col("ts")).as("ts_us"),
      col("event_id"),
      col("value").as("close"),
      when(col("event_type") === "purchase", 1).otherwise(0).as("buy"),
      when(col("event_type") === "click", 1).otherwise(0).as("sell"))

  private def typedBars(bars: DataFrame): DataFrame =
    bars.select(
      col("symbol").cast("long"), col("ts_us").cast("long"),
      col("event_id").cast("long"), col("close").cast("double"),
      col("buy").cast("int"), col("sell").cast("int"))

  /** The engine's only shuffle: co-locate each symbol's bars and order
    * them totally within the partition (secondary sort). AQE partition
    * coalescing is safe: symbol runs stay contiguous because a symbol
    * hashes to exactly one pre-coalesce partition.
    */
  private def sortedBars(bars: DataFrame, colocated: Boolean = false): Dataset[EngineBar] = {
    val spark = bars.sparkSession
    import spark.implicits._
    val projected = typedBars(bars)
    // colocated: the caller guarantees each symbol's bars already share
    // a partition (a symbol-bucketed table scan — BucketedTables.bars),
    // so the engine's one exchange is elided and only the in-partition
    // secondary sort remains. Opt-in and UNCHECKED: verifying the claim
    // would itself shuffle, and split symbol runs would silently reset
    // book state mid-run — callers own the layout contract
    // (ColocatedEngineSpec pins bit-equality on the bucketed layout).
    val dist = if (colocated) projected else projected.repartition(col("symbol"))
    dist
      .sortWithinPartitions("symbol", "ts_us", "event_id")
      .as[EngineBar]
  }

  /** One symbol run's summary, folded bar by bar in walk order — the
    * reference's ordered folds over the per-bar mtm series
    * (trade_reward.py:413-450):
    *  - pnl = Σ mtm, and max drawdown = the largest fall of cum(mtm)
    *    below its running peak floored at 0 (runner_mtm.py:144,168-172),
    *    both in exact 1e-9 units;
    *  - closed-trade count, wins (pnl_norm > 0), mean holding seconds;
    *  - Sharpe: ms-resolution period (floor to ms, so pre-1970 bars land
    *    where the oracle's epoch_ms puts them), slippage 1e-6 with its
    *    sum in exact units, population σ by Spark's `CentralMomentAgg`
    *    update (the oracle's own stddev_pop noise, ~1e-13 relative, is
    *    absorbed by the 4-dp output), √(365·24) annualization, −1e50
    *    when σ = 0. A zero span gives the IEEE x/0 result (±inf by the
    *    sign of the sum, NaN at 0/0); the 4-dp rounding is
    *    floor(x·1e4 + 0.5)/1e4 on finite results only.
    */
  private final class SummaryFold {
    private val pnl = new ExactNum.RunningSum
    private val sumX = new ExactNum.RunningSum
    private var n, avg, m2 = 0.0
    private var firstMs, lastMs = 0L
    private var trades, wins, heldUs = 0L

    def bar(tsUs: Long, mtm: Double): Unit = {
      pnl.add(ExactNum.unitsOf(mtm, 1e9))
      val x = mtm - 0.000001
      sumX.add(ExactNum.unitsOf(x, 1e9))
      val newN = n + 1.0
      val delta = x - avg
      val deltaN = delta / newN
      avg = avg + deltaN
      m2 = m2 + delta * (delta - deltaN)
      lastMs = Math.floorDiv(tsUs, 1000L)
      if (n == 0.0) firstMs = lastMs
      n = newN
    }

    /** A closed blotter row. */
    def closed(t: EngineOut): Unit = {
      trades += 1
      if (t.pnl_norm.get > 0.0) wins += 1
      heldUs = Math.addExact(heldUs, Math.subtractExact(t.exit_ts_us.get, t.entry_ts_us))
    }

    private def sharpe: Double = {
      val sigma = math.sqrt(m2 / n)
      if (sigma == 0.0) -1e50
      else {
        val sum = sumX.total(1e9)
        val spanMs = (lastMs - firstMs).toDouble
        val raw =
          if (spanMs != 0.0) sum / (spanMs / 1000.0 / 3600.0) / sigma * math.sqrt(8760.0)
          else if (sum > 0.0) Double.PositiveInfinity
          else if (sum < 0.0) Double.NegativeInfinity
          else Double.NaN
        if (math.abs(raw) < 1e14) math.floor(raw * 1e4 + 0.5).toLong.toDouble / 1e4 else raw
      }
    }

    def row(symbol: Long): EngineOut = {
      def perTrade(x: Double) = if (trades == 0) None else Some(x / trades.toDouble)
      EngineOut("sm", symbol, event_id = trades, close = pnl.maxFall(1e9),
        mtm_ratio = pnl.total(1e9), entry_price = sharpe,
        exit_price = perTrade(wins.toDouble), pnl_norm = perTrade(heldUs.toDouble).map(_ / 1000000.0))
    }
  }

  /** The engine kernel: one pass over a symbol-sorted partition, a fresh
    * [[TradeBook]] per symbol run, price_diff derived from the previous
    * bar in-stream (the partition is already symbol-ordered, so no
    * window is needed). Emits one "tl" row per bar, a "bl" row per trade
    * closed on that bar, and at each run end either the still-open
    * positions as OPEN "bl" rows followed, on an unsliced walk (no
    * `carryIn`), by the run's "sm" summary row, or, with `carryOut`, the
    * book as "st" rows for the next slice.
    *
    * Carried state is one "st" row holding the previous close
    * (buy = sell = 0, close = previous close) plus one per open position
    * (event_id = entry µs, close = entry price, buy or sell = 1-based
    * index in its side's book order, which FIFO/LIFO/WorstPrice ties and
    * the accrual's summation order depend on). With `carryIn`, input rows
    * at [[CarriedTs]] are such state: they sort ahead of the run's bars
    * and are restored into the run's fresh book before its first bar.
    */
  private def walk(cfg: PnlConfig, carryIn: Boolean, carryOut: Boolean)(
      bars: Iterator[EngineBar]): Iterator[EngineOut] = {
    var book: TradeBook = null
    var fold: SummaryFold = null
    var symbol = 0L
    var prevClose = Double.NaN
    val carried = new ArrayBuffer[EngineBar]

    def side(isLong: Boolean) = if (isLong) "LONG" else "SHORT"

    /** pnl_norm is the reference's fee-included `pnl_normalized`
      * (models.py:60-91): ((±(exit−entry)) − fee·entry − fee·entry)/entry.
      */
    def tradeRow(t: BookTrade): EngineOut =
      if (t.isClosed)
        EngineOut("bl", symbol, direction = side(t.isLong),
          entry_ts_us = t.entryUs, entry_price = t.entryPrice,
          exit_ts_us = Some(t.exitUs), exit_price = Some(t.exitPrice),
          pnl_norm = Some(BookTrade.closedPnlNorm(t, cfg.feeRate)),
          close_reason = Some(t.reason), is_closed = true)
      else
        EngineOut("bl", symbol, direction = side(t.isLong),
          entry_ts_us = t.entryUs, entry_price = t.entryPrice)

    def restore(): Unit = if (carried.nonEmpty) {
      def open(isLong: Boolean) = carried.toSeq
        .filter(c => (if (isLong) c.buy else c.sell) > 0).sortBy(c => c.buy + c.sell)
        .map(c => OpenPos(c.event_id, c.close, isLong))
      book.restoreOpen(open(isLong = true), open(isLong = false))
      carried.clear()
    }

    def endRun(): Seq[EngineOut] =
      if (book == null) Nil
      else {
        restore() // a run of carried state alone still ends its book
        if (!carryOut) book.flushOpen().map(tradeRow) ++ Option(fold).map(_.row(symbol))
        else {
          def rows(side: Seq[OpenPos]) = side.zipWithIndex.map { case (p, i) =>
            EngineOut("st", symbol, CarriedTs, p.entryUs, p.entryPrice,
              buy = if (p.isLong) i + 1 else 0, sell = if (p.isLong) 0 else i + 1)
          }
          val (ls, ss) = book.snapshotOpen()
          EngineOut("st", symbol, CarriedTs, close = prevClose) +: (rows(ls) ++ rows(ss))
        }
      }

    val perBar = bars.flatMap { b =>
      val ended =
        if (book == null || b.symbol != symbol) {
          val out = endRun()
          book = new TradeBook(cfg); symbol = b.symbol; prevClose = Double.NaN
          if (!carryIn) fold = new SummaryFold
          out
        } else Nil
      if (carryIn && b.ts_us == CarriedTs) {
        if (b.buy == 0 && b.sell == 0) prevClose = b.close else carried += b
        ended.iterator
      } else {
        restore()
        val diff = if (prevClose.isNaN) Double.NaN else b.close - prevClose
        prevClose = b.close
        val mtm = book.step(b.ts_us, b.close, diff, b.buy == 1, b.sell == 1)
        val closed = book.drainTrades().map(tradeRow)
        if (fold != null) {
          fold.bar(b.ts_us, mtm)
          closed.foreach(fold.closed)
        }
        ended.iterator ++
          Iterator.single(EngineOut("tl", b.symbol, b.ts_us, b.event_id, b.close,
            b.buy, b.sell, mtm)) ++
          closed.iterator
      }
    }
    // Iterator.++ takes its suffix BY NAME: the last run's flush, summary
    // or state is built only after perBar exhausts the partition
    perBar ++ endRun().iterator
  }

  private def run(
      sorted: Dataset[EngineBar], cfg: PnlConfig,
      carryIn: Boolean = false, carryOut: Boolean = false): DataFrame = {
    val spark = sorted.sparkSession
    import spark.implicits._
    sorted.mapPartitions(walk(cfg, carryIn, carryOut)).toDF()
  }

  /** Per-bar timeline rows of a kernel output. */
  private def timelineOf(out: DataFrame): DataFrame =
    out.filter(col("kind") === "tl")
      .select("symbol", "ts_us", "event_id", "close", "buy", "sell", "mtm_ratio")

  /** Blotter rows of a kernel output. */
  private def blotterOf(out: DataFrame): DataFrame =
    out.filter(col("kind") === "bl")
      .select("symbol", "direction", "entry_ts_us", "entry_price",
        "exit_ts_us", "exit_price", "pnl_norm", "close_reason", "is_closed")

  /** Per-symbol summary rows of an unsliced kernel output: the "sm"
    * column mapping of [[EngineOut]] undone. Columns in `MtmRunner`'s
    * summary order: symbol, pnl, n_trades, win_rate, avg_holding_secs,
    * max_drawdown, sharpe_ratio.
    */
  private def summaryOf(out: DataFrame): DataFrame =
    out.filter(col("kind") === "sm").select(
      col("symbol"), col("mtm_ratio").as("pnl"), col("event_id").as("n_trades"),
      col("exit_price").as("win_rate"), col("pnl_norm").as("avg_holding_secs"),
      col("close").as("max_drawdown"), col("entry_price").as("sharpe_ratio"))

  /** Per-bar mtm timeline: (symbol, ts_us, event_id, close, buy, sell,
    * mtm_ratio) — the reference's `mtm_history` (trade_reward.py:109,166),
    * one row per input bar.
    */
  def timeline(bars: DataFrame, cfg: PnlConfig, colocated: Boolean = false): DataFrame =
    timelineOf(run(sortedBars(bars, colocated), cfg))

  /** Trade blotter: closed trades (reference `archive_*_positions_list`)
    * plus still-open positions flushed as OPEN rows (reference
    * `outstanding_*` in Mtm_Result, runner_mtm.py:191-203).
    */
  def blotter(bars: DataFrame, cfg: PnlConfig, colocated: Boolean = false): DataFrame =
    blotterOf(run(sortedBars(bars, colocated), cfg))

  /** Timeline, blotter and summary from ONE engine pass: one shuffle,
    * one sort, one state-machine walk, materialized once; the returned
    * frames are kind-filtered projections over the stored blocks, so
    * each costs one job with no exchange.
    */
  private[graft] def combinedRun(bars: DataFrame, cfg: PnlConfig,
      colocated: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    // EAGER: MtmResult.queryDict reads all three frames in one job, whose
    // scan stages are independent; a lazy checkpoint lets them race the
    // block store, and each loser re-runs the whole walk. Single-frame
    // callers pay the same one job, at construction.
    val out = run(sortedBars(bars, colocated), cfg).localCheckpoint(eager = true)
    (timelineOf(out), blotterOf(out), summaryOf(out))
  }

  // ---- time-sliced execution (mega-symbol skew hardening, SURVEY §4) ----

  /** Time-sliced engine run: bars split into `nSlices` ranges at
    * approximate ts quantiles; each slice runs the normal
    * repartition-sort-walk pipeline seeded with the previous slice's
    * per-symbol book state (open positions + previous close),
    * materialized slice-by-slice. Output (timeline, blotter) is
    * bar-for-bar identical to the unsliced engine — spec'd in
    * MtmEngineSpec with a planted mega-symbol.
    *
    * Why: the unsliced engine streams a whole symbol through ONE task,
    * so a mega-symbol holding half the corpus makes wall-clock equal to
    * half the corpus on one core, and a straggler task pins a 100 TB
    * scan's worth of input through one executor. Slicing bounds every
    * task's input to ~1/nSlices of the symbol and gives the scheduler a
    * rebalance point (plus a natural checkpoint seam for incremental /
    * append-only runs) at the cost of one extra job per slice. The
    * carried state is O(symbols × max_position) — tiny.
    *
    * Durability caveat: slices chain through `localCheckpoint`, whose
    * blocks are executor-local with lineage truncated — a lost executor
    * mid-run fails the job unrecoverably rather than recomputing. For
    * multi-hour runs on preemptible fleets, wire the inter-slice seam
    * to durable storage instead: write each slice's end-state (the
    * O(symbols × max_position) "st" rows) to parquet and seed the next
    * slice from that table — same seam, restartable.
    */
  def runSliced(bars: DataFrame, cfg: PnlConfig, nSlices: Int): (DataFrame, DataFrame) = {
    require(nSlices >= 1, "need at least one slice")
    // approximate quantile cuts balance slice volume even when bar
    // density drifts over time; exactness is irrelevant (any cut is
    // correct, only balance varies). This costs one extra pass over the
    // bars — production jobs with natural boundaries (day files, ingest
    // batches) should pass explicit cuts instead.
    val cuts: Seq[Long] =
      if (nSlices == 1) Nil
      else bars.select(col("ts_us").cast("long")).stat.approxQuantile(
        "ts_us", (1 until nSlices).map(_.toDouble / nSlices).toArray, 0.001)
        // equal quantiles (skewed time density) would be an empty slice —
        // collapse them so the explicit-cut contract stays strict
        .map(_.toLong).distinct.sorted.toSeq
    runSliced(bars, cfg, cuts)
  }

  /** [[runSliced]] with explicit ascending cut timestamps (µs) — slice i
    * covers [cuts(i-1), cuts(i)). No pre-scan: the natural form when
    * slices follow day/batch boundaries known up front.
    */
  def runSliced(bars: DataFrame, cfg: PnlConfig, cutsUs: Seq[Long]): (DataFrame, DataFrame) = {
    val parts = slicedWalks(bars, cfg, cutsUs)
    (parts.map(timelineOf).reduce(_.unionAll(_)), parts.map(blotterOf).reduce(_.unionAll(_)))
  }

  /** The per-slice kernel outputs behind [[runSliced]], in slice order. */
  private[graft] def slicedWalks(bars: DataFrame, cfg: PnlConfig, cutsUs: Seq[Long]): Seq[DataFrame] = {
    // out-of-order or duplicate cuts would make slice ranges overlap —
    // rows in the overlap run through TWO slices and silently duplicate
    require(
      cutsUs.isEmpty || cutsUs.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
      s"slice cuts must be strictly ascending, got $cutsUs")
    val spark = bars.sparkSession
    import spark.implicits._
    // a bar at the carried-state timestamp would be read as state
    val typed = typedBars(bars).withColumn("ts_us",
      when(col("ts_us") === CarriedTs,
        raise_error(lit(s"runSliced: ts_us = $CarriedTs is reserved for carried state")))
        .otherwise(col("ts_us")))
    val cuts = cutsUs.toArray
    var carried = spark.emptyDataset[EngineBar].toDF()
    (0 to cuts.length).map { i =>
      val lo = if (i == 0) None else Some(cuts(i - 1))
      val hi = if (i == cuts.length) None else Some(cuts(i))
      val sliceBars = typed
        .filter(lo.map(col("ts_us") >= _).getOrElse(lit(true))
          && hi.map(col("ts_us") < _).getOrElse(lit(true)))
      // LAZY local checkpoint: the consumer's single action computes the
      // whole slice chain as one job, storing each slice's partitions as
      // they are first computed, so slice i+1 and the final union read
      // them instead of recomputing slices 0..i. Safe only while no two
      // stages of one job read slice i's blocks concurrently: its
      // same-job consumers are slice i+1's map stage and the final
      // union's result stage, which depends on the last slice's shuffle
      // and so runs after every chain stage. A caller consuming BOTH
      // returned frames in one job would break this on the last slice.
      val out = run(sortedBars(sliceBars.union(carried)), cfg,
          carryIn = true, carryOut = i < cuts.length)
        .localCheckpoint(eager = false)
      carried = out.filter(col("kind") === "st")
        .select("symbol", "ts_us", "event_id", "close", "buy", "sell")
      out
    }
  }

  // ---- query-surface wrappers (timestamps restored to TIMESTAMP μs) ----

  // The timeline and blotter query surfaces come in two forms: the
  // public (bars, cfg) entry and a `*From` form over a precomputed
  // engine output (MtmRunner.calculate's checkpoint, runSliced).

  /** SURVEY #4/#5: per-bar mtm_ratio + cumulative pnl_ratio
    * (reference pnl_timeline: runner_mtm.py:136-183).
    */
  def timelineQuery(bars: DataFrame, cfg: PnlConfig, colocated: Boolean = false): DataFrame =
    timelineQueryFrom(timeline(bars, cfg, colocated))

  private[graft] def timelineQueryFrom(tl: DataFrame): DataFrame = {
    // cumulative exact 1e-9-unit sum (see ExactNum for why quantize-then-
    // sum replaces double→DECIMAL casts) over each symbol's bar order
    val seq = Window.partitionBy("symbol").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tl.withColumn("pnl_ratio",
        ExactNum.toDouble(sum(ExactNum.units(col("mtm_ratio"), 1e9)).over(seq), 1e9))
      .select(
        col("symbol"), timestamp_micros(col("ts_us")).as("ts"), col("event_id"),
        col("close"), col("buy"), col("sell"), col("mtm_ratio"), col("pnl_ratio"))
  }

  /** SURVEY #2/#3: the trade blotter as a query. */
  def blotterQuery(bars: DataFrame, cfg: PnlConfig, colocated: Boolean = false): DataFrame =
    blotterQueryFrom(blotter(bars, cfg, colocated))

  /** `pnl` is the reference's raw (price-unit) pnl alongside the
    * normalized one — ProxyTrade exposes both (models.py:60-83,117-131).
    * NOTE the derivation direction is deliberately INVERTED vs the
    * reference: models.py computes raw pnl directly
    * ((exit−entry) − 2·fee·entry) and derives normalized from it, while
    * we derive raw = pnl_norm × entry_price from the already-computed
    * normalized value so the engine, sliced, runner and oracle surfaces
    * stay bit-equal to each other ((x/e)·e is not IEEE-bit-equal to x,
    * so our raw pnl can differ from the reference's by ULPs).
    */
  private[graft] def blotterQueryFrom(bl: DataFrame): DataFrame =
    bl.select(
      col("symbol"), col("direction"),
      timestamp_micros(col("entry_ts_us")).as("entry_ts"), col("entry_price"),
      timestamp_micros(col("exit_ts_us")).as("exit_ts"), col("exit_price"),
      col("pnl_norm"), (col("pnl_norm") * col("entry_price")).as("pnl"),
      col("close_reason"), col("is_closed"))

  /** Summary frame of one lazy walk (see [[SummaryFold]]). */
  private def summary(bars: DataFrame, cfg: PnlConfig): DataFrame =
    summaryOf(run(sortedBars(bars), cfg))

  /** SURVEY #6: per-symbol max drawdown — running peak of cum-pnl floored
    * at 0, minus current, maxed (reference runner_mtm.py:144,168-172).
    */
  def maxDrawdown(bars: DataFrame, cfg: PnlConfig): DataFrame =
    summary(bars, cfg).select("symbol", "max_drawdown")

  /** SURVEY #7: per-symbol Sharpe, reference formula
    * (trade_reward.py:423-450), 4-dp.
    */
  def sharpeRatio(bars: DataFrame, cfg: PnlConfig): DataFrame =
    summary(bars, cfg).select("symbol", "sharpe_ratio")

  /** SURVEY #8: per-symbol summary — total pnl (Σ mtm,
    * trade_reward.py:413-421), closed-trade count, win rate and average
    * holding seconds (null without closed trades), the reference
    * Mtm_Result surface.
    */
  def pnlSummary(bars: DataFrame, cfg: PnlConfig): DataFrame =
    summary(bars, cfg).select("symbol", "pnl", "n_trades", "win_rate", "avg_holding_secs")
}
