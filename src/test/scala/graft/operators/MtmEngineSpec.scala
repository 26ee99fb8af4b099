package graft.operators

import graft.{Sessions, Tables}
import graft.core.{InventoryMode, PnlConfig, RefSim}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distributed-vs-sequential parity: the MtmEngine mapPartitions operator
  * must reproduce, per symbol, exactly what the scalar reference replica
  * (RefSim) computes over that symbol's time-ordered bars — across
  * configs including ROI ladders, stop-loss, fees and max-position (the
  * SURVEY §2 #9/#10 spec-level correctness gate).
  */
class MtmEngineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  /** (symbol → time-ordered bars (tsUs, eventId, close, diff, buy, sell)),
    * ordered by (ts_us, event_id) — the event_id must survive into the
    * comparison keys or duplicate-timestamp bars would collapse in maps.
    */
  private lazy val barsBySymbol: Map[Long, Seq[(Long, Long, Double, Double, Boolean, Boolean)]] = {
    val rows = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
      .orderBy("symbol", "ts_us", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4) == 1, r.getInt(5) == 1))
    rows.groupBy(_._1).map { case (sym, rs) =>
      sym -> rs.toSeq.sortBy(r => (r._2, r._3))
        .foldLeft((List.empty[(Long, Long, Double, Double, Boolean, Boolean)], Double.NaN)) {
          case ((acc, prev), (_, ts, eid, close, b, s)) =>
            val diff = if (prev.isNaN) Double.NaN else close - prev
            ((ts, eid, close, diff, b, s) :: acc, close)
        }._1.reverse
    }
  }

  private val configs: Seq[(String, PnlConfig)] = Seq(
    "default" -> PnlConfig.default,
    "long_short" -> PnlConfig(enableShortPosition = true),
    "fees_tax" -> PnlConfig(feeRate = 0.001, laidBackTax = 0.0001),
    "roi_stoploss" -> PnlConfig(
      roi = Map(0 -> 0.2, 60 -> 0.1, 1440 -> 0.02),
      stoploss = -0.15, enableShortPosition = true),
    "max_position_3" -> PnlConfig(maxPositionPerSymbol = 3, enableShortPosition = true)
  )

  for ((name, cfg) <- configs) {
    test(s"timeline parity vs scalar replica: $name") {
      val got = MtmEngine.timeline(
          MtmEngine.barsFromEvents(Tables.events(spark, sfDir)), cfg)
        .select("symbol", "ts_us", "event_id", "mtm_ratio")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
        .toMap
      var checked = 0
      for ((sym, bars) <- barsBySymbol) {
        val exp = RefSim.run(cfg, bars.map { case (ts, _, c, d, b, s) => (ts, c, d, b, s) }).mtm
        bars.zip(exp).foreach { case ((ts, eid, _, _, _, _), e) =>
          val g = got((sym, ts, eid))
          // addition order across open positions may differ → 1e-12 tol
          assert(math.abs(g - e) <= 1e-12 * math.max(1.0, math.abs(e)),
            s"symbol $sym ts $ts eid $eid: engine $g vs replica $e")
          checked += 1
        }
      }
      assert(checked == got.size && checked > 0)
    }

    test(s"blotter parity vs scalar replica: $name") {
      val got = MtmEngine.blotter(
          MtmEngine.barsFromEvents(Tables.events(spark, sfDir)), cfg)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(7)) "OPEN" else r.getString(7)))
        .toSet
      val exp = barsBySymbol.flatMap { case (sym, bars) =>
        val r = RefSim.run(cfg, bars.map { case (ts, _, c, d, b, s) => (ts, c, d, b, s) })
        r.closed.map(t => (sym, if (t.long) "LONG" else "SHORT", t.entryUs, t.exitUs, t.reason)) ++
          r.open.map(t => (sym, if (t.long) "LONG" else "SHORT", t.entryUs, -1L, "OPEN"))
      }.toSet
      assert(got == exp)
    }
  }

  /** Blotter multiset — not a set: two legitimately identical blotter
    * rows (same prices/timestamps on different trades) must not mask a
    * dropped or doubled record at a slice boundary.
    */
  private def blBag(df: org.apache.spark.sql.DataFrame) =
    df.select("symbol", "direction", "entry_ts_us", "entry_price",
      "exit_ts_us", "pnl_norm", "close_reason", "is_closed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        // stringified: NaN (open rows) would fail numeric equality
        if (r.isNullAt(5)) "null" else r.getDouble(5).toString,
        if (r.isNullAt(6)) "OPEN" else r.getString(6), r.getBoolean(7)))
      .groupBy(identity).map { case (k, v) => k -> v.length }

  test("time-sliced run equals the unsliced engine under a planted mega-symbol") {
    // collapse half the users into symbol 777 → one symbol carries ~50%
    // of all bars (the skew case slicing exists for); event_id keeps
    // every bar unique within the merged stream
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
      .withColumn("symbol", when(col("symbol") % 2 === 0, lit(777L)).otherwise(col("symbol")))
    val cfg = PnlConfig(
      roi = Map(0 -> 0.2, 60 -> 0.1), stoploss = -0.15,
      enableShortPosition = true, maxPositionPerSymbol = 2, feeRate = 0.001)
    val (slTl, slBl) = MtmEngine.runSliced(bars, cfg, nSlices = 4)

    def tlKey(df: org.apache.spark.sql.DataFrame) =
      df.select("symbol", "ts_us", "event_id", "mtm_ratio").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val exact = tlKey(MtmEngine.timeline(bars, cfg))
    val sliced = tlKey(slTl)
    assert(sliced.keySet == exact.keySet)
    // identical arithmetic path per bar (restored state preserves
    // position order and prev close) → bit-exact equality
    exact.foreach { case (k, v) =>
      assert(java.lang.Double.compare(sliced(k), v) == 0, s"bar $k: ${sliced(k)} vs $v")
    }

    val gotBl = blBag(slBl)
    val expBl = blBag(MtmEngine.blotter(bars, cfg))
    assert(gotBl == expBl,
      s"\nsliced-only: ${(gotBl.toSet -- expBl.toSet).take(5)}" +
        s"\nunsliced-only: ${(expBl.toSet -- gotBl.toSet).take(5)}")
  }

  test("time-sliced run matches under adversarial explicit cuts; bad cuts rejected") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val cfg = PnlConfig(roi = Map(0 -> 0.2), stoploss = -0.15, enableShortPosition = true)
    val Array(minTs, maxTs) = bars
      .agg(min(col("ts_us")), max(col("ts_us"))).collect()
      .flatMap(r => Array(r.getLong(0), r.getLong(1)))
    def tlKey(df: org.apache.spark.sql.DataFrame) =
      df.select("symbol", "ts_us", "event_id", "mtm_ratio").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val exact = tlKey(MtmEngine.timeline(bars, cfg))
    val exactBl = blBag(MtmEngine.blotter(bars, cfg))
    val span = maxTs - minTs
    // degenerate cut sets: empty slices at both ends (cuts outside the
    // data range), a cut exactly ON the min (first slice empty), dense
    // cuts clustered in one corner, and a seeded random ascending draw
    val rnd = new scala.util.Random(11)
    val randomCuts = Seq.fill(6)(minTs + (rnd.nextDouble() * span).toLong)
      .distinct.sorted
    val cutSets = Seq(
      Seq(minTs - 1000L, maxTs + 1000L),
      Seq(minTs),
      Seq(minTs + span / 100, minTs + span / 50, minTs + span / 25),
      randomCuts)
    for (cuts <- cutSets) {
      val (slTl, slBl) = MtmEngine.runSliced(bars, cfg, cuts)
      val sliced = tlKey(slTl)
      assert(sliced.keySet == exact.keySet, s"row set diverged for cuts $cuts")
      exact.foreach { case (k, v) =>
        assert(java.lang.Double.compare(sliced(k), v) == 0, s"cuts $cuts bar $k")
      }
      // cuts past the data's end leave symbols whose last slice holds
      // only carried state: their OPEN flushes must still appear once
      assert(blBag(slBl) == exactBl, s"blotter diverged for cuts $cuts")
    }
    // overlapping/unsorted cuts would silently duplicate rows — rejected
    intercept[IllegalArgumentException] {
      MtmEngine.runSliced(bars, cfg, Seq(minTs + 2000L, minTs + 1000L))
    }
    intercept[IllegalArgumentException] {
      MtmEngine.runSliced(bars, cfg, Seq(minTs + 1000L, minTs + 1000L))
    }
  }

  test("engine is insensitive to input row order") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val scrambled = bars.orderBy(rand(seed = 7))
    val a = MtmEngine.timelineQuery(bars, PnlConfig.default)
      .orderBy("symbol", "ts", "event_id").collect().toSeq
    val b = MtmEngine.timelineQuery(scrambled, PnlConfig.default)
      .orderBy("symbol", "ts", "event_id").collect().toSeq
    assert(a == b)
  }

  test("degenerate bars: constant price, single bar, and sub-ms symbols don't crash sharpe") {
    // Regression for the ANSI span_ms=0 division (r13): a symbol whose
    // bars ALL land inside one millisecond, with price movement so
    // σ > 0, used to error the job at sharpe materialization
    // (DIVIDE_BY_ZERO — count() masked it via column pruning). The
    // guarded expression must yield the IEEE value DuckDB's double
    // division produces: +inf here (rising prices ⇒ sum_x > 0).
    // Constant-price and single-bar symbols take the σ = 0 sentinel.
    import spark.implicits._
    val bars = Seq(
      (10L, 1000L * 1000, 1L, 100.0, 1, 0), (10L, 2000L * 1000, 2L, 100.0, 0, 0),
      (10L, 3000L * 1000, 3L, 100.0, 0, 0), // constant price: sigma = 0
      (20L, 5000L * 1000, 4L, 50.0, 1, 0), // single bar
      (30L, 6000L * 1000, 5L, 10.0, 1, 0), // three bars inside ms 6000,
      (30L, 6000L * 1000 + 300, 6L, 20.0, 0, 0), // rising: sigma > 0,
      (30L, 6000L * 1000 + 600, 7L, 40.0, 0, 0), // span_ms = 0
      (40L, 7000L * 1000, 8L, 5.0, 0, 0), (40L, 8000L * 1000, 9L, 6.0, 0, 0) // no signals
    ).toDF("symbol", "ts_us", "event_id", "close", "buy", "sell")
    val sharpe = MtmEngine.sharpeRatio(bars, PnlConfig.default)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sharpe(10L) == -1e50, "constant price must take the sigma=0 sentinel")
    assert(sharpe(20L) == -1e50, "single bar must take the sigma=0 sentinel")
    assert(sharpe(30L).isPosInfinity,
      s"sub-ms rising symbol must be +inf (IEEE x/0), got ${sharpe(30L)}")
    // the sibling queries flow the same degenerate bars without error —
    // including the no-signal symbol (n_trades = 0 through pnlSummary's
    // win-rate/holding divisions)
    assert(MtmEngine.maxDrawdown(bars, PnlConfig.default).collect().length == 4)
    assert(MtmEngine.pnlSummary(bars, PnlConfig.default).collect().length == 4)
    assert(MtmEngine.timelineQuery(bars, PnlConfig.default).collect().length == 9)
  }

  test("timeline row count equals bar count; one row per bar") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val n = bars.count()
    assert(MtmEngine.timeline(bars, PnlConfig.default).count() == n)
  }

  /** Drives every `TradeBook` path: ROI ladder, stop-loss, shorts, three
    * positions per side closed by worst price, fees and laid-back tax.
    */
  private val everyPathCfg = PnlConfig(
    roi = Map(0 -> 0.2, 60 -> 0.1, 1440 -> 0.02), stoploss = -0.05,
    enableShortPosition = true, maxPositionPerSymbol = 3,
    inventoryMode = InventoryMode.WorstPrice, feeRate = 0.001, laidBackTax = 0.0001)

  /** Row multiset with doubles compared by bit pattern (0.0 ≠ -0.0). */
  private def bitBag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => ("f64", java.lang.Double.doubleToLongBits(d))
      case v => v
    }).groupBy(identity).map { case (k, v) => k -> v.length }

  // the engine's three callers — the lazy query projections, the
  // checkpointed MtmRunner.calculate run and runSliced — agree bit for bit
  test("calculate, the lazy queries and a one-slice runSliced agree bit for bit") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val res = MtmRunner.calculate(bars, everyPathCfg)
    val (slTl, slBl) = MtmEngine.runSliced(bars, everyPathCfg, Seq.empty[Long])

    val tl = bitBag(MtmEngine.timelineQuery(bars, everyPathCfg))
    assert(tl.nonEmpty)
    assert(bitBag(res.timeline) == tl)
    assert(bitBag(MtmEngine.timelineQueryFrom(slTl)) == tl)

    val blDf = MtmEngine.blotterQuery(bars, everyPathCfg)
    val bl = bitBag(blDf)
    assert(bitBag(res.trades) == bl)
    assert(bitBag(MtmEngine.blotterQueryFrom(slBl)) == bl)

    // the config really reaches every close path, both sides and the
    // position cap (WorstPrice only matters with several open per side)
    val reasons = blDf.select(coalesce(col("close_reason"), lit("OPEN")))
      .distinct().collect().map(_.getString(0)).toSet
    assert(reasons == Set("ROI", "STOP_LOSS", "SIGNAL", "OPEN"), s"reasons $reasons")
    assert(blDf.select("direction").distinct().count() == 2)
    // two same-side positions open at once, so the position cap and the
    // WorstPrice choice have several positions to act on
    val b = blDf.select(col("symbol"), col("direction"),
      unix_micros(col("entry_ts")).as("e"), unix_micros(col("exit_ts")).as("x"))
    val overlaps = b.as("p").join(b.as("q"),
        col("p.symbol") === col("q.symbol") && col("p.direction") === col("q.direction") &&
          col("q.e") > col("p.e") && (col("p.x").isNull || col("q.e") < col("p.x")))
      .count()
    assert(overlaps > 0, "no symbol ever holds two positions on one side")
  }

  test("slices carrying several open positions per side equal the unsliced engine") {
    // no ROI or stop-loss: positions close only on signals, so books of
    // up to three positions per side cross the slice seams, and FIFO's
    // pick depends on the carried book order
    val fifo = PnlConfig(enableShortPosition = true, maxPositionPerSymbol = 3)
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val Array(lo, hi) = bars.agg(min(col("ts_us")), max(col("ts_us"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val cuts = (1 until 20).map(i => lo + (hi - lo) * i / 20)
    val (slTl, slBl) = MtmEngine.runSliced(bars, fifo, cuts)
    assert(bitBag(MtmEngine.timelineQueryFrom(slTl)) == bitBag(MtmEngine.timelineQuery(bars, fifo)))
    assert(bitBag(MtmEngine.blotterQueryFrom(slBl)) == bitBag(MtmEngine.blotterQuery(bars, fifo)))
  }

  test("runSliced rejects a bar at the timestamp reserved for carried state") {
    import spark.implicits._
    val bars = Seq((1L, Long.MinValue, 1L, 10.0, 1, 0), (1L, 5L, 2L, 11.0, 0, 0))
      .toDF("symbol", "ts_us", "event_id", "close", "buy", "sell")
    val e = intercept[Exception](MtmEngine.runSliced(bars, everyPathCfg, Seq(3L))._1.collect())
    assert(e.getMessage.contains("reserved for carried state"), e.getMessage)
  }

  // ---- the summary, folded in the walk, against window/aggregate formulas ----

  /** The per-symbol summary as window, aggregate and join formulas over
    * the engine's timeline and blotter — how the engine computed it before
    * the walk folded it. The fold must equal these bit for bit.
    */
  private def refSummary(tl: DataFrame, bl: DataFrame): DataFrame = {
    val seqWindow = Window.partitionBy("symbol").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pnl = tl.groupBy("symbol")
      .agg(ExactNum.sumExact(col("mtm_ratio"), 1e9).as("pnl"))
    val tradeAgg = bl.filter(col("is_closed")).groupBy("symbol").agg(
      count(lit(1)).as("n_trades"),
      count(when(col("pnl_norm") > 0.0, 1)).as("n_wins"),
      sum(col("exit_ts_us") - col("entry_ts_us")).as("hold_us"))
    val pnlSummary = pnl.join(tradeAgg, Seq("symbol"), "left").select(
      col("symbol"), col("pnl"),
      coalesce(col("n_trades"), lit(0L)).as("n_trades"),
      (col("n_wins").cast("double") / col("n_trades").cast("double")).as("win_rate"),
      (col("hold_us").cast("double") / col("n_trades").cast("double") / lit(1000000.0))
        .as("avg_holding_secs"))
    val drawdown = tl
      .withColumn("cum", sum(ExactNum.units(col("mtm_ratio"), 1e9)).over(seqWindow))
      .withColumn("runmax", max(col("cum")).over(seqWindow))
      .groupBy("symbol")
      .agg(ExactNum.toDouble(
        max(greatest(col("runmax"), lit(0).cast("decimal(38,0)")) - col("cum")), 1e9)
        .as("max_drawdown"))
    val xs = col("mtm_ratio") - lit(0.000001)
    val raw = when(col("span_ms") =!= 0.0,
        col("sum_x") / (col("span_ms") / lit(1000.0) / lit(3600.0)) /
          col("sigma") * lit(math.sqrt(8760.0)))
      .when(col("sum_x") > 0.0, lit(Double.PositiveInfinity))
      .when(col("sum_x") < 0.0, lit(Double.NegativeInfinity))
      .otherwise(lit(Double.NaN))
    val sharpe = tl
      .withColumn("ms", expr("ts_us div 1000 - (CASE WHEN ts_us % 1000 < 0 THEN 1 ELSE 0 END)"))
      .groupBy("symbol")
      .agg(
        ExactNum.sumExact(xs, 1e9).as("sum_x"),
        (max(col("ms")) - min(col("ms"))).cast("double").as("span_ms"),
        stddev_pop(xs).as("sigma"))
      .select(
        col("symbol"),
        when(col("sigma").isNull || col("sigma") === 0.0, lit(-1e50))
          .when(abs(raw) < lit(1e14),
            floor(raw * lit(1e4) + lit(0.5)).cast("double") / lit(1e4))
          .otherwise(raw)
          .as("sharpe_ratio"))
    pnlSummary
      .join(drawdown, Seq("symbol"), "left")
      .join(sharpe, Seq("symbol"), "left")
  }

  /** Eight trial configurations shaped like a hyper-parameter sweep's. */
  private val sweepCfgs: Seq[PnlConfig] = {
    val r = new scala.util.Random(23)
    val modes = Seq(InventoryMode.Fifo, InventoryMode.Lifo, InventoryMode.WorstPrice)
    (0 until 8).map { i =>
      val roi0 = 0.02 + r.nextInt(80) / 1000.0
      PnlConfig(
        roi = Map(0 -> roi0, (10 + r.nextInt(60)) -> roi0 / 2, (120 + r.nextInt(240)) -> roi0 / 5),
        stoploss = -(0.01 + r.nextInt(90) / 1000.0),
        enableShortPosition = i % 2 == 0,
        maxPositionPerSymbol = 1 + i % 3,
        feeRate = r.nextInt(4) / 1000.0,
        laidBackTax = r.nextInt(3) / 10000.0,
        inventoryMode = modes(i % 3))
    }
  }

  private def barsOf(rows: Seq[(Long, Long, Long, Double, Int, Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("symbol", "ts_us", "event_id", "close", "buy", "sell")
  }

  /** σ = 0, a zero span (±inf and 0/0), no closed trades. */
  private lazy val degenerateBars = barsOf(Seq(
    (10L, 1000L * 1000, 1L, 100.0, 1, 0), (10L, 2000L * 1000, 2L, 100.0, 0, 0),
    (10L, 3000L * 1000, 3L, 100.0, 0, 0), // constant price: σ = 0
    (20L, 5000L * 1000, 4L, 50.0, 1, 0), // single bar: σ = 0
    (30L, 6000L * 1000, 5L, 10.0, 1, 0), // three bars inside one ms,
    (30L, 6000L * 1000 + 300, 6L, 20.0, 0, 0), // rising: +inf
    (30L, 6000L * 1000 + 600, 7L, 40.0, 0, 0),
    (40L, 7000L * 1000, 8L, 5.0, 0, 0), (40L, 8000L * 1000, 9L, 6.0, 0, 0), // no signals
    (50L, 9000L * 1000, 10L, 40.0, 1, 0), // falling inside one ms: -inf
    (50L, 9000L * 1000 + 300, 11L, 20.0, 0, 0),
    (50L, 9000L * 1000 + 600, 12L, 10.0, 0, 0),
    // inside one ms, unit sum of (mtm − 1e-6) exactly 0 with σ > 0: NaN
    // (units −1000, +999000, −998000)
    (60L, 4000L * 1000, 13L, 1.0, 1, 0),
    (60L, 4000L * 1000 + 300, 14L, 1.001, 0, 0),
    (60L, 4000L * 1000 + 600, 15L, 1.000003, 0, 0),
    (70L, 1000L * 1000, 16L, 10.0, 1, 0), (70L, 2000L * 1000, 17L, 12.0, 0, 1),
    (70L, 3000L * 1000, 18L, 9.0, 1, 0), (70L, 4000L * 1000, 19L, 8.0, 0, 1)))

  /** Bars before 1970 off ms boundaries: the span's ms must floor (−2001
    * ms here, where truncation gives −2000).
    */
  private lazy val pre1970Bars = barsOf(Seq(
    (1L, -2000500L, 1L, 10.0, 1, 0), (1L, -1500250L, 2L, 12.0, 0, 0),
    (1L, -700100L, 3L, 11.0, 0, 0), (1L, 700L, 4L, 13.0, 0, 1),
    (2L, -90001L, 5L, 5.0, 0, 1), (2L, -1L, 6L, 4.0, 0, 0), (2L, 999L, 7L, 4.5, 1, 0)))

  /** Per-bar mtm near ±5e9, so cumulative units pass ±2^63 (a long-only
    * rise on symbol 1, a short squeezed on symbol 2) while every row's
    * units stay below it.
    */
  private lazy val hugeBars = barsOf(Seq(
    (1L, 1000000L, 1L, 1e-3, 1, 0), (1L, 2000000L, 2L, 5e6, 0, 0),
    (1L, 3000000L, 3L, 1e7, 0, 0), (1L, 4000000L, 4L, 5e6, 0, 0),
    (1L, 5000000L, 5L, 1e-3, 0, 0),
    (2L, 1000000L, 6L, 1e-3, 0, 1), (2L, 2000000L, 7L, 5e6, 0, 0),
    (2L, 3000000L, 8L, 1e7, 0, 0)))

  /** Every summary surface — calculate's summary and the three lazy
    * queries — equals the reference bit for bit; returns the reference.
    */
  private def assertSummaryMatches(what: String, bars: DataFrame, cfg: PnlConfig): DataFrame = {
    val ref = refSummary(MtmEngine.timeline(bars, cfg), MtmEngine.blotter(bars, cfg))
    val expect = bitBag(ref)
    assert(expect.nonEmpty, what)
    assert(bitBag(MtmRunner.calculate(bars, cfg).summary) == expect, s"$what: calculate")
    def part(cs: String*) = bitBag(ref.select(cs.map(col): _*))
    assert(bitBag(MtmEngine.pnlSummary(bars, cfg)) ==
      part("symbol", "pnl", "n_trades", "win_rate", "avg_holding_secs"), s"$what: pnlSummary")
    assert(bitBag(MtmEngine.maxDrawdown(bars, cfg)) == part("symbol", "max_drawdown"),
      s"$what: maxDrawdown")
    assert(bitBag(MtmEngine.sharpeRatio(bars, cfg)) == part("symbol", "sharpe_ratio"),
      s"$what: sharpeRatio")
    ref
  }

  test("summary folded in the walk equals the window/aggregate formulas bit for bit") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    assertSummaryMatches("everyPathCfg", bars, everyPathCfg)
    sweepCfgs.zipWithIndex.foreach { case (cfg, i) =>
      assertSummaryMatches(s"sweep config $i", bars, cfg)
    }
  }

  test("summary fold: degenerate bars, pre-1970 bars and unit sums past 2^63") {
    val ref = assertSummaryMatches("degenerate", degenerateBars, PnlConfig.default)
      .collect().map(r => r.getLong(0) -> r).toMap
    def sharpe(sym: Long) = ref(sym).getDouble(ref(sym).fieldIndex("sharpe_ratio"))
    assert(sharpe(10L) == -1e50 && sharpe(20L) == -1e50)
    assert(sharpe(30L).isPosInfinity && sharpe(50L).isNegInfinity && sharpe(60L).isNaN)
    for (sym <- Seq(20L, 40L)) {
      val r = ref(sym)
      assert(r.getLong(r.fieldIndex("n_trades")) == 0L)
      assert(r.isNullAt(r.fieldIndex("win_rate")) && r.isNullAt(r.fieldIndex("avg_holding_secs")))
    }
    assert(ref(70L).getLong(ref(70L).fieldIndex("n_trades")) == 2L)

    val pre = assertSummaryMatches("pre-1970", pre1970Bars, everyPathCfg)
      .collect().map(r => r.getDouble(r.fieldIndex("sharpe_ratio")))
    assert(pre.forall(x => x != -1e50 && !x.isInfinite && !x.isNaN), pre.toSeq)

    val shorts = PnlConfig(enableShortPosition = true)
    val huge = assertSummaryMatches("past 2^63", hugeBars, shorts)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(huge(1L).getDouble(huge(1L).fieldIndex("max_drawdown")) > 9.3e9)
    val cumUnits = MtmEngine.timeline(hugeBars, shorts)
      .groupBy("symbol").agg(sum(ExactNum.units(col("mtm_ratio"), 1e9)).as("u"))
      .collect().map(r => r.getLong(0) -> BigInt(r.getDecimal(1).toBigIntegerExact)).toMap
    val peak1 = MtmEngine.timeline(hugeBars, shorts).filter(col("symbol") === 1L)
      .orderBy("ts_us").select("mtm_ratio").collect().map(r => ExactNum.unitsOf(r.getDouble(0), 1e9))
      .scanLeft(BigInt(0))(_ + _).max
    assert(peak1 > BigInt(Long.MaxValue), s"symbol 1's running sum peaks at $peak1")
    assert(cumUnits(2L) < BigInt(Long.MinValue), s"symbol 2's unit sum ${cumUnits(2L)}")
  }

  /** Spark jobs run, and shuffle bytes written, by `body` on this thread. */
  private def jobCost(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobCost"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, null)
      // listener events are delivered asynchronously: drain the bus
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE).invoke(bus, Long.box(60000L))
      sc.removeSparkListener(listener)
    }
    (jobs.get, shuffleBytes.get)
  }

  test("calculate's summary costs one job and no shuffle; sliced walks emit no summary") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val res = MtmRunner.calculate(bars, everyPathCfg)
    var rows = 0
    val (jobs, shuffleBytes) = jobCost { rows = res.summary.collect().length }
    assert(rows == bars.select("symbol").distinct().count())
    assert(jobs == 1, s"summary.collect() ran $jobs jobs")
    assert(shuffleBytes == 0L, s"summary.collect() wrote $shuffleBytes shuffle bytes")

    val Array(lo, hi) = bars.agg(min(col("ts_us")), max(col("ts_us"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    for (cuts <- Seq(Seq.empty[Long], Seq(lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3))) {
      val parts = MtmEngine.slicedWalks(bars, everyPathCfg, cuts)
      assert(parts.length == cuts.length + 1)
      parts.zipWithIndex.foreach { case (p, i) =>
        assert(p.filter(col("kind") === "sm").isEmpty, s"cuts $cuts: slice $i holds summary rows")
      }
    }
  }
}
