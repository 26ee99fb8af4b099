package graft.operators

import graft.{Sessions, Tables}
import graft.core.{InventoryMode, PnlConfig, RefSim}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
}
