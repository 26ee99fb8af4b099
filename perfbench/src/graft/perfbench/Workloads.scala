package graft.perfbench

import scala.collection.mutable

import graft.Tables
import graft.core.{InventoryMode, PnlConfig, TradeBook}
import graft.operators.{ConnectedComponents, CorpusPipeline, Dedup, MtmEngine, MtmRunner}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one pass returns: the digest of its outputs, failed checks,
  * one latency per checked call unit (ms), how many of those units
  * failed a check, and workload facts that the traced run reports as
  * per-layer counts.
  */
final case class PassOut(
    digest: String, failures: Seq[String], unitMs: Seq[Double], failedUnits: Int,
    facts: Map[String, Double] = Map.empty)

/** A benchmark workload: seeded inputs written under `dir`, expected
  * outputs computed without Spark, and a pass of calls into graft's
  * public entry points whose outputs are checked.
  */
trait Workload {
  def name: String
  /** Input rows (bars or documents) one pass processes. */
  def rowsPerPass: Long
  /** Generated sizes and properties, one line. */
  def describe: String
  /** Expected outputs, from the generator alone. */
  def reference(): Unit
  /** Writes the inputs (part of set-up). */
  def generate(spark: SparkSession): Unit
  def pass(spark: SparkSession, tr: Tracer): PassOut
  /** Single-thread `TradeBook.step` cost over the workload's bars. */
  def tradeBookNsPerBar(): Double = 0.0
}

object Workload {
  def apply(name: String, seed: Long, dir: String): Workload = name match {
    case "mtm_bulk" => new MtmWorkload(name, seed, dir, symbols = 5000, bars = 4000000L,
      skew = 0.75, files = 8, configs = IndexedSeq(Mtm.bulkConfig), adapter = false)
    // sf0.1's events shape: 1.5k symbols of near-equal depth. Its 100k
    // bars put the engine's exchange at two partitions after AQE
    // coalescing; the generated bars compress better and need about
    // 110k to do the same (and stay there up to at least 190k), so 150k
    // keeps every seed on sf0.1's side of that switch.
    case "mtm_sweep" => new MtmWorkload(name, seed, dir, symbols = 1500, bars = 150000L,
      skew = 0.0, files = 1, configs = Mtm.sweepConfigs(seed, 8), adapter = true)
    case "corpus_dedup" => new CorpusDedup(seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Per-symbol expected engine result: Σ mtm in exact 1e-9 units, and
  * the closed and still-open trade counts.
  */
final case class Expect(units: Long, closed: Int, open: Int)

/** Sequential replay of the engine over generated bars: one TradeBook
  * per symbol in (ts, event_id) order, exactly as the engine's
  * per-partition runner drives it.
  */
final class Replay(seed: Long, specs: IndexedSeq[Gen.SymbolSpec]) {
  private val ts = new Array[Array[Long]](specs.length)
  private val close = new Array[Array[Double]](specs.length)
  private val sig = new Array[Array[Byte]](specs.length)
  specs.indices.foreach { i =>
    val bars = Gen.symbolBars(seed, specs(i)).toArray
    ts(i) = bars.map(_.tsUs); close(i) = bars.map(_.close)
    sig(i) = bars.map(b => (if (b.buy) 1 else if (b.sell) 2 else 0).toByte)
  }
  val bars: Long = specs.map(_.count.toLong).sum

  def run(cfg: PnlConfig): Map[Long, Expect] =
    specs.indices.map { i =>
      val book = new TradeBook(cfg)
      var prev = Double.NaN
      var units = 0L
      var closed = 0
      val t = ts(i); val c = close(i); val s = sig(i)
      var k = 0
      while (k < t.length) {
        val diff = if (prev.isNaN) Double.NaN else c(k) - prev
        prev = c(k)
        units += math.floor(book.step(t(k), c(k), diff, s(k) == 1, s(k) == 2) * 1e9 + 0.5).toLong
        closed += book.drainTrades().size
        k += 1
      }
      specs(i).symbol -> Expect(units, closed, book.flushOpen().size)
    }.toMap

  /** ns per bar of `run`, best of three (the kernel runs on one thread). */
  def nsPerBar(cfg: PnlConfig): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime(); run(cfg); (System.nanoTime() - t0).toDouble / bars
    }.min
}

object Mtm {
  /** Every TradeBook path: stacked positions closed worst-price first,
    * shorts, an ROI ladder, a stop-loss, fees and laid-back tax.
    */
  val bulkConfig: PnlConfig = PnlConfig(
    roi = Map(0 -> 0.06, 30 -> 0.03, 240 -> 0.01), stoploss = -0.05,
    enableShortPosition = true, maxPositionPerSymbol = 3, feeRate = 0.001,
    laidBackTax = 0.0001, inventoryMode = InventoryMode.WorstPrice)

  /** `n` seeded trial configurations of a hyper-parameter sweep. */
  def sweepConfigs(seed: Long, n: Int): IndexedSeq[PnlConfig] = {
    val r = new java.util.SplittableRandom(seed * 31 + 17)
    val modes = Array(InventoryMode.Fifo, InventoryMode.Lifo, InventoryMode.WorstPrice)
    (0 until n).map { _ =>
      val roi0 = 0.02 + r.nextInt(80) / 1000.0
      PnlConfig(
        roi = Map(0 -> roi0, (10 + r.nextInt(60)) -> roi0 / 2, (120 + r.nextInt(240)) -> roi0 / 5),
        stoploss = -(0.01 + r.nextInt(90) / 1000.0),
        enableShortPosition = r.nextBoolean(),
        maxPositionPerSymbol = 1 + r.nextInt(3),
        feeRate = r.nextInt(4) / 1000.0,
        laidBackTax = r.nextInt(3) / 10000.0,
        inventoryMode = modes(r.nextInt(modes.length)))
    }
  }

  def bars(spark: SparkSession, dir: String, tr: Tracer) =
    tr.span("tables.events")(MtmEngine.barsFromEvents(Tables.events(spark, dir)))

  /** The hyper-opt adapter's mapping of an expected pnl. */
  def adapted(pnl: Double): Double = if (math.abs(pnl) < 1e-12) -1e50 else pnl

  /** Checks a collected summary (symbol, pnl, n_trades, …) against the
    * expected per-symbol results; `pnlOf` maps expected units to pnl.
    */
  def checkSummary(what: String, rows: Array[Row], expect: Map[Long, Expect],
      pnlOf: Long => Double): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    if (rows.length != expect.size) f += s"$what: ${rows.length} summary rows for ${expect.size} symbols"
    val bad = rows.count { r =>
      val e = expect.get(r.getAs[Long]("symbol"))
      e.forall(x => r.getAs[Double]("pnl") != pnlOf(x.units) || r.getAs[Long]("n_trades") != x.closed)
    }
    if (bad > 0) f += s"$what: $bad symbols disagree with the sequential replay (pnl or n_trades)"
    f.toSeq
  }

  def hashAll(cols: Seq[String]) = sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))
}

/** An MTM workload: `configs` trials in order over one generated events
  * table of `symbols` symbols and `bars` bars (depth Zipf(`skew`)) in
  * `files` parquet files.
  * Each trial builds its frames from the input path and collects the
  * summary (through the hyper-opt adapter when `adapter`); the first
  * trial of a pass also materializes the blotter and the timeline, so
  * every pass checks and digests all three outputs.
  */
final class MtmWorkload(
    val name: String, seed: Long, dir: String, symbols: Int, bars: Long, skew: Double,
    files: Int, configs: IndexedSeq[PnlConfig], adapter: Boolean)
    extends Workload {
  private val specs = Gen.symbolSpecs(seed, symbols, bars, skew)
  val rowsPerPass: Long = bars * configs.length
  private val counts = specs.map(s => s.symbol -> s.count.toLong).toMap
  private var replay: Replay = _
  private var expect: IndexedSeq[Map[Long, Expect]] = IndexedSeq.empty

  private def pnlOf(units: Long): Double =
    if (adapter) Mtm.adapted(units / 1e9) else units / 1e9

  def describe: String =
    s"files=$files configs=${configs.length} ${Gen.eventsShape(seed, specs).describe}"

  def reference(): Unit = {
    replay = new Replay(seed, specs)
    expect = configs.map(replay.run)
  }

  override def tradeBookNsPerBar(): Double = replay.nsPerBar(configs.head)

  def generate(spark: SparkSession): Unit = Gen.writeEvents(spark, dir, seed, specs, files)

  def pass(spark: SparkSession, tr: Tracer): PassOut = {
    val f = mutable.ArrayBuffer.empty[String]
    var d = Digest.empty
    var blotterAndTimeline = ""
    var failedTrials = 0
    val ms = configs.indices.map { i =>
      val t0 = System.nanoTime()
      val b = Mtm.bars(spark, dir, tr)
      val res = tr.span("mtm_runner.calculate")(MtmRunner.calculate(b, configs(i)))
      val summary = if (adapter) MtmRunner.hyperOptAdapter(res.summary) else res.summary
      val rows = tr.span("mtm_runner.summary")(summary.collect())
      val (full, fullBad) = if (i == 0) materialize(res, rows, expect(i), tr) else ("", Nil)
      val dt = (System.nanoTime() - t0) / 1e6
      val bad = Mtm.checkSummary(s"$name trial $i", rows, expect(i), pnlOf) ++ fullBad
      if (bad.nonEmpty) failedTrials += 1
      f ++= bad
      d = d + Digest.of(rows.map(_.toSeq))
      if (i == 0) blotterAndTimeline = full
      graft.Sessions.dropAllCaches(spark)
      dt
    }
    PassOut(s"summaries=$d $blotterAndTimeline", f.toSeq, ms, failedTrials)
  }

  /** Materializes a trial's blotter and timeline as per-symbol
    * aggregates and checks them: one timeline row per input bar, Σ
    * timeline mtm equal to the summary pnl in exact 1e-9 units, and
    * closed and open trade counts equal to the sequential replay.
    * Returns their digests and the failed checks.
    */
  private def materialize(res: MtmRunner.MtmResult, summary: Array[Row],
      expect: Map[Long, Expect], tr: Tracer): (String, Seq[String]) = {
    val trades = tr.span("mtm_runner.trades")(res.trades.groupBy("symbol").agg(
      count(lit(1)), count(when(col("is_closed"), 1)), Mtm.hashAll(res.trades.columns.toSeq))
      .collect())
    val timeline = tr.span("mtm_runner.timeline")(res.timeline.groupBy("symbol").agg(
      count(lit(1)), sum(floor(col("mtm_ratio") * lit(1e9) + lit(0.5))),
      Mtm.hashAll(res.timeline.columns.toSeq)).collect())
    val f = mutable.ArrayBuffer.empty[String]
    if (timeline.map(_.getLong(1)).sum != bars ||
        timeline.exists(r => counts.get(r.getLong(0)).forall(_ != r.getLong(1))))
      f += s"$name: timeline rows != input bars for some symbol"
    val tlUnits = timeline.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val unitsBad = summary.count { r =>
      tlUnits.get(r.getAs[Long]("symbol")).forall(u => pnlOf(u) != r.getAs[Double]("pnl"))
    }
    if (unitsBad > 0) f += s"$name: $unitsBad symbols: summary pnl != Σ timeline mtm in 1e-9 units"
    val tradesBad = trades.count { r =>
      expect.get(r.getLong(0)).forall(e => r.getLong(1) != e.closed + e.open || r.getLong(2) != e.closed)
    }
    if (tradesBad > 0 || trades.length != expect.count(e => e._2.closed + e._2.open > 0))
      f += s"$name: trade blotter disagrees with the sequential replay on $tradesBad symbols"
    val dt = trades.map(r => Digest.fromSum(r.getLong(1), r.getDecimal(3))).foldLeft(Digest.empty)(_ + _)
    val dl = timeline.map(r => Digest.fromSum(r.getLong(1), r.getDecimal(3))).foldLeft(Digest.empty)(_ + _)
    (s"trades=$dt timeline=$dl", f.toSeq)
  }
}

final class CorpusDedup(seed: Long, dir: String) extends Workload {
  val name = "corpus_dedup"
  private val corpus = Gen.corpus(seed, 1000)
  val rowsPerPass: Long = corpus.docs.size.toLong
  private val emailOrIp = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}|10\\.[0-9]+\\.0\\.[0-9]+"

  def describe: String = {
    val (link, skip) = corpus.chainJaccards
    f"${corpus.describe} min_link_jaccard=$link%.4f max_skip_jaccard=$skip%.4f"
  }

  def reference(): Unit = {
    val (link, skip) = corpus.chainJaccards
    require(link >= 0.8 && skip < 0.8,
      s"generator broke its chain plant: link jaccard $link, two-link jaccard $skip")
    // ngramJaccardPairs switches plan at 10 % copies; the benchmark
    // measures the plan graft's own test data takes, below the switch
    require(corpus.exactCopyShare < 0.05,
      s"generator left the below-switch dedup plan: ${corpus.exactCopyShare} copies")
  }

  def generate(spark: SparkSession): Unit = Gen.writeDocuments(spark, dir, corpus)

  def pass(spark: SparkSession, tr: Tracer): PassOut = {
    val t0 = System.nanoTime()
    val docs = tr.span("tables.documents")(Tables.documents(spark, dir))
    val cleaned = tr.span("corpus.clean_corpus")(
      CorpusPipeline.cleanCorpus(docs, redactPii = true, gopherRules = true))
    val kept = tr.span("corpus.exec")(cleaned.select(
      col("doc_id"), col("quality_score"), xxhash64(col("text")),
      col("text").rlike(emailOrIp)).collect())
    val pairs = tr.span("dedup.ngram_jaccard_pairs")(
      Dedup.ngramJaccardPairs(docs, maxShingleDf = Some(1000)))
    val pairRows = tr.span("dedup.exec")(pairs.collect())
    val prop = tr.span("cc.dup_groups")(ConnectedComponents.dupGroups(pairs))
    val propRows = tr.span("cc.exec")(prop.collect())
    val star = tr.span("cc.dup_groups_star")(
      ConnectedComponents.dupGroups(pairs, starContraction = true))
    val starRows = tr.span("cc_star.exec")(star.collect())
    val ms = (System.nanoTime() - t0) / 1e6

    val f = mutable.ArrayBuffer.empty[String]
    // cleaned corpus
    val keptIds = kept.map(_.getLong(0))
    if (keptIds.distinct.length != keptIds.length) f += "cleaned corpus repeats a doc_id"
    if (keptIds.exists(id => id < 0 || id >= corpus.docs.size)) f += "cleaned corpus invents a doc_id"
    if (kept.exists(_.getBoolean(3))) f += "cleaned corpus still holds an email or IP"
    val keptSet = keptIds.toSet
    if (corpus.families.exists(fm => fm.exact && fm.ids.count(keptSet) > 1))
      f += "cleaned corpus keeps two members of an exact-duplicate set"
    // pairs
    val edges = pairRows.map(r => (r.getAs[Long]("doc_id_a"), r.getAs[Long]("doc_id_b")))
    if (pairRows.exists(r => r.getAs[Long]("doc_id_a") >= r.getAs[Long]("doc_id_b") ||
        r.getAs[Double]("jaccard") < 0.8)) f += "a pair is unordered or below the threshold"
    val edgeSet = edges.toSet
    val chains = corpus.families.filterNot(_.exact).map(_.ids)
    if (chains.exists(_.sliding(2).exists(l => !edgeSet((l(0), l(1))))))
      f += "a planted chain link is missing from the pairs"
    if (chains.exists(_.sliding(3).exists(l => l.size == 3 && edgeSet((l(0), l(2))))))
      f += "a pair joins chain members two links apart"
    if (corpus.families.filter(_.exact).exists(_.ids.combinations(2).exists(p => !edgeSet((p(0), p(1))))))
      f += "a planted exact-duplicate pair is missing"
    // groups
    val expected = Components.minLabels(edges)
    Seq("propagation" -> propRows, "star" -> starRows).foreach { case (algo, rows) =>
      val labels = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id"))
      if (labels.map(_._1).distinct.length != labels.length)
        f += s"$algo: a document lands in more than one group"
      if (labels.toMap != expected)
        f += s"$algo: groups differ from the components of the pairs (min member id labels)"
    }
    if (propRows.map(r => (r.getLong(0), r.getLong(1))).toSet !=
        starRows.map(r => (r.getLong(0), r.getLong(1))).toSet)
      f += "propagation and star labelings differ"
    val dk = Digest.of(kept.map(r => Seq(r.get(0), r.get(1), r.get(2))))
    val dp = Digest.of(pairRows.map(_.toSeq))
    val dg = Digest.of(propRows.map(_.toSeq))
    PassOut(s"cleaned=$dk pairs=$dp groups=$dg", f.toSeq, Seq(ms), if (f.isEmpty) 0 else 1, Map(
      "dedup.pairs" -> pairRows.length.toDouble,
      "cc.groups" -> propRows.map(_.getAs[Long]("group_id")).distinct.length.toDouble,
      "corpus.kept_ratio" -> kept.length.toDouble / corpus.docs.size))
  }
}

/** Connected components by union-find: vertex → smallest member id. */
object Components {
  def minLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }
}
