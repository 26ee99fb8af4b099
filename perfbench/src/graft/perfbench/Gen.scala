package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed always yields the same rows;
  * every table uses the TESTDATA schema of its name, so it flows
  * through `graft.Tables` exactly like the shipped test data.
  */
object Gen {

  /** One symbol's share of an events table: `count` bars whose
    * event ids are `firstId until firstId + count`.
    */
  final case class SymbolSpec(symbol: Long, count: Int, firstId: Long)

  /** One engine bar as the engine sees it after `barsFromEvents`. */
  final case class Bar(tsUs: Long, eventId: Long, close: Double, buy: Boolean, sell: Boolean)

  final case class EventsShape(
      symbols: Int, bars: Long, maxSymbolBars: Int, depthP50: Int, depthP90: Int,
      depthP99: Int, buyShare: Double, sellShare: Double) {
    def describe: String =
      f"symbols=$symbols bars=$bars max_symbol_bars=$maxSymbolBars " +
        f"depth_p50/p90/p99=$depthP50/$depthP90/$depthP99 " +
        f"buy_share=$buyShare%.4f sell_share=$sellShare%.4f"
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Per-symbol bar counts: a Zipf(`skew`) law over randomly permuted
    * symbol ids, so with `skew` > 0 the counts are heavy-tailed and the
    * largest symbol lands on a seed-dependent partition; `skew` 0 gives
    * every symbol the same depth. Counts sum exactly to `bars`.
    */
  def symbolSpecs(seed: Long, symbols: Int, bars: Long, skew: Double): IndexedSeq[SymbolSpec] = {
    val w = (1 to symbols).map(r => math.pow(r.toDouble, -skew))
    val total = w.sum
    val base = w.map(x => math.max(1L, math.floor(bars * x / total).toLong))
    var rest = bars - base.sum
    val counts = base.toArray
    var i = 0
    while (rest > 0) { counts(i % symbols) += 1; rest -= 1; i += 1 }
    val rnd = new SplittableRandom(mix(seed, 1L))
    val ids = Array.tabulate(symbols)(i => i.toLong)
    for (j <- symbols - 1 to 1 by -1) {
      val k = rnd.nextInt(j + 1); val t = ids(j); ids(j) = ids(k); ids(k) = t
    }
    var next = 0L
    counts.indices.map { r =>
      val s = SymbolSpec(ids(r), counts(r).toInt, next); next += counts(r); s
    }.sortBy(_.symbol)
  }

  /** The bars of one symbol, in (ts, event_id) order: 1–120 s gaps, a
    * multiplicative (hence positive) random walk in cents, and 20 % buy
    * / 20 % sell signals.
    */
  def symbolBars(seed: Long, spec: SymbolSpec): Iterator[Bar] = {
    val rnd = new SplittableRandom(mix(seed, 1000003L + spec.symbol))
    var ts = 1704067200000000L + rnd.nextLong(3600000000L) // 2024-01-01 + <1 h
    var px = 10.0 + rnd.nextInt(19000) / 100.0
    Iterator.tabulate(spec.count) { k =>
      ts += 1000000L * (1 + rnd.nextInt(120)) + rnd.nextInt(1000000)
      px = px * math.exp(0.01 * rnd.nextGaussian())
      val close = math.max(0.01, math.rint(px * 100.0) / 100.0)
      val u = rnd.nextInt(100)
      Bar(ts, spec.firstId + k, close, buy = u < 20, sell = u >= 20 && u < 40)
    }
  }

  private val holdTypes = Array("view", "view", "error", "signup")

  /** Writes `<dir>/events.parquet` as `files` parquet files. */
  def writeEvents(spark: SparkSession, dir: String, seed: Long,
      specs: IndexedSeq[SymbolSpec], files: Int): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(specs, files).flatMap { s =>
      symbolBars(seed, s).map { b =>
        val kind =
          if (b.buy) "purchase" else if (b.sell) "click"
          else holdTypes((b.eventId % holdTypes.length).toInt)
        (b.eventId, b.tsUs, s.symbol, kind, b.close, s"""{"k": ${b.eventId % 100}}""")
      }
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
  }

  def eventsShape(seed: Long, specs: IndexedSeq[SymbolSpec]): EventsShape = {
    val depths = specs.map(_.count).sorted
    def q(p: Double) = depths(math.min(depths.length - 1, (p * depths.length).toInt))
    var buys = 0L; var sells = 0L
    specs.foreach(s => symbolBars(seed, s).foreach { b =>
      if (b.buy) buys += 1; if (b.sell) sells += 1
    })
    val n = specs.map(_.count.toLong).sum
    EventsShape(specs.length, n, depths.last, q(0.5), q(0.9), q(0.99),
      buys.toDouble / n, sells.toDouble / n)
  }

  // ---- documents ----

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** A planted duplicate family: an exact-duplicate set, or a
    * near-duplicate chain with `ids` in chain order.
    */
  final case class Family(ids: IndexedSeq[Long], exact: Boolean)

  final case class Corpus(docs: IndexedSeq[Doc], families: IndexedSeq[Family]) {
    /** (smallest Jaccard of a chain link, largest Jaccard two links
      * apart): the planted chains hold only if the first is >= 0.8 and
      * the second below it.
      */
    def chainJaccards: (Double, Double) = {
      val chains = families.filterNot(_.exact).map(_.ids.map(id => docs(id.toInt).text))
      val links = chains.flatMap(_.sliding(2).collect { case Seq(a, b) => jaccard(a, b) })
      val skips = chains.flatMap(_.sliding(3).collect { case Seq(a, _, c) => jaccard(a, c) })
      (links.minOption.getOrElse(1.0), skips.maxOption.getOrElse(0.0))
    }

    /** Share of documents that are exact copies under graft's
      * fingerprint normalization (lowercase, whitespace runs collapsed,
      * trimmed): 1 − distinct fingerprints / documents.
      */
    def exactCopyShare: Double =
      1.0 - docs.map(d => d.text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim)
        .distinct.size.toDouble / docs.size

    def describe: String = {
      val chains = families.filterNot(_.exact)
      val exact = families.filter(_.exact)
      val sizes = families.groupBy(_.ids.size).toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k:${v.size}" }.mkString(",")
      s"documents=${docs.size} exact_dup_sets=${exact.size} chain_families=${chains.size} " +
        s"family_sizes={$sizes} max_chain_depth=${chains.map(_.ids.size - 1).maxOption.getOrElse(0)} " +
        f"exact_copy_share=$exactCopyShare%.4f " +
        s"pii_docs=${docs.count(_.text.contains("@ex"))} " +
        s"structured_docs=${docs.count(_.text.contains("\n- "))}"
    }
  }

  private val stopWords = Array("the", "be", "to", "of", "and", "that", "have", "with")

  private def vocabulary(rnd: SplittableRandom, n: Int): Array[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + rnd.nextInt(4)
      seen += (0 until len).map(_ => letters(rnd.nextInt(26))).mkString
    }
    seen.toArray
  }

  /** Word 3-gram shingle set, tokenized as graft's shingle generator does. */
  def shingles(text: String): Set[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val x = shingles(a); val y = shingles(b)
    (x intersect y).size.toDouble / (x union y).size
  }

  /** `n` (at least 200) documents of word soup over a seeded
    * vocabulary, with planted exact-duplicate sets (some re-cased, which
    * the fingerprint normalizes), near-duplicate chains A~B~C… whose links are two
    * word substitutions apart (Jaccard 0.81–0.89 per link, below 0.8
    * over two links, so A~C is not a pair), PII (emails, phones, IPs) and
    * multi-line Gopher structure (bullets, ellipses, short docs).
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val rnd = new SplittableRandom(mix(seed, 7L))
    val vocab = vocabulary(rnd, 4000)
    def soup(words: Int): Array[String] = Array.fill(words) {
      if (rnd.nextInt(4) == 0) stopWords(rnd.nextInt(stopWords.length))
      else vocab(rnd.nextInt(vocab.length))
    }
    // one link = 2 substitutions; every substituted position of a chain
    // is distinct and >= 3 from the others, so each removes exactly its
    // own 3 shingles: J(link) = (S-6)/(S+6), J(two links) = (S-12)/(S+12)
    // for S shingles, i.e. >= 0.8 and < 0.8 for 60..99 words
    def mutate(words: Array[String], slots: Iterator[Int]): Array[String] = {
      val out = words.clone()
      for (_ <- 0 until 2) {
        val pos = slots.next()
        var w = out(pos)
        while (w == out(pos)) w = vocab(rnd.nextInt(vocab.length))
        out(pos) = w
      }
      out
    }
    // a fixed family plan, so every seed runs the same amount of dedup
    // work: n/100 chains of each size 2..5, and n/200 exact-duplicate
    // triples — 1 % copies. graft's own documents test data holds 0.16 %
    // (sf0.1) and 0 % (sf0.01) copies, below ngramJaccardPairs' 10 %
    // switch to its canonical-representative plan, so the corpus stays
    // on that side and well clear of the switch (the plan's copy
    // estimate is approximate: near 10 % it would pick the plan by seed)
    val docs = Array.ofDim[String](n)
    val families = IndexedSeq.newBuilder[Family]
    var i = 0
    for (size <- 2 to 5; _ <- 0 until n / 100) {
      var cur = soup(60 + rnd.nextInt(40))
      val slotArr = Array.tabulate(cur.length / 3 - 1)(s => 3 * s + 1)
      for (j <- slotArr.length - 1 to 1 by -1) {
        val k = rnd.nextInt(j + 1); val t = slotArr(j); slotArr(j) = slotArr(k); slotArr(k) = t
      }
      val slots = slotArr.iterator
      val ids = (0 until size).map { k =>
        if (k > 0) cur = mutate(cur, slots)
        docs(i + k) = cur.mkString(" "); (i + k).toLong
      }
      families += Family(ids, exact = false); i += size
    }
    for (_ <- 0 until n / 200) {
      // later copies sometimes re-cased, which the fingerprint normalizes
      val text = soup(60 + rnd.nextInt(60)).mkString(" ")
      val ids = (0 until 3).map { k =>
        docs(i + k) = if (k > 0 && rnd.nextBoolean()) text.toUpperCase(java.util.Locale.ROOT) else text
        (i + k).toLong
      }
      families += Family(ids, exact = true); i += 3
    }
    while (i < n) {
      val words = if (rnd.nextInt(25) == 0) 20 + rnd.nextInt(25) else 50 + rnd.nextInt(70)
      docs(i) = soup(words).mkString(" "); i += 1
    }
    val fams = families.result()
    // PII and structure go to documents outside families only: appended
    // per-document text would shift the planted links' Jaccard
    val inFamily = fams.flatMap(_.ids).toSet
    val langs = Array("en", "en", "en", "de", "fr", "zh")
    val out = docs.indices.map { k =>
      val r = new SplittableRandom(mix(seed, 31L * k + 5))
      val plain = inFamily.contains(k.toLong)
      val pii =
        if (!plain && r.nextInt(10) < 3)
          s"\ncontact u$k@ex${k % 7}.org or +1-555-${1000 + r.nextInt(9000)} from 10.${r.nextInt(256)}.0.${r.nextInt(250)}"
        else ""
      val structure = (if (plain) 3 else r.nextInt(20)) match {
        case 0 => "\n" + Seq.fill(12)("- item list entry").mkString("\n")
        case 1 => "\n" + Seq.fill(8)("and so it goes on ...").mkString("\n")
        case 2 => "\n" + Seq.fill(30)("#").mkString(" ")
        case _ => ""
      }
      Doc(k.toLong, docs(k) + pii + structure, langs(r.nextInt(langs.length)), s"src${r.nextInt(5)}")
    }
    Corpus(out, fams)
  }

  def writeDocuments(spark: SparkSession, dir: String, corpus: Corpus): Unit = {
    import spark.implicits._
    corpus.docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }
}
