package graft.perfbench

/** Tests of the benchmark's pure parts; exits non-zero on a failure.
  * Run with `python3 perfbench/tests/run_tests.py`.
  */
object PureChecks {
  private var failures = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $what")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val xs = (1 to 40).map(_.toDouble)
    check("median of odd and even samples") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("tail of 40 samples is p75, with 10 samples beyond") {
      Stats.tail(xs) == Some((75, 30.0)) && xs.count(_ > 30.0) == 10
    }
    check("tail of 1000 samples is p99") {
      Stats.tail((1 to 1000).map(_.toDouble)) == Some((99, 990.0))
    }
    check("tail is undefined below 20 samples") {
      Stats.tail((1 to 19).map(_.toDouble)).isEmpty && Stats.tail((1 to 20).map(_.toDouble)) == Some((50, 10.0))
    }
    check("tail ignores sample order") {
      Stats.tail(scala.util.Random.shuffle(xs)) == Stats.tail(xs)
    }
    check("covered merges overlaps and clips to the window") {
      Stats.covered(Seq((10L, 30L), (20L, 50L), (90L, 120L), (200L, 300L)), 0L, 100L) == 50L
    }
    check("self time is duration minus covered child time") {
      Stats.selfTime(0L, 100L, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50L &&
        Stats.selfTime(0L, 100L, Nil) == 100L &&
        Stats.selfTime(0L, 100L, Seq((0L, 100L), (0L, 100L))) == 0L
    }
    val rows = (1 to 500).map(i => Seq[Any](i.toLong, i * 0.5, s"s$i", i % 3 == 0))
    check("digest is independent of row order") {
      Digest.of(scala.util.Random.shuffle(rows)) == Digest.of(rows) &&
        Digest.of(rows.reverse) == Digest.of(rows)
    }
    check("digest sees duplicated rows and changed fields") {
      Digest.of(rows :+ rows.head) != Digest.of(rows) &&
        Digest.of(rows.updated(7, Seq[Any](8L, 4.0, "s9", false))) != Digest.of(rows)
    }
    check("digest of partitions adds up to the digest of the whole") {
      val (a, b) = rows.splitAt(123)
      Digest.of(a) + Digest.of(b) == Digest.of(rows)
    }
    check("digest from an exact decimal sum wraps modulo 2^64") {
      val hs = Seq(Long.MaxValue, Long.MaxValue, 5L)
      val exact = hs.map(java.math.BigDecimal.valueOf).reduce(_ add _)
      Digest.fromSum(3, exact) == Digest.D(3, hs.sum)
    }
    check("union-find labels every vertex with its component's smallest id") {
      Components.minLabels(Seq((5L, 9L), (3L, 9L), (7L, 8L), (1L, 1L))) ==
        Map(5L -> 3L, 9L -> 3L, 3L -> 3L, 7L -> 7L, 8L -> 7L, 1L -> 1L)
    }
    check("json escapes strings and renders whole doubles as integers") {
      Json.render(Map("a\"b" -> Seq(1.0, 2.5, "x\ny"))) == "{\"a\\\"b\": [1, 2.5, \"x\\ny\"]}"
    }
    check("symbol specs are seeded, exact in total and heavy-tailed") {
      val a = Gen.symbolSpecs(7, 5000, 4000000L, 0.75)
      val top = a.map(_.count).max.toDouble / 4000000L
      a == Gen.symbolSpecs(7, 5000, 4000000L, 0.75) && a != Gen.symbolSpecs(8, 5000, 4000000L, 0.75) &&
        a.map(_.count.toLong).sum == 4000000L && top > 0.02 && top < 0.05 &&
        a.map(_.firstId).distinct.size == 5000
    }
    check("bars are positive, time-ordered and about 20 % buys and 20 % sells") {
      val specs = Gen.symbolSpecs(3, 200, 50000L, 0.75)
      val bars = specs.flatMap(s => Gen.symbolBars(3, s).toSeq)
      val ordered = specs.forall(s => Gen.symbolBars(3, s).map(_.tsUs).sliding(2).forall {
        case Seq(a, b) => a < b; case _ => true })
      val buys = bars.count(_.buy).toDouble / bars.size
      val sells = bars.count(_.sell).toDouble / bars.size
      bars.forall(_.close > 0) && ordered && math.abs(buys - 0.2) < 0.01 && math.abs(sells - 0.2) < 0.01
    }
    check("corpus plants chains whose links pair and whose skips do not") {
      val c = Gen.corpus(11, 3000)
      val (link, skip) = c.chainJaccards
      link >= 0.8 && skip < 0.8 && c.families.exists(_.ids.size >= 4) &&
        Gen.corpus(11, 3000) == c
    }
    check("corpus plants 1 % exact copies, below ngramJaccardPairs' 10 % plan switch") {
      val c = Gen.corpus(5, 1000)
      math.abs(c.exactCopyShare - 0.01) < 1e-9 && c.families.count(_.exact) == 5
    }
    println(if (failures == 0) "all checks passed" else s"$failures checks failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
