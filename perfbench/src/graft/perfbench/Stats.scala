package graft.perfbench

/** Sample statistics with the conventions the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail rule: the highest integer percentile `p` whose
    * nearest-rank value still has at least `beyond` samples above its
    * rank, as (p, value). None when there are too few samples for any
    * percentile from the median up.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    def rank(p: Int): Int = math.ceil(p * n / 100.0).toInt
    (99 to 50 by -1).find(p => rank(p) >= 1 && n - rank(p) >= beyond)
      .map(p => (p, s(rank(p) - 1)))
  }

  /** Merged length of [start, end) intervals clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (overlapping children count once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children, start, end)
}

/** Order-independent output digests: the count of rows plus the sum,
  * modulo 2^64, of a 64-bit hash of each row — equal for any row order
  * or partitioning, and (unlike an XOR) sensitive to duplicated rows.
  */
object Digest {

  /** 64-bit FNV-1a over the fields' string forms, unit-separated. */
  def rowHash(fields: Seq[Any]): Long = {
    var h = 0xcbf29ce484222325L
    fields.iterator.map(f => String.valueOf(f)).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) { h ^= 0x1f; h *= 0x100000001b3L }
      var k = 0
      while (k < s.length) { h ^= s.charAt(k); h *= 0x100000001b3L; k += 1 }
    }
    h
  }

  final case class D(count: Long, sum: Long) {
    def +(o: D): D = D(count + o.count, sum + o.sum)
    override def toString: String = f"$count%d:$sum%016x"
  }

  val empty: D = D(0L, 0L)

  def of(rows: Iterable[Seq[Any]]): D =
    rows.foldLeft(empty)((d, r) => d + D(1L, rowHash(r)))

  /** A digest from a row count and an exact (decimal) sum of row hashes. */
  def fromSum(count: Long, sum: java.math.BigDecimal): D =
    D(count, if (sum == null) 0L else sum.toBigInteger.longValue)
}

/** Minimal JSON rendering for the run record and the result line. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${render(x)}" }
      .mkString("{", ", ", "}")
    case s: Seq[_] => s.map(render).mkString("[", ", ", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }
}
