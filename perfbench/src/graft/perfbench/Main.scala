package graft.perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.Sessions
import org.apache.spark.sql.SparkSession

/** The benchmark driver: one workload, one seed, one JVM, one client.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--digests <file>]
  *
  * Set-up is session build plus input generation, run [[SetupRounds]]
  * times (median reported), plus [[WarmupPasses]] checked warm-up
  * passes. Passes then run in a closed loop for `--seconds`. With `--trace 0` the last stdout
  * line carries the end-to-end metrics; with `--trace 1` untraced and
  * traced passes run in pairs for `--seconds`, and the line carries the
  * per-layer metrics. Any failed check or thrown call makes
  * `correct` false and the exit code 1.
  */
object Main {
  val SetupRounds = 3
  /** Untimed passes before measuring. The first pass in a JVM pays code
    * generation and compilation, and the second still runs 20–40 %
    * slower than the flatter ones after it, on both workloads.
    */
  val WarmupPasses = 2

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      digests: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    require(Set("0", "1")(need("trace")), "--trace takes 0 or 1")
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), m.get("digests"))
  }

  def main(args: Array[String]): Unit = {
    // run.py holds this JVM's stdin open for its whole life: EOF means
    // the launcher is gone (killed or timed out), so stop rather than
    // outlive it
    val watchdog = new Thread(() => {
      try while (System.in.read() >= 0) {} catch { case _: java.io.IOException => }
      Runtime.getRuntime.halt(4)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val code =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    System.exit(code)
  }

  private def say(s: String): Unit = println(s"[perfbench] $s")

  /** Recorded digests: lines of `workload seed digest…`. */
  def recorded(file: Option[String], workload: String, seed: Long): Option[String] =
    file.map(new File(_)).filter(_.isFile).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+", 3)).collectFirst {
          case Array(w, s, d) if w == workload && s == seed.toString => d
        }
      finally src.close()
    }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  final case class PassRun(wallMs: Double, cpuS: Double, out: PassOut)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def run(o: Opts): Int = {
    val calBefore = Host.calibrateMs()
    val inputs = new File(o.work, "inputs").getAbsolutePath
    val wl = Workload(o.workload, o.seed, inputs)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    say(s"workload=${wl.name} seed=${o.seed} trace=${if (o.trace) 1 else 0} cores=$cores " +
      s"seconds=${o.seconds}")
    say(s"inputs: ${wl.describe}")
    wl.reference()

    val digests = mutable.LinkedHashSet.empty[String]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    def doPass(spark: SparkSession, tr: Tracer): PassRun = {
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val out =
        try tr.span("pass")(wl.pass(spark, tr))
        catch { case e: Exception => PassOut("", Seq(s"a call threw: $e"), Seq(0.0), 1) }
      val wall = (System.nanoTime() - t0) / 1e6
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      attempted += out.unitMs.size
      failed += out.failedUnits
      failures ++= out.failures
      if (out.digest.nonEmpty) digests += out.digest
      Sessions.dropAllCaches(spark)
      System.gc()
      Host.settleJit()
      PassRun(wall, cpu, out)
    }

    // ---- set-up: session build and input generation SetupRounds times
    // (the last session stays up), then the checked warm-up passes ----
    var spark: SparkSession = null
    val buildMs = mutable.ArrayBuffer.empty[Double]
    val rounds = (1 to SetupRounds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(cores.toString)
      buildMs += (System.nanoTime() - t0) / 1e6
      wl.generate(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val plain = new Tracer(spark, enabled = false)
    val warmS = (1 to WarmupPasses).map(_ => doPass(spark, plain).wallMs / 1000.0)
    val setupS = Stats.median(rounds) + warmS.sum
    say(f"set-up rounds (session build + inputs): ${rounds.map(r => f"$r%.2f").mkString(" ")} s " +
      f"(session build ${buildMs.map(b => f"${b / 1000}%.2f").mkString(" ")} s); " +
      f"warm-up passes ${warmS.map(w => f"$w%.2f").mkString(" ")} s")

    // ---- measured passes, closed loop ----
    def loop(tr: Tracer, budgetS: Double): Seq[PassRun] = {
      val t0 = System.nanoTime()
      val runs = mutable.ArrayBuffer.empty[PassRun]
      while (runs.isEmpty || (System.nanoTime() - t0) / 1e9 < budgetS) {
        tr.run = s"${wl.name}/${o.seed}/${runs.size}"
        runs += doPass(spark, tr)
      }
      runs.toSeq
    }

    val metrics: ListMap[String, (Double, String)] =
      if (!o.trace) {
        val runs = loop(plain, o.seconds)
        val wallS = Stats.median(runs.map(_.wallMs)) / 1000.0
        val units = runs.flatMap(_.out.unitMs)
        val perRow = if (wl.name.startsWith("mtm")) "bars_per_s" else "docs_per_s"
        say(s"pass walls ms: ${runs.map(r => f"${r.wallMs}%.0f").mkString(" ")}; " +
          s"pass cpu s: ${runs.map(r => f"${r.cpuS}%.2f").mkString(" ")}")
        say(f"$perRow = ${wl.rowsPerPass / wallS}%.1f 1/s")
        // printed, not a result metric: the JVM's resident set follows
        // G1's heap sizing and reads 15–25 % apart between runs of one
        // workload, wider than any regression bound could be
        say(f"peak_rss_mb = ${peakRssMb()}%.1f MB")
        if (wl.name == "mtm_sweep") {
          say(f"configs_per_s = ${units.size / (units.sum / 1000.0)}%.3f 1/s")
          say(f"config_p50_ms = ${Stats.median(units)}%.2f ms (n=${units.size})")
          Stats.tail(units) match {
            case Some((p, v)) => say(f"config_tail_ms = $v%.2f ms (p$p, n=${units.size})")
            case None => say(s"config_tail_ms = n/a (n=${units.size}, needs 20)")
          }
        }
        ListMap(
          "setup_s" -> (setupS, "s"),
          "wall_s" -> (wallS, "s"),
          "rows_per_s" -> (wl.rowsPerPass / wallS, "1/s"))
      } else {
        // untraced and traced passes in adjacent pairs whose order
        // alternates (U T, T U, U T, …), so warm-up and host drift fall
        // on both sides of the overhead ratio; the listener is attached
        // for the traced passes only
        val counters = new SparkCounters
        val tr = new Tracer(spark, enabled = true)
        def traced(pair: Int): PassRun = {
          tr.run = s"${wl.name}/${o.seed}/$pair"
          spark.sparkContext.addSparkListener(counters)
          try doPass(spark, tr)
          finally {
            SparkCounters.drain(spark)
            spark.sparkContext.removeSparkListener(counters)
          }
        }
        val pairs = mutable.ArrayBuffer.empty[(PassRun, PassRun)] // (untraced, traced)
        val t0 = System.nanoTime()
        while (pairs.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
          val k = pairs.size
          pairs += (if (k % 2 == 0) { val u = doPass(spark, plain); (u, traced(k)) }
                    else { val t = traced(k); (doPass(spark, plain), t) })
        }
        say(s"pass walls ms (untraced/traced): " +
          pairs.map { case (u, t) => f"${u.wallMs}%.0f/${t.wallMs}%.0f" }.mkString(" "))
        val layers = new Layers(tr.spans.toSeq, counters, wl.rowsPerPass, pairs.map(_._2.out.facts).toSeq)
        layers.writeJsonl(new File(o.work, s"trace-${wl.name}-${o.seed}.jsonl"))
        if (counters.unattributedQueries > 0)
          say(s"${counters.unattributedQueries} query executions had no span")
        val overhead = Stats.median(pairs.map { case (u, t) => t.wallMs / u.wallMs }.toSeq)
        layers.metrics ++ ListMap(
          "sessions.build_ms" -> (Stats.median(buildMs.toSeq), "ms"),
          "tradebook.ns_per_bar" -> (wl.tradeBookNsPerBar(), "ns"),
          "trace.overhead_ratio" -> (overhead, "ratio"),
          "trace.passes" -> (pairs.size.toDouble, "count"))
      }
    val calAfter = Host.calibrateMs()
    spark.stop()

    // ---- output digests: one per run, equal to the recorded one; a
    // mismatch puts every checked unit of the run in doubt ----
    val rec = recorded(o.digests, wl.name, o.seed)
    val digest = digests.headOption.getOrElse("")
    if (digests.size > 1) failures += s"passes disagree on the output digest: ${digests.mkString(" | ")}"
    rec.filter(_ != digest).foreach(r => failures += s"digest $digest != recorded $r")
    if (digests.size > 1 || rec.exists(_ != digest)) failed = attempted
    say(s"digest ${wl.name} ${o.seed} $digest (${rec.map(_ => "recorded").getOrElse("unrecorded")})")
    say(f"host calibration ms: before=$calBefore%.1f after=$calAfter%.1f")
    failures.distinct.foreach(f => say(s"CHECK FAILED: $f"))
    say(f"failed_ratio = ${failed.toDouble / math.max(1, attempted)}%.4f ($failed of $attempted)")

    val all = if (o.trace)
      metrics ++ ListMap("host.cal_before_ms" -> (calBefore, "ms"), "host.cal_after_ms" -> (calAfter, "ms"))
    else metrics
    all.foreach { case (k, (v, u)) => say(s"$k = $v $u") }
    val ok = failures.isEmpty
    val line = ListMap(
      "correct" -> ok, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> all.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    println(Json.render(line))
    if (ok) 0 else 1
  }
}

/** Fixed single-thread CPU calibration: a contaminated host window
  * shows up as a slower sample before or after the run.
  */
object Host {
  @volatile private var sink = 0L

  /** Waits (at most `maxMs`) until the JIT compiler has been idle for
    * two consecutive polls, so methods queued during a pass compile
    * before the next one instead of competing with its tasks.
    */
  def settleJit(maxMs: Long = 5000, pollMs: Long = 250): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + maxMs * 1000000L
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(pollMs)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
  }

  def calibrateMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < (1 << 26)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }
}
