package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced passes: each value is computed per
  * pass from the spans named after the calls, then the median over
  * passes is reported. Layers a workload does not run report 0.
  */
final class Layers(
    spans: Seq[Span], c: SparkCounters, rowsPerPass: Long, facts: Seq[Map[String, Double]]) {

  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private val runs: Seq[Seq[Span]] = spans.groupBy(_.run).toSeq.sortBy(_._1).map(_._2)

  private def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def inclusive(s: Span): Counters = subtree(s).map(x => c.counters(x.id)).foldLeft(Counters())(_ + _)

  def selfMs(s: Span): Double =
    Stats.selfTime(s.startNs, s.endNs, children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))) / 1e6

  /** Wall time of `s` during which none of its stages was running. */
  def idleMs(s: Span): Double = {
    val ivs = c.stageIntervals(subtree(s).map(_.id).toSet)
    s.durNs / 1e6 - Stats.covered(ivs, s.startMs, s.endMs)
  }

  private def perPass(run: Seq[Span]): ListMap[String, (Double, String)] = {
    def named(p: String => Boolean) = run.filter(s => p(s.name))
    def ms(p: String => Boolean) = named(p).map(_.durNs / 1e6).sum
    def jobs(p: String => Boolean) = named(p).map(s => inclusive(s).jobs).sum.toDouble
    def is(n: String): String => Boolean = _ == n
    val root = run.find(_.parent == -1).getOrElse(sys.error("a traced pass has no root span"))
    val all = inclusive(root)
    val calc = named(is("mtm_runner.calculate"))
    val calcCpuS = calc.map(s => inclusive(s).taskCpuMs).sum / 1000.0
    val calcIds = calc.flatMap(subtree).map(_.id).toSet
    ListMap(
      "tables.read_ms" -> (ms(_.startsWith("tables.")), "ms"),
      "tables.read_jobs" -> (jobs(_.startsWith("tables.")), "count"),
      "plan.analysis_ms" -> (all.analysisMs, "ms"),
      "plan.optimization_ms" -> (all.optimizationMs, "ms"),
      "plan.planning_ms" -> (all.planningMs, "ms"),
      "mtm_runner.build_ms" -> (ms(is("mtm_runner.calculate")), "ms"),
      "mtm_runner.build_jobs" -> (jobs(is("mtm_runner.calculate")), "count"),
      "mtm_runner.exec_ms" -> (ms(is("mtm_runner.summary")), "ms"),
      "mtm_runner.exec_jobs" -> (jobs(is("mtm_runner.summary")), "count"),
      "mtm.bars_per_cpu_s" -> (if (calcCpuS > 0) rowsPerPass / calcCpuS else 0.0, "1/s"),
      "mtm.straggler_ratio" -> (c.stragglerRatio(calcIds), "ratio"),
      "dedup.build_ms" -> (ms(is("dedup.ngram_jaccard_pairs")), "ms"),
      "dedup.build_jobs" -> (jobs(is("dedup.ngram_jaccard_pairs")), "count"),
      "dedup.exec_ms" -> (ms(is("dedup.exec")), "ms"),
      "cc.build_ms" -> (ms(is("cc.dup_groups")), "ms"),
      "cc.build_jobs" -> (jobs(is("cc.dup_groups")), "count"),
      "cc.exec_ms" -> (ms(is("cc.exec")), "ms"),
      "cc_star.build_ms" -> (ms(is("cc.dup_groups_star")), "ms"),
      "cc_star.build_jobs" -> (jobs(is("cc.dup_groups_star")), "count"),
      "cc_star.exec_ms" -> (ms(is("cc_star.exec")), "ms"),
      "corpus.build_ms" -> (ms(is("corpus.clean_corpus")), "ms"),
      "corpus.build_jobs" -> (jobs(is("corpus.clean_corpus")), "count"),
      "corpus.exec_ms" -> (ms(is("corpus.exec")), "ms"),
      "exec.jobs" -> (all.jobs.toDouble, "count"),
      "exec.stages" -> (all.stages.toDouble, "count"),
      "exec.tasks" -> (all.tasks.toDouble, "count"),
      "exec.task_cpu_ms" -> (all.taskCpuMs, "ms"),
      "exec.task_run_ms" -> (all.taskRunMs, "ms"),
      "exec.cpu_run_ratio" -> (if (all.taskRunMs > 0) all.taskCpuMs / all.taskRunMs else 0.0, "ratio"),
      "exec.gc_ms" -> (all.gcMs, "ms"),
      "exec.shuffle_write_bytes" -> (all.shuffleWriteBytes.toDouble, "bytes"),
      "exec.shuffle_read_bytes" -> (all.shuffleReadBytes.toDouble, "bytes"),
      "exec.spill_bytes" -> (all.spillBytes.toDouble, "bytes"),
      "exec.idle_ms" -> (idleMs(root), "ms"))
  }

  private val factUnits = ListMap(
    "dedup.pairs" -> "count", "cc.groups" -> "count", "corpus.kept_ratio" -> "ratio")

  /** Median over traced passes of every per-pass metric and fact. */
  def metrics: ListMap[String, (Double, String)] = {
    val per = runs.map(perPass)
    val base = per.head.map { case (k, (_, u)) => k -> (Stats.median(per.map(_(k)._1)), u) }
    base ++ factUnits.map { case (k, u) =>
      k -> (Stats.median(facts.map(_.getOrElse(k, 0.0))), u)
    }
  }

  /** One JSON line per span: times, self time, idle time, own and
    * inclusive Spark counters; then one line per stage run under a span
    * (its call site, task count, run interval and task run times).
    */
  def writeJsonl(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    val byId = spans.map(s => s.id -> s).toMap
    try {
      spans.sortBy(_.startNs).foreach { s =>
      val own = c.counters(s.id)
      val inc = inclusive(s)
      w.println(Json.render(ListMap(
        "run" -> s.run, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "dur_ms" -> s.durNs / 1e6, "self_ms" -> selfMs(s),
        "idle_ms" -> idleMs(s), "failed" -> s.failed,
        "jobs" -> own.jobs, "stages" -> own.stages, "tasks" -> own.tasks,
        "task_cpu_ms" -> own.taskCpuMs, "task_run_ms" -> own.taskRunMs, "gc_ms" -> own.gcMs,
        "shuffle_write_bytes" -> own.shuffleWriteBytes,
        "shuffle_read_bytes" -> own.shuffleReadBytes, "spill_bytes" -> own.spillBytes,
        "analysis_ms" -> own.analysisMs, "optimization_ms" -> own.optimizationMs,
        "planning_ms" -> own.planningMs,
        "incl_jobs" -> inc.jobs, "incl_stages" -> inc.stages, "incl_tasks" -> inc.tasks)))
      }
      c.stageRuns.asScala.toSeq.sortBy(_._2._2).foreach { case (st, (span, a, b)) =>
        val (name, n) = c.stageNames.get(st)
        val runs = Option(c.taskRunMs.get(st)).map(_.toSeq).getOrElse(Nil)
        w.println(Json.render(ListMap(
          "stage" -> st, "span" -> span, "span_name" -> byId.get(span).map(_.name).getOrElse(""),
          "run" -> byId.get(span).map(_.run).getOrElse(""), "call_site" -> name,
          "tasks" -> n, "submitted_ms" -> a, "dur_ms" -> (b - a),
          "task_run_max_ms" -> (if (runs.isEmpty) 0L else runs.max),
          "task_run_median_ms" -> (if (runs.isEmpty) 0.0 else Stats.median(runs.map(_.toDouble))))))
      }
    } finally w.close()
  }
}
