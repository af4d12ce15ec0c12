package perfbench

/** Per-layer numbers of a traced run, per traced pass, from the spans and
  * the jobs attached to them. A span's job time is the part of its interval
  * covered by its jobs; the rest is the layer's own (self) time. */
final class Layers(spans: Seq[Span], jobs: Seq[JobRec],
    stmtPass: Map[Int, Int], catalyst: Map[Int, Map[String, Double]],
    persistedMb: Map[Int, Double], filesWritten: Map[Int, Long],
    resultRows: Map[Int, Long]) {

  private val jobsBySpan = jobs.groupBy(_.span)
  private val passes = spans.map(s => stmtPass(s.stmt)).filter(_ > 0)
    .distinct.sorted

  /** Length of the union of the span's job intervals, clipped to the span. */
  private def jobMs(s: Span): Double = {
    val iv = jobsBySpan.getOrElse(s.id, Nil).map { j =>
      val end = if (j.end < 0) s.end else j.end.toDouble
      (math.max(s.start, j.start.toDouble), math.min(s.end, end))
    }.filter { case (b, e) => e > b }.sortBy(_._1)
    var total, curB, curE = 0.0
    var open = false
    iv.foreach { case (b, e) =>
      if (open && b <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curB
        curB = b; curE = e; open = true
      }
    }
    if (open) total += curE - curB
    total
  }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private def perPass(p: Int): Map[String, Double] = {
    val ss = spans.filter(s => stmtPass(s.stmt) == p)
    def named(n: String) = ss.filter(_.name == n)
    def jobsOf(n: String) = named(n).flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
    def self(n: String) = named(n).map(s => s.ms - jobMs(s)).sum
    val stmts = named("statement").map(_.stmt)
    val stmtMs = named("statement").map(_.ms).sum
    val eager = jobsOf("queries.build")
    val exec = jobsOf("collect")
    val writes = jobsOf("sources.insert")
    val eagerMs = named("queries.build").map(jobMs).sum
    val rows = stmts.flatMap(resultRows.get).sum.toDouble
    val execScan = exec.map(_.scanRows).sum.toDouble
    val writeRows = writes.map(_.writeRows).sum.toDouble
    val writeBytes = writes.map(_.writeBytes).sum.toDouble
    def phase(k: String) = stmts.flatMap(catalyst.get).map(_.getOrElse(k, 0.0)).sum
    Map(
      "sql.rewrite_ms" -> named("sql.rewrite").map(_.ms).sum,
      "sql.statements" -> named("sql.rewrite").size.toDouble,
      "queries.build_ms" -> self("queries.build"),
      "queries.eager_ms" -> eagerMs,
      "queries.eager_jobs" -> eager.size.toDouble,
      "queries.eager_task_cpu_ms" -> eager.map(_.cpuNs).sum / 1e6,
      "queries.eager_shuffle_write_bytes" -> eager.map(_.shuffleWrite).sum.toDouble,
      "queries.eager_share" -> ratio(eagerMs, stmtMs),
      "queries.persisted_mb" ->
        stmts.flatMap(persistedMb.get).foldLeft(0.0)(math.max),
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "exec.jobs" -> exec.size.toDouble,
      "exec.stages" -> exec.map(_.stages).sum.toDouble,
      "exec.tasks" -> exec.map(_.tasks).sum.toDouble,
      "exec.sched_wait_ms" -> exec.map(_.schedWaitMs).sum.toDouble,
      "exec.task_cpu_ms" -> exec.map(_.cpuNs).sum / 1e6,
      "exec.task_run_ms" -> exec.map(_.runMs).sum.toDouble,
      "exec.shuffle_write_bytes" -> exec.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> exec.map(_.shuffleRead).sum.toDouble,
      "exec.scan_rows" -> execScan,
      "exec.scan_bytes" -> exec.map(_.scanBytes).sum.toDouble,
      "exec.spill_bytes" -> exec.map(_.spillBytes).sum.toDouble,
      "exec.gc_ms" -> exec.map(_.gcMs).sum.toDouble,
      "exec.task_failures" -> exec.map(_.failures).sum.toDouble,
      "exec.scan_rows_per_result_row" -> ratio(execScan, rows),
      "collect.self_ms" -> self("collect"),
      "collect.result_rows" -> rows,
      "sources.write_rows" -> writeRows,
      "sources.write_bytes" -> writeBytes,
      "sources.files_written" -> stmts.flatMap(filesWritten.get).sum.toDouble,
      "sources.commit_ms" -> self("sources.insert"),
      "sources.bytes_per_row" -> ratio(writeBytes, writeRows),
      "mutation.ms" -> named("mutation").map(_.ms).sum,
      "mutation.rewrite_bytes" ->
        jobsOf("mutation").map(_.writeBytes).sum.toDouble)
  }

  private val byPass = passes.map(perPass)

  /** Mean over the traced passes; `tables.register_ms` is the median over
    * the set-up rounds. */
  val metrics: Map[String, Double] = {
    val keys = byPass.headOption.map(_.keys).getOrElse(Nil)
    val register = spans.filter(_.name == "tables.register").map(_.ms).sorted
    keys.map(k => k -> byPass.map(_(k)).sum / byPass.size).toMap +
      ("tables.register_ms" -> register(register.size / 2))
  }

  /** The count candidates for exact repeats, each with its value in every
    * traced pass; `run.py` compares them within and across runs. */
  val repeatCounters: Map[String, Seq[Double]] = Seq("queries.eager_jobs",
    "exec.jobs", "exec.stages", "exec.shuffle_write_bytes", "exec.scan_rows",
    "sources.write_bytes").map(k => k -> byPass.map(_(k))).toMap
}
