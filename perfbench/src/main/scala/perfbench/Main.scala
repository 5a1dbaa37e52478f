package perfbench

import scala.collection.mutable

/** What one workload run reports back to [[Main]]. */
final class Result {
  val metrics = new Metrics
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[Check]
  val notes = mutable.LinkedHashMap.empty[String, String]
  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += Check(name, ok, detail)
    attempted += 1
    if (!ok) failed += 1
  }
}

/** Runs one workload and writes its result as JSON to `--out`.
  *
  * Usage: `perfbench.Main --workload <catalog|curate|stream> --seed <n>
  * --seconds <s> --trace <0|1> --cores <n> --work <dir> --fixture <dir>
  * --out <file>`. `run.py` builds the classpath and calls this. */
object Main {
  /** Every per-layer metric a traced run prints, with its unit. A layer
    * that a workload never reaches reports 0 (no work done there). The
    * first group holds the wall-clock and heap figures a user sees; they
    * are reported here, not gated, because on a shared host they swing
    * with other tenants' load (see README.md). */
  val PerLayer: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "query_p50_s" -> "s", "query_p90_s" -> "s",
    "latency_p50_ms" -> "ms", "latency_p99_ms" -> "ms", "sustained_eps" -> "1/s",
    "peak_heap_mb" -> "MB",
    "build.s" -> "s", "build.jobs" -> "count", "build.job_s" -> "s",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms",
    "action.s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.task_wait_s" -> "s",
    "exec.cpu_util" -> "ratio", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.task_skew" -> "ratio", "exec.failed_tasks" -> "count",
    "cache.blocks_mb" -> "MB") ++
    Cpu.Groups.map(g => s"cpu.${g}_s" -> "s") ++ Seq(
    "ops.connectedComponents.rounds" -> "count",
    "stream.compile_ms" -> "ms",
    "stream.trigger_ms.p50" -> "ms", "stream.trigger_ms.p99" -> "ms",
    "stream.addbatch_ms.p50" -> "ms", "stream.plan_ms.p50" -> "ms",
    "stream.wal_ms.p50" -> "ms", "stream.rows_per_batch.p50" -> "count") ++
    StreamWorkload.Ladder.flatMap(r => Seq(
      s"stream.r$r.state_rows" -> "count", s"stream.r$r.state_mb" -> "MB",
      s"stream.r$r.state_commit_ms.p50" -> "ms",
      s"stream.r$r.backlog_rows" -> "count", s"gen.r$r.lag_p99_ms" -> "ms")) ++
    Seq("self.query_s" -> "s", "self.ops_s" -> "s", "self.build_s" -> "s",
      "self.action_s" -> "s", "self.job_s" -> "s", "self.stage_s" -> "s",
      "self.batch_s" -> "s", "trace.overhead_pct" -> "%")

  /** Per-layer metrics of `curate` alone, which is not in BENCHMARK.json:
    * the time of each ops call and the recall of the approximate stages. */
  val CuratePerLayer: Seq[(String, String)] =
    CurateWorkload.OpsCalls.map(op => s"ops.$op.s" -> "s") ++ Seq(
      "ops.lsh.useful_ratio" -> "ratio", "ops.lsh.planted_recall" -> "ratio",
      "ops.semanticDedup.planted_recall" -> "ratio")

  /** Every end-to-end metric an untraced run prints, with its unit;
    * run.py adds `success_rate` once the oracle checks are in. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cpu_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    new java.io.File(a.work).mkdirs()
    val r = new Result
    a.workload match {
      case "catalog" => CatalogWorkload.run(a, r)
      case "curate" => CurateWorkload.run(a, r)
      case "stream" => StreamWorkload.run(a, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val want = if (!a.trace) EndToEnd
      else if (a.workload == "curate") PerLayer ++ CuratePerLayer else PerLayer
    val metrics = want.map { case (name, unit) =>
      val v = r.metrics.values.get(name) match {
        case Some((v, u)) =>
          require(u == unit, s"metric $name measured in $u, declared in $unit"); v
        case None =>
          require(a.trace, s"workload ${a.workload} did not measure $name"); 0.0
      }
      name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    }
    val json = Json.obj(Seq(
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(metrics),
      "checks" -> Json.arr(r.checks.toSeq.map(c => Json.obj(Seq(
        "name" -> Json.str(c.name), "ok" -> c.ok.toString,
        "detail" -> Json.str(c.detail))))),
      "notes" -> Json.obj(r.notes.toSeq.map { case (k, v) => k -> Json.str(v) })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), json)
    sys.exit(0) // do not wait on lingering non-daemon engine threads
  }
}
