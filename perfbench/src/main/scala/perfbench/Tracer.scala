package perfbench

import java.io.File
import scala.collection.mutable.LinkedHashMap

/** Turns the events of each traced call into spans and per-layer sums.
  * Every metric is summed over the traced calls and reported per traced
  * pass, so that it reconciles with the pass's wall time.
  */
final class Tracer(workload: Workload, cores: Int) {
  val spans = new SpanLog
  private var nextOp = 0L

  private val Modules = Seq("io", "etl", "analytics", "ext", "queries", "util")

  /** name -> (unit, sum over traced calls) */
  private val sums = LinkedHashMap.empty[String, (String, Double)]
  private def unit(name: String) =
    if (name.endsWith("_s")) "s" else if (name.contains("bytes")) "bytes" else "count"
  private def add(name: String, v: Double): Unit = {
    val (u, s) = sums.getOrElse(name, (unit(name), 0.0))
    sums(name) = (u, s + v)
  }
  private def get(name: String): Double = sums.get(name).map(_._2).getOrElse(0.0)

  Seq("queries.construct_s", "queries.construct_jobs", "queries.construct_driver_s",
    "io.table_open_jobs", "io.table_open_s", "io.bytes_read", "io.bytes_written",
    "io.files_written", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "exec.run_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.executor_run_s", "exec.executor_cpu_s", "exec.task_gc_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes")
    .foreach(add(_, 0.0))
  Modules.foreach { m => add(s"$m.jobs", 0.0); add(s"$m.job_s", 0.0) }
  Workloads.lakeStages.foreach(st => add(s"${st}_s", 0.0))

  private var wallMs = 0L
  private var constructJobUnionMs = 0L

  private def jobSpanName(j: JobRec) =
    if (j.tableOpen) "io.table_open" else s"${CallSites.module(j.longSite)}.job"

  /** Sums shared by both kinds of call: every job of the call. */
  private def common(jobs: Seq[JobRec], phases: Seq[Phases]): Unit = {
    val open = jobs.filter(_.tableOpen)
    add("io.table_open_jobs", open.size)
    add("io.table_open_s", open.map(_.ms).sum / 1e3)
    add("io.bytes_read", jobs.map(_.bytesRead).sum.toDouble)
    add("io.bytes_written", jobs.map(_.bytesWritten).sum.toDouble)
    add("catalyst.analysis_s", phases.map(_.analysis).sum / 1e3)
    add("catalyst.optimization_s", phases.map(_.optimization).sum / 1e3)
    add("catalyst.planning_s", phases.map(_.planning).sum / 1e3)
    for (j <- jobs) {
      val m = CallSites.module(j.longSite)
      if (Modules.contains(m)) {
        add(s"$m.jobs", 1)
        add(s"$m.job_s", j.ms / 1e3)
      }
    }
  }

  /** The forced part of a call: jobs that execute it. */
  private def exec(runMs: Long, jobs: Seq[JobRec]): Unit = {
    add("exec.run_s", runMs / 1e3)
    add("exec.jobs", jobs.size)
    add("exec.stages", jobs.map(_.stages).sum)
    add("exec.tasks", jobs.map(_.tasks).sum)
    add("exec.executor_run_s", jobs.map(_.runMs).sum / 1e3)
    add("exec.executor_cpu_s", jobs.map(_.cpuNs).sum / 1e9)
    add("exec.task_gc_s", jobs.map(_.gcMs).sum / 1e3)
    add("exec.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum.toDouble)
    add("exec.shuffle_read_bytes", jobs.map(_.shuffleRead).sum.toDouble)
    add("exec.spill_bytes", jobs.map(_.spill).sum.toDouble)
  }

  private def jobSpans(jobs: Seq[JobRec], op: Long, windows: Seq[(Long, Long, Long)]): Unit =
    for (j <- jobs) {
      val parent = windows.find { case (_, a, b) => j.start >= a && j.start < b }
        .orElse(windows.lastOption).map(_._1).getOrElse(0L)
      spans.add(parent, op, jobSpanName(j), j.start, j.end)
      jobSites += (if (j.tableOpen) "open " else "") + j.shortSite -> CallSites.module(j.longSite)
    }

  /** (short call site, module) of every traced job, for the artifact. */
  val jobSites = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  /** A query call: construction over `[t0, t1]`, the forced write over
    * `[t1, t2]`.
    */
  def queryCall(t0: Long, t1: Long, t2: Long,
      ev: (Seq[JobRec], Seq[Phases], Seq[(String, Long)])): Unit = {
    val (jobs, phases, _) = ev
    val op = { nextOp += 1; nextOp }
    val (cJobs, wJobs) = jobs.partition(_.start < t1)
    val root = spans.add(0, op, "op", t0, t2)
    val cSpan = spans.add(root, op, "queries.construct", t0, t1)
    val wSpan = spans.add(root, op, "exec.run", t1, t2)
    jobSpans(jobs, op, Seq((cSpan, t0, t1), (wSpan, t1, t2)))
    val cIntervals = cJobs.map(j => (j.start, j.end))
    add("queries.construct_s", (t1 - t0) / 1e3)
    add("queries.construct_jobs", cJobs.size)
    add("queries.construct_driver_s", Stats.uncovered(t0, t1, cIntervals) / 1e3)
    constructJobUnionMs += (t1 - t0) - Stats.uncovered(t0, t1, cIntervals)
    wallMs += t2 - t0
    common(jobs, phases)
    exec(t2 - t1, wJobs)
  }

  /** A pipeline run over `[t0, t2]`, tiled into stages by its writes. */
  def pipelineCall(t0: Long, t2: Long, ev: (Seq[JobRec], Seq[Phases], Seq[(String, Long)]),
      filesWritten: Long): Unit = {
    val (jobs, phases, writes) = ev
    val op = { nextOp += 1; nextOp }
    val ends: Map[String, Long] = Workloads.lakeTables.flatMap { t =>
      writes.filter(_._1.stripSuffix("/").endsWith("/" + t.table)).map(w => t.stage -> w._2)
    }.groupBy(_._1).map { case (st, xs) => st -> xs.map(_._2).max }
    val root = spans.add(0, op, "pipeline", t0, t2)
    val tiles = Spans.tile(t0, t2, Workloads.lakeStages, ends).map { case (st, a, b) =>
      add(s"${st}_s", (b - a) / 1e3)
      (spans.add(root, op, st, a, b), a, b)
    }
    jobSpans(jobs, op, tiles)
    wallMs += t2 - t0
    add("io.files_written", filesWritten.toDouble)
    common(jobs, phases)
    exec(t2 - t0, jobs)
  }

  def selfTimeByName: Map[String, Long] = Spans.selfTimeByName(spans.all)

  /** Per-layer metrics per traced pass. */
  def metrics(passes: Int): Seq[(String, Double, String)] = {
    val p = math.max(1, passes).toDouble
    val perPass = sums.toSeq.map { case (n, (u, v)) => (n, v / p, u) }
    val runS = get("exec.run_s")
    val util = if (runS > 0) get("exec.executor_run_s") / (runS * cores) else 0.0
    val (before, after) = perPass.splitAt(perPass.indexWhere(_._1 == "exec.shuffle_write_bytes"))
    before ++ Seq(("exec.utilization", util, "ratio")) ++ after
  }

  /** How the per-layer times add up to the wall time of a traced pass. */
  def reconciliation(passes: Int): Seq[String] = {
    val p = math.max(1, passes).toDouble
    val wall = wallMs / 1e3 / p
    workload match {
      case _: QueryWorkload =>
        val c = get("queries.construct_s") / p
        val r = get("exec.run_s") / p
        val d = get("queries.construct_driver_s") / p
        Seq(f"reconcile: call wall $wall%.3f s = construct $c%.3f + exec.run $r%.3f " +
          f"(gap ${wall - c - r}%.3f); construct = jobs ${constructJobUnionMs / 1e3 / p}%.3f " +
          f"+ driver $d%.3f")
      case _: LakeWorkload =>
        val tiles = Workloads.lakeStages.map(st => get(s"${st}_s")).sum / p
        Seq(f"reconcile: pipeline wall $wall%.3f s = stage tiles $tiles%.3f " +
          f"(gap ${wall - tiles}%.3f)")
    }
  }
}

object Tracer {
  private def dataFilesIn(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFilesIn(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  /** Bytes of data files under `dir`, without checksums and markers. */
  def dataBytes(dir: File): Long = dataFilesIn(dir).map(_.length).sum

  def dataFiles(dir: File): Long = dataFilesIn(dir).size.toLong
}
