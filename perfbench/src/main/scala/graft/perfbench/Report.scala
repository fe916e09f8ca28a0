package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Metric figures of one run, in the order they are printed. A traced
  * run also carries its spans and each timed operation's self time
  * (its driver gap), by operation id. */
final case class Result(runS: Double,
                        endToEnd: Seq[(String, String, Double)],
                        perLayer: Seq[(String, String, Double)],
                        spans: Seq[Span] = Seq.empty,
                        gaps: Map[Long, Double] = Map.empty)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); 0 for no values. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

/** Per-operation layer figures, taken from the tracer's records of one
  * execution. `gapMs` is the operation's self time: its duration minus
  * the part its jobs cover. */
final case class OpLayers(wallMs: Double, jobWallMs: Double, gapMs: Double, jobs: Seq[JobRec],
                          graftJobWallMs: Double, qes: Seq[QeRec], batches: Seq[BatchRec])

object Report {

  private val mapper = new ObjectMapper()

  /** How far outside its operation's interval a job's start may fall:
    * listener times are whole epoch milliseconds, the benchmark's clock
    * is finer. */
  val ClockSlackMs = 5.0

  /** For each operation, its measured execution with the median wall
    * time (the lower one for an even count). Layer figures come from
    * that one execution, so per-operation identities hold exactly. */
  def representatives(runs: Seq[OpRun]): Seq[OpRun] =
    runs.filter(_.pass > 0).groupBy(_.name).values
      .map(rs => rs.sortBy(_.durMs).apply((rs.size - 1) / 2)).toSeq.sortBy(_.id)

  /** Jobs whose attribution disagrees with the clock: one that started
    * inside an operation but carries another operation's id (or none),
    * or one that carries an operation's id but started outside it. */
  def misattributed(runs: Seq[OpRun], jobs: Seq[JobRec]): Seq[String] = {
    val byId = runs.map(r => r.id -> r).toMap
    def label(r: OpRun) = s"${r.name} (pass ${r.pass})"
    jobs.flatMap { j =>
      val named = byId.get(j.op)
      runs.find(r => j.startMs > r.startMs + ClockSlackMs && j.startMs < r.endMs - ClockSlackMs)
        .filter(_.id != j.op)
        .map(r => s"job ${j.id} started during ${label(r)} but carries ${named.fold("no operation")(label)}")
        .orElse(named.filter(r => j.startMs < r.startMs - ClockSlackMs || j.startMs > r.endMs + ClockSlackMs)
          .map(r => s"job ${j.id} carries ${label(r)} but started outside it"))
    }
  }

  /** All spans of the run: run → operation → job, query execution or
    * micro-batch. A job hangs under the operation its `perfbench.op`
    * property names; query executions and micro-batches hang under the
    * operation during which they started (operations run one at a
    * time). */
  def spans(workload: String, runs: Seq[OpRun], t: Tracer): Seq[Span] = {
    var next = runs.map(_.id).maxOption.getOrElse(0L) + 1
    def fresh() = { next += 1; next - 1 }
    val runSpan = Span(0L, -1L, "run", workload,
      runs.map(_.startMs).minOption.getOrElse(0.0), runs.map(_.endMs).maxOption.getOrElse(0.0))
    def parentAt(ms: Double) = runs.find(r => ms >= r.startMs && ms <= r.endMs).map(_.id).getOrElse(0L)
    val jobSpans = t.jobRecs.map(j => Span(fresh(), j.op, "job", s"job ${j.id} ${j.description}".trim,
      j.startMs, j.endMs))
    val qeSpans = t.qes.asScala.toSeq.map(q => Span(fresh(), parentAt(q.startMs), "qe", "query execution",
      q.startMs, q.endMs))
    val batchSpans = t.batches.asScala.toSeq.map(b => Span(fresh(), parentAt(b.startMs), "batch",
      "micro-batch", b.startMs, b.startMs + b.triggerMs))
    Seq(runSpan) ++ runs.map(_.span) ++ jobSpans ++ qeSpans ++ batchSpans
  }

  def layers(r: OpRun, t: Tracer, jobsByOp: Map[Long, Seq[JobRec]],
             jobSpans: Map[Long, Seq[Span]]): OpLayers = {
    val jobs = jobsByOp.getOrElse(r.id, Seq.empty)
    val kids = jobSpans.getOrElse(r.id, Seq.empty)
    def within(ms: Double) = ms >= r.startMs && ms <= r.endMs
    val graft = jobs.filter(_.description.startsWith("graft:")).map(j => (j.startMs, j.endMs))
    OpLayers(r.durMs, Span.childTime(r.span, kids), Span.selfTime(r.span, kids), jobs,
      Span.covered(r.startMs, r.endMs, graft),
      t.qes.asScala.filter(q => within(q.startMs)).toSeq,
      t.batches.asScala.filter(b => within(b.startMs)).toSeq)
  }

  def build(wl: Workload, runner: Runner, tracer: Option[Tracer],
            setupMs: Seq[Double], warmMs: Double): Result = {
    val measured = runner.runs.filter(_.pass > 0).toSeq
    val medWall = measured.groupBy(_.name).map { case (n, rs) => n -> Stats.median(rs.map(_.durMs)) }
    val stmtNames = wl.statements.filter(medWall.contains)
    val runS = medWall.values.sum / 1000
    val endToEnd = Seq(
      ("setup_s", "s", (Stats.median(setupMs) + warmMs) / 1000),
      ("run_s", "s", runS),
      ("stmt_geomean_ms", "ms", Stats.geomean(stmtNames.map(medWall))),
      ("heap_retained_mb", "MB", runner.maxHeapMb))
    tracer match {
      case None => Result(runS, endToEnd, Seq.empty)
      case Some(t) =>
        val runs = runner.runs.toSeq
        misattributed(runs, t.jobRecs).foreach(runner.fail)
        val all = spans(wl.name, runs, t)
        val jobSpans = all.filter(_.kind == "job").groupBy(_.parent)
        val gaps = measured.map(r => r.id -> Span.selfTime(r.span, jobSpans.getOrElse(r.id, Seq.empty))).toMap
        Result(runS, endToEnd, layerMetrics(wl, runner, t, medWall, jobSpans), all, gaps)
    }
  }

  def layerMetrics(wl: Workload, runner: Runner, t: Tracer, medWall: Map[String, Double],
                   jobSpans: Map[Long, Seq[Span]]): Seq[(String, String, Double)] = {
    val jobsByOp = t.jobRecs.groupBy(_.op)
    val reps = representatives(runner.runs.toSeq)
    val per = reps.map(r => r -> layers(r, t, jobsByOp, jobSpans))
    val ls = per.map(_._2)
    val jobs = ls.flatMap(_.jobs)
    val qes = ls.flatMap(_.qes)
    val batches = ls.flatMap(_.batches)
    def jsum(f: JobRec => Long) = jobs.map(f).sum.toDouble
    val wallMs = ls.map(_.wallMs).sum
    val jobWallMs = ls.map(_.jobWallMs).sum
    val gapMs = ls.map(_.gapMs).sum
    val taskRunMs = jsum(_.runMs)
    val cores = Runtime.getRuntime.availableProcessors
    val stmtReps = per.filter(_._1.kind == "stmt")
    val outRows = stmtReps.map(_._1.rows).sum.toDouble
    val stmtScanRows = stmtReps.flatMap(_._2.qes).map(_.scanRows).sum.toDouble
    val ops = wl.operatorStatements
    def cpuOf(sel: String => Boolean) =
      stmtReps.filter(p => sel(p._1.name)).flatMap(_._2.jobs).map(_.cpuNs).sum / 1e6
    def stmtMs(sel: String => Boolean) =
      wl.statements.filter(n => sel(n) && medWall.contains(n)).map(medWall).sum
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    def perOpMax(f: BatchRec => Long) = ls.map(_.batches.map(f).maxOption.getOrElse(0L)).sum.toDouble
    val appendMs = runner.appendMs.toSeq
    val ingestRows = runner.liveRows.toDouble
    val storedBytes = runner.tableFiles.map(_._2).sum.toDouble
    val dataFiles = runner.tableFiles.filter { case (p, _) =>
      p.getName(0).toString == "ingest" && p.toString.endsWith(".parquet") }
    val logBytes = runner.tableFiles.filter(_._1.getName(0).toString == "ingest._log").map(_._2).sum
    def ratio(n: Double, d: Double) = if (d == 0) 0.0 else n / d
    Seq(
      ("ingest.produce_ms", "ms", runner.produceMs),
      ("ingest.append_ms", "ms", appendMs.sum),
      ("ingest.commits", "count", runner.commits.toDouble),
      ("ingest.log_opens", "count", reps.map(_.logOpens).sum.toDouble),
      ("ingest.log_opens_per_commit", "count", ratio(runner.loopLogOpens, runner.commits)),
      ("ingest.snapshot_ms", "ms", runner.snapshotMs),
      ("ingest.consume_ms", "ms", runner.consumeMs),
      ("ingest.consume_rows", "rows", runner.consumeRows.toDouble),
      ("ingest.data_files", "count", dataFiles.size.toDouble),
      ("ingest.data_bytes", "B", dataFiles.map(_._2).sum.toDouble),
      ("ingest.log_bytes", "B", logBytes.toDouble),
      ("ingest.commit_p50_ms", "ms", Stats.quantile(appendMs, 0.5)),
      ("ingest.commit_p90_ms", "ms", Stats.quantile(appendMs, 0.9)),
      ("ingest.rows_per_s", "rows/s", ratio(ingestRows, (runner.produceMs + appendMs.sum) / 1000)),
      ("ingest.consume_rows_per_s", "rows/s", ratio(runner.consumeRows, runner.consumeMs / 1000)),
      ("ingest.stored_bytes_per_row", "B/row", ratio(storedBytes, ingestRows)),
      ("sources.scan_rows", "rows", qes.map(_.scanRows).sum.toDouble),
      ("sources.scan_files", "count", qes.map(_.scanFiles).sum.toDouble),
      ("sources.rows_read_per_row_out", "ratio", ratio(stmtScanRows, outRows)),
      ("catalyst.analysis_ms", "ms", qes.map(_.analysisMs).sum),
      ("catalyst.optimization_ms", "ms", qes.map(_.optimizationMs).sum),
      ("catalyst.planning_ms", "ms", qes.map(_.planningMs).sum),
      ("catalyst.executions", "count", qes.size.toDouble),
      ("exec.jobs", "count", jobs.size.toDouble),
      ("exec.stages", "count", jobs.map(_.stages).sum.toDouble),
      ("exec.tasks", "count", jsum(_.tasks)),
      ("exec.job_wall_ms", "ms", jobWallMs),
      ("exec.task_run_ms", "ms", taskRunMs),
      ("exec.task_cpu_ms", "ms", jsum(_.cpuNs) / 1e6),
      ("exec.gc_ms", "ms", jsum(_.gcMs)),
      ("exec.input_bytes", "B", jsum(_.inputBytes)),
      ("exec.output_bytes", "B", jsum(_.outputBytes)),
      ("exec.shuffle_read_bytes", "B", jsum(_.shuffleReadBytes)),
      ("exec.shuffle_write_bytes", "B", jsum(_.shuffleWriteBytes)),
      ("exec.spill_bytes", "B", jsum(_.spillBytes)),
      ("exec.failed_tasks", "count", jsum(_.failedTasks)),
      ("exec.slot_util", "ratio", ratio(taskRunMs, jobWallMs * cores)),
      ("driver.gap_ms", "ms", gapMs),
      ("driver.gap_share", "ratio", ratio(gapMs, wallMs)),
      ("driver.graft_jobs", "count", jobs.count(_.description.startsWith("graft:")).toDouble),
      ("driver.graft_job_ms", "ms", ls.map(_.graftJobWallMs).sum),
      ("operators.stmt_ms", "ms", stmtMs(ops.contains)),
      ("operators.task_cpu_ms", "ms", cpuOf(ops.contains)),
      ("queries.sql_stmt_ms", "ms", stmtMs(n => !ops.contains(n))),
      ("streaming.batches", "count", batches.size.toDouble),
      ("streaming.input_rows", "rows", batches.map(_.inputRows).sum.toDouble),
      ("streaming.trigger_ms", "ms", dur("triggerExecution")),
      ("streaming.add_batch_ms", "ms", dur("addBatch")),
      ("streaming.get_batch_ms", "ms", dur("getBatch")),
      ("streaming.latest_offset_ms", "ms", dur("latestOffset")),
      ("streaming.query_planning_ms", "ms", dur("queryPlanning")),
      ("streaming.wal_commit_ms", "ms", dur("walCommit")),
      ("streaming.commit_offsets_ms", "ms", dur("commitOffsets")),
      ("streaming.batch_p50_ms", "ms", Stats.quantile(batches.map(_.triggerMs.toDouble), 0.5)),
      ("streaming.batch_p90_ms", "ms", Stats.quantile(batches.map(_.triggerMs.toDouble), 0.9)),
      ("streaming.state_rows", "rows", perOpMax(_.stateRows)),
      ("streaming.state_mem_bytes", "B", perOpMax(_.stateMemBytes)),
      ("streaming.state_commit_ms", "ms", batches.map(_.stateCommitMs).sum.toDouble),
      ("streaming.late_rows_dropped", "rows", batches.map(_.lateRowsDropped).sum.toDouble))
  }

  /** The spans as one JSON file. */
  def writeSpans(p: Path, workload: String, seed: Long, spans: Seq[Span]): Unit = {
    val root = mapper.createObjectNode()
    root.put("workload", workload)
    root.put("seed", seed)
    val arr = root.putArray("spans")
    spans.foreach { s =>
      arr.addObject().put("id", s.id).put("parent", s.parent).put("kind", s.kind).put("name", s.name)
        .put("start_ms", s.startMs).put("end_ms", s.endMs)
    }
    Files.createDirectories(p.toAbsolutePath.getParent)
    mapper.writeValue(p.toFile, root)
  }

  /** Reads the span file back and recomputes each timed operation's
    * self time from it: a mismatch with the reported gap, or an
    * operation missing from the file, is an error. */
  def spanFileErrors(p: Path, gaps: Map[Long, Double]): Seq[String] = {
    val spans = mapper.readTree(p.toFile).get("spans").elements().asScala.map { n =>
      Span(n.get("id").asLong, n.get("parent").asLong, n.get("kind").asText, n.get("name").asText,
        n.get("start_ms").asDouble, n.get("end_ms").asDouble)
    }.toSeq
    val jobs = spans.filter(_.kind == "job").groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    gaps.toSeq.sortBy(_._1).flatMap { case (id, gap) =>
      byId.get(id) match {
        case None => Some(s"span file $p: operation $id is missing")
        case Some(s) =>
          val self = Span.selfTime(s, jobs.getOrElse(id, Seq.empty))
          Option.when(math.abs(self - gap) > 1e-6)(
            s"${s.name}: self time $self ms in the span file, reported gap $gap ms")
      }
    }
  }

  /** The result object, the last line of stdout. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, String, Double)]): String = {
    val root = mapper.createObjectNode()
    root.put("correct", correct).put("attempted", attempted).put("failed", failed)
    val ms = root.putObject("metrics")
    metrics.foreach { case (n, u, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      ms.putObject(n).put("value", v).put("unit", u)
    }
    mapper.writeValueAsString(root)
  }
}
