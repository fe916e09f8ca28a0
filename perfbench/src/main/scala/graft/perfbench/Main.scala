package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit}

import graft.{GraftSession, QueryDef, Tables}
import graft.ingest.{ConsumeJob, ProduceJob, Snapshots}

/** One timed benchmark operation: a declared statement or one call into
  * the ingest layer. Pass 0 is a warm-up pass, which set-up includes. */
final case class OpRun(id: Long, name: String, kind: String, pass: Int,
                       startMs: Double, endMs: Double, ok: Boolean,
                       rows: Long, logOpens: Long) {
  def durMs: Double = endMs - startMs
  def span: Span = Span(id, 0L, kind, s"$name@pass$pass", startMs, endMs)
}

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * graft.perfbench.Main --workload analytics --seed 1 --seconds 10 --trace 0
  *     [--data DIR] [--expected FILE] [--record FILE] [--spans FILE] [--work DIR]
  * }}}
  *
  * The last line of stdout is the result object; the exit code is 0
  * only when every operation succeeded and every output matched. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, expected: String, record: Option[String],
                        spans: Option[String], work: String)

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String, d: => String) = kv.getOrElse(k, d)
    val unknown = kv.keySet -- Set("workload", "seed", "seconds", "trace", "data",
      "expected", "record", "spans", "work")
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    Args(
      workload = get("workload", throw new IllegalArgumentException("--workload is required")),
      seed = get("seed", "1").toLong,
      seconds = get("seconds", "10").toDouble,
      trace = get("trace", "0") == "1",
      data = Paths.get(get("data", "perfbench/data/sf0.01")).toAbsolutePath.toString,
      expected = get("expected", "perfbench/expected/sf0.01.tsv"),
      record = kv.get("record"),
      spans = kv.get("spans"),
      work = Paths.get(get("work", ".bench_build/work")).toAbsolutePath.toString)
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv.toSeq))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        2
      }
    System.exit(code)
  }

  /** Set-ups per run; setup_s takes their median. */
  val SetupReps = 3

  /** Fewest timed passes per run. */
  val MinPasses = 3

  /** Root the engine stages fixtures and catalog tables under. */
  val EngineStagingRoot: Path = Paths.get("/tmp/graft")

  def wipe(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toSeq)
        .reverse.foreach(Files.deleteIfExists)

  def session(work: String): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.local.dir", s"$work/spark-local"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** One set-up: fresh session on empty staging and the warm-up
    * statements Bench runs. Nothing is caught: a failed step fails the
    * run. */
  def setUp(a: Args): SparkSession = {
    wipe(EngineStagingRoot)
    wipe(Paths.get(a.work))
    val s = session(a.work)
    s.range(100000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
    Tables.lineitem(s, a.data).agg(count(lit(1))).collect()
    s
  }

  def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val wl = Workloads.byName(a.workload)
    require(Files.isRegularFile(Paths.get(a.data, "lineitem.parquet")),
      s"no benchmark data under ${a.data}")
    val expected =
      if (a.record.isDefined) Map.empty[String, Expected] else Checks.load(Paths.get(a.expected))

    // set-up, repeated; the last session is the one measured
    val setupMs = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupReps).foreach { i =>
      if (spark != null) stopSession(spark)
      val t0 = if (i == 1) jvmStartMs else Clock.nowMs
      spark = setUp(a)
      setupMs += Clock.nowMs - t0
    }
    val tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      spark.streams.addListener(t.streams)
    }

    val runner = new Runner(spark, wl, a, expected, tracer.isDefined)
    val rng = new Random(a.seed)

    // warm-up, part of set-up: the ingest loop once on a table of its
    // own, then every statement, untimed (outputs still checked), so the
    // timed phase measures compiled code rather than how far the JIT
    // happened to get
    val plan = IngestPlan.draw(a.seed)
    val warmT0 = Clock.nowMs
    if (wl.ingestLoop) runner.ingestLoop(plan.warmUp, s"${a.work}/lake-warm", pass = 0)
    (1 to wl.warmUpPasses).foreach(_ => rng.shuffle(wl.defs).foreach(runner.statement(_, 0)))
    val warmMs = Clock.nowMs - warmT0

    // timed passes: whole passes until --seconds have elapsed, and at
    // least MinPasses, so each statement's median has samples on both
    // sides of a slow one
    val m0 = Clock.nowMs
    def elapsedS = (Clock.nowMs - m0) / 1000
    if (wl.ingestLoop) runner.ingestLoop(plan, s"${a.work}/lake", pass = 1)
    var pass = 0
    while (pass < MinPasses || elapsedS < a.seconds) {
      pass += 1
      rng.shuffle(wl.defs).foreach(runner.statement(_, pass))
    }
    val measuredS = elapsedS
    stopSession(spark) // drains the listener buses before the records are read
    wipe(EngineStagingRoot)

    val result = Report.build(wl, runner, tracer, setupMs.toSeq, warmMs)
    a.record.foreach(p => runner.record(Paths.get(p)))
    if (tracer.isDefined) {
      val p = Paths.get(a.spans.getOrElse(s"${a.work}/../spans/${wl.name}-seed${a.seed}.json"))
      Report.writeSpans(p, wl.name, a.seed, result.spans)
      Report.spanFileErrors(p, result.gaps).foreach(runner.fail)
      System.err.println(s"[perfbench] spans written to ${p.normalize}")
    }
    System.err.println(f"[perfbench] ${wl.name}: ${runner.runs.count(_.pass > 0)} timed operations " +
      f"over $pass pass(es) in $measuredS%.1f s; setup reps ${setupMs.map(m => f"${m / 1000}%.2f").mkString(" ")} s, " +
      f"warm-up ${warmMs / 1000}%.2f s; untimed hygiene ${runner.hygieneMs / 1000}%.2f s; run_s ${result.runS}%.3f; " +
      f"error_rate ${runner.failures.size.toDouble / runner.attempted}%.4f")
    runner.runs.foreach(r => System.err.println(f"[perfbench]   ${r.name}%-32s pass ${r.pass} ${r.durMs}%9.1f ms"))
    val correct = runner.failures.isEmpty
    println(Report.resultLine(correct, runner.attempted, runner.failures.size,
      if (a.trace) result.perLayer else result.endToEnd))
    if (correct) 0 else 1
  }
}

/** Shape of the ingest loop: a base produce, then one append commit
  * per second of publish at the reference's example rate (10 topics at
  * 5,000 msg/s, `example/produce.sh`). The seed draws each commit's size
  * within 0.5–1.5× of one second's worth around a fixed total, so every
  * seed commits the same rows while data files differ in size. */
final case class IngestPlan(baseRows: Long, batches: Seq[Long], topics: Int) {
  def warmUp: IngestPlan = copy(batches = batches.take(IngestPlan.WarmUpCommits))
}

object IngestPlan {
  val Topics = 10
  val RatePerS = 5000L
  /** Append commits: crosses the checkpoint at version 10
    * (`Snapshots.checkpointInterval`); more do not fit the run budget. */
  val Commits = 12
  /** Append commits of the warm-up loop: in a 16-commit warm-up loop,
    * append and consume times had settled by the 6th commit. */
  val WarmUpCommits = 6
  /** The base produce is one second of publish. */
  val BaseRows: Long = RatePerS
  val AppendRows: Long = Commits * RatePerS

  def draw(seed: Long): IngestPlan = {
    val r = new Random(seed * 7919 + 17)
    val w = Seq.fill(Commits)(0.5 + r.nextDouble())
    val sizes = w.map(x => math.floor(AppendRows * x / w.sum).toLong)
    IngestPlan(BaseRows, sizes.init :+ (AppendRows - sizes.init.sum), Topics)
  }
}

/** Executes operations, times them, and checks their outputs. */
final class Runner(spark: SparkSession, wl: Workload, a: Main.Args,
                   expected: Map[String, Expected], traced: Boolean) {
  val runs = ArrayBuffer.empty[OpRun]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0
  var maxHeapMb = 0.0
  var hygieneMs = 0.0
  private val outputs = ArrayBuffer.empty[(String, Output)]
  private var nextId = 1L

  /** Ingest-loop figures. */
  val appendMs = ArrayBuffer.empty[Double]
  var produceMs, consumeMs, snapshotMs = 0.0
  var consumeRows, loopLogOpens, commits = 0L
  var tableFiles: Seq[(Path, Long)] = Seq.empty
  var liveRows = 0L

  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Untimed hygiene before a statement, as Bench does it: no cached
    * plan or block may leak across statements, and one statement's
    * garbage must not land in the next one's time. */
  private def hygiene(): Unit = {
    val t0 = Clock.nowMs
    spark.catalog.clearCache()
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    maxHeapMb = maxHeapMb max used
    hygieneMs += Clock.nowMs - t0
  }

  /** Runs `f` as one timed operation; its Spark jobs carry the
    * operation's id. A throw is counted and named, never swallowed. */
  def timed[T](name: String, kind: String, pass: Int)(f: => T): (Option[T], OpRun) = {
    val id = nextId
    nextId += 1
    attempted += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    val opens0 = Snapshots.logOpens.get
    val t0 = Clock.nowMs
    val (res, ok) =
      try (Some(f), true)
      catch { case NonFatal(e) =>
        fail(s"$name (pass $pass) threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        (None, false)
      } finally sc.setLocalProperty(Tracer.OpProperty, null)
    val r = OpRun(id, name, kind, pass, t0, Clock.nowMs, ok, 0L, Snapshots.logOpens.get - opens0)
    runs += r
    (res, r)
  }

  /** Record or check one output; returns whether it matched. */
  private def check(name: String, out: Output, want: Option[Expected]): Boolean =
    if (a.record.isDefined) { outputs += name -> out; true }
    else Checks.mismatch(name, out, want) match {
      case Some(m) => fail(m); false
      case None => true
    }

  def statement(d: QueryDef, pass: Int): Unit = {
    hygiene()
    val (saved, r) = timed(d.name, "stmt", pass)(Checks.save(d.run(spark, a.data)))
    saved.foreach { obs =>
      val out = Checks.output(obs)
      runs(runs.size - 1) = r.copy(rows = out.rows, ok = check(d.name, out, expected.get(d.name)))
    }
  }

  /** The reference's loop on a fresh table under `root`: one produce
    * fanned out over the topics, then appends of generator rows, each
    * advancing the offload watermark and followed by a watermark-gated
    * consume, then one DSv2 read of the final snapshot. The conservation
    * counters are the output check, and the timed loop's final read is
    * checked against its recorded checksum as well. Only the timed loop
    * (pass > 0) feeds the ingest figures. */
  def ingestLoop(plan: IngestPlan, root: String, pass: Int): Unit = {
    val prefix = "ingest"
    val timedLoop = pass > 0
    val opens0 = Snapshots.logOpens.get
    var committed = 0L
    var consumed = 0L

    def consume(label: String): Unit = {
      val due = committed - consumed
      val (rep, r) = timed(s"ingest.consume#$label", "ingest", pass)(
        ConsumeJob.consume(spark, root, prefix))
      rep.foreach { c =>
        if (timedLoop) {
          consumeMs += r.durMs
          consumeRows += c.totalReceived
        }
        consumed += c.totalReceived
        val maxPos = c.topics.map(_.maxPos).maxOption
        Seq(
          Option.when(c.skipped)("skipped below a new watermark"),
          Option.when(c.totalReceived != due)(s"received ${c.totalReceived}, committed since last consume $due"),
          c.topics.find(t => t.distinctPos != t.received).map(t =>
            s"${t.topic}: distinctPos ${t.distinctPos} != received ${t.received}"),
          Option.when(maxPos.isEmpty || c.watermark != maxPos)(
            s"max position $maxPos != watermark ${c.watermark}"))
          .flatten.foreach(p => fail(s"ingest.consume#$label (pass $pass): $p"))
      }
    }

    val (_, p) = timed("ingest.produce", "ingest", pass)(
      ProduceJob.produceBatch(spark, root, prefix, topics = plan.topics, numMessages = plan.baseRows))
    if (p.ok) committed += plan.baseRows
    if (timedLoop) {
      produceMs += p.durMs
      commits += 1
    }
    consume("0")
    var pos = plan.baseRows
    plan.batches.zipWithIndex.foreach { case (n, i) =>
      val rows = ProduceJob.personProjection(
        spark.range(pos, pos + n).toDF("cnt"), "cnt", prefix, plan.topics)
      val (_, r) = timed(s"ingest.append#${i + 1}", "ingest", pass)(
        Snapshots.appendBatch(spark, root, prefix, rows, partitionCols = Seq("topic")))
      if (r.ok) committed += n
      pos += n
      ProduceJob.commitManifest(root, prefix, pos - 1)
      if (timedLoop) {
        appendMs += r.durMs
        commits += 1
      }
      if (traced && timedLoop) {
        val (_, s) = timed(s"ingest.snapshot#${i + 1}", "ingest", pass)(Snapshots.snapshot(root, prefix))
        snapshotMs += s.durMs
      }
      consume(s"${i + 1}")
    }
    val (saved, r) = timed("ingest.read", "ingest", pass)(
      Checks.save(spark.read.format("graft").load(s"$root/$prefix")))
    saved.foreach { obs =>
      val out = Checks.output(obs)
      runs(runs.size - 1) = r.copy(rows = out.rows)
      if (consumed != committed) fail(s"ingest loop (pass $pass): consumed $consumed != committed $committed")
      if (out.rows != committed) fail(s"ingest.read (pass $pass): ${out.rows} rows, committed $committed")
      if (timedLoop) {
        check("lakehouse.ingest_read", out, expected.get("lakehouse.ingest_read"))
        liveRows = out.rows
      }
    }
    if (timedLoop) {
      loopLogOpens = Snapshots.logOpens.get - opens0
      val base = Paths.get(root)
      tableFiles = scala.util.Using.resource(Files.walk(base))(_.iterator().asScala
        .filter(f => Files.isRegularFile(f) && base.relativize(f).toString.startsWith(prefix))
        .map(f => base.relativize(f) -> Files.size(f)).toSeq)
    }
  }

  /** Fold this run's outputs into the expected-output file: a row
    * count that changes is an error, a checksum that changes is
    * dropped (the statement's output is not bit-stable). */
  def record(p: Path): Unit = {
    val old = if (Files.exists(p)) Checks.load(p) else Map.empty[String, Expected]
    val merged = outputs.groupBy(_._1).map { case (n, outs) =>
      val rows = outs.map(_._2.rows).distinct
      require(rows.size == 1, s"$n: row count differs between executions: $rows")
      val sums = outs.map(_._2.checksum).distinct
      val now = Expected(rows.head, if (sums.size == 1) Some(sums.head) else None)
      n -> (old.get(n) match {
        case None => now
        case Some(o) =>
          require(o.rows == now.rows, s"$n: row count ${now.rows}, recorded ${o.rows}")
          if (o.checksum == now.checksum) o else Expected(o.rows, None)
      })
    }
    Checks.write(p, "Expected outputs per statement: name, rows, checksum (- = rows only).\n" +
      "Written by graft.perfbench.Main --record; see perfbench/README.md.",
      (old ++ merged).toSeq)
  }
}
