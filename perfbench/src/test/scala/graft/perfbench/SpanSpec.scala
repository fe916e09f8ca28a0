package graft.perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  // run 0..100 ─┬─ stmt 10..60 ─┬─ job 15..25
  //             │               ├─ job 20..30   (overlaps the first)
  //             │               ├─ job 55..70   (runs past its parent)
  //             │               └─ job 40..40   (empty)
  //             └─ stmt 60..90 (no children)
  private val run = Span(0, -1, "run", "r", 0, 100)
  private val stmt1 = Span(1, 0, "stmt", "a", 10, 60)
  private val stmt2 = Span(2, 0, "stmt", "b", 60, 90)
  private val jobs = Seq(
    Span(3, 1, "job", "j1", 15, 25), Span(4, 1, "job", "j2", 20, 30),
    Span(5, 1, "job", "j3", 55, 70), Span(6, 1, "job", "j4", 40, 40))

  test("self time subtracts the union of the children, clipped to the parent") {
    // children cover 15..30 and 55..60 = 20 of the statement's 50
    assert(Span.covered(10, 60, jobs.map(j => (j.startMs, j.endMs))) == 20.0)
    assert(Span.selfTime(stmt1, jobs) == 30.0)
    assert(Span.selfTime(stmt2, Seq.empty) == 30.0)
    assert(Span.selfTime(run, Seq(stmt1, stmt2)) == 20.0)
  }

  test("self time plus covered time is the duration") {
    val cov = Span.covered(stmt1.startMs, stmt1.endMs, jobs.map(j => (j.startMs, j.endMs)))
    assert(Span.selfTime(stmt1, jobs) + cov == stmt1.durMs)
  }

  test("children outside the parent cover nothing; nested children count once") {
    val outside = Seq(Span(9, 2, "job", "before", 0, 5), Span(10, 2, "job", "after", 95, 100))
    assert(Span.selfTime(stmt2, outside) == 30.0)
    // j3 (55..70) runs into the next statement's interval: 10 of it counts there
    assert(Span.selfTime(stmt2, jobs) == 20.0)
    val nested = Seq(Span(7, 1, "job", "outer", 10, 60), Span(8, 1, "job", "inner", 20, 30))
    assert(Span.selfTime(stmt1, nested) == 0.0)
  }

  test("a job attributed to another operation, or to none, is reported") {
    def op(id: Long, start: Double, end: Double) =
      OpRun(id, s"op$id", "stmt", 1, start, end, ok = true, 0L, 0L)
    val ops = Seq(op(1, 1000, 2000), op(2, 3000, 4000))
    def job(id: Int, op: Long, start: Double) = new JobRec(id, op, start, "")
    // inside its own operation (at its very start too); a set-up job between operations
    assert(Report.misattributed(ops, Seq(job(1, 1, 1500), job(2, 2, 3000), job(3, 0, 2500))).isEmpty)
    // inside op 1 with no operation; inside op 2 carrying op 1; carrying op 2 before it began
    val errs = Report.misattributed(ops, Seq(job(4, 0, 1500), job(5, 1, 3500), job(6, 2, 2500)))
    assert(errs.size == 3, errs)
  }

  test("the span file reproduces each operation's gap; a different gap is reported") {
    val p = Paths.get("../.bench_build/test-work/span-roundtrip.json").toAbsolutePath.normalize
    Files.createDirectories(p.getParent)
    Report.writeSpans(p, "w", 1L, Seq(run, stmt1, stmt2) ++ jobs)
    assert(Report.spanFileErrors(p, Map(1L -> 30.0, 2L -> 30.0)).isEmpty)
    assert(Report.spanFileErrors(p, Map(1L -> 29.0)).size == 1)
    assert(Report.spanFileErrors(p, Map(99L -> 0.0)).size == 1)
  }

  test("quantiles interpolate linearly") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.quantile(xs, 0.5) == 5.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 9.1) < 1e-9)
    assert(Stats.quantile(Seq.empty, 0.9) == 0.0)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
  }
}
