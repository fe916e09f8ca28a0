package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Runs each workload on the sf0.001 data (one timed pass) and
  * checks the printed result against BENCHMARK.json. The tests run
  * with the benchmark directory as the working directory. */
class BenchmarkSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val work = Paths.get("../.bench_build/test-work").toAbsolutePath.normalize
  private val declared: JsonNode = mapper.readTree(Paths.get("../BENCHMARK.json").toFile)

  private def declaredMetrics(key: String): Map[String, String] =
    declared.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toMap

  /** Runs the benchmark in-process; returns (exit code, result object). */
  private def bench(workload: String, trace: Int, expected: Path = Paths.get("expected/sf0.001.tsv"),
                    spans: Option[Path] = None): (Int, JsonNode) = {
    val out = new ByteArrayOutputStream()
    val argv = Seq("--workload", workload, "--seed", "7", "--seconds", "0", "--trace", trace.toString,
      "--data", "data/sf0.001", "--expected", expected.toString, "--work", work.toString) ++
      spans.toSeq.flatMap(p => Seq("--spans", p.toString))
    val code = Console.withOut(out)(Main.run(Main.parse(argv)))
    val last = new String(out.toByteArray, StandardCharsets.UTF_8).trim.linesIterator.toSeq.last
    (code, mapper.readTree(last))
  }

  private def metrics(result: JsonNode): Map[String, (Double, String)] =
    result.get("metrics").fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("value").asDouble, e.getValue.get("unit").asText)
    }.toMap

  test("BENCHMARK.json names the benchmark's workloads") {
    assert(declared.get("workloads").elements().asScala.map(_.get("name").asText).toSet ==
      Workloads.all.map(_.name).toSet)
  }

  for (w <- Workloads.all.map(_.name)) {
    test(s"$w prints every end-to-end metric with its unit") {
      val (code, res) = bench(w, 0)
      assert(code == 0)
      assert(res.get("correct").asBoolean && res.get("failed").asInt == 0)
      assert(res.get("attempted").asInt >= 1)
      val got = metrics(res)
      assert(got.map { case (n, (_, u)) => n -> u } == declaredMetrics("end_to_end"))
      got.foreach { case (n, (v, _)) => assert(v > 0, s"$n is $v") }
    }

    test(s"$w traced prints every per-layer metric with its unit, and the span file") {
      val spans = work.resolve(s"spans-$w.json")
      Files.deleteIfExists(spans)
      val (code, res) = bench(w, 1, spans = Some(spans))
      assert(code == 0)
      val got = metrics(res)
      assert(got.map { case (n, (_, u)) => n -> u } == declaredMetrics("per_layer"))
      val file = mapper.readTree(spans.toFile)
      val kinds = file.get("spans").elements().asScala.map(_.get("kind").asText).toSet
      assert(Set("run", "job").subsetOf(kinds))
      // jobs were attributed to the timed operations (inside the run,
      // a job whose attribution disagrees with the clock, or a span file
      // whose self times differ from the reported gaps, fails it)
      assert(got("exec.jobs")._1 > 0 && got("driver.gap_ms")._1 > 0)
      if (w == "analytics") {
        // bypass predictions: analytics touches no snapshot log and no stream
        assert(got("ingest.log_opens")._1 == 0.0)
        assert(got("streaming.batches")._1 == 0.0)
      }
      if (w == "lakehouse") {
        assert(got("ingest.commits")._1 == IngestPlan.Commits + 1)
        assert(got("streaming.batches")._1 > 0)
      }
    }
  }

  test("a wrong expected checksum fails the check and the run") {
    val good = Checks.load(Paths.get("expected/sf0.001.tsv"))
    val (victim, e) = good.filter(_._2.checksum.isDefined)
      .find(kv => Workloads.analytics.statements.contains(kv._1)).get
    assert(Checks.mismatch(victim, Output(e.rows, e.checksum.get), Some(e)).isEmpty)
    assert(Checks.mismatch(victim, Output(e.rows, "1" + e.checksum.get), Some(e)).nonEmpty)
    assert(Checks.mismatch(victim, Output(e.rows + 1, e.checksum.get), Some(e)).nonEmpty)

    val altered = work.resolve("altered-expected.tsv")
    Checks.write(altered, "one checksum altered",
      good.toSeq.map { case (n, x) => if (n == victim) n -> x.copy(checksum = Some("12345")) else n -> x })
    val (code, res) = bench("analytics", 0, expected = altered)
    assert(code != 0)
    assert(!res.get("correct").asBoolean)
    // the statement fails in the warm-up pass and in every timed pass
    assert(res.get("failed").asInt >= 2)
  }
}
