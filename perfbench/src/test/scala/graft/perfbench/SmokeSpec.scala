package graft.perfbench

import java.nio.file.{Files, Path}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ner.Ner

/** Every workload, untraced and traced, on scale-factor-0.001 inputs with a
  * one-document `ner_sql_base` panel. */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = Files.createTempDirectory("perfbench-smoke")
  private val data = root.resolve("data")
  private val digests = root.resolve("digests.txt")

  override def beforeAll(): Unit = Fixtures.writeAll(data, Fixtures.Smoke)

  override def afterAll(): Unit = {
    Ner.resetCache()
    scala.reflect.io.Directory(root.toFile).deleteRecursively()
  }

  private def args(workload: String, trace: Boolean): RunArgs = {
    val work = Files.createTempDirectory(root, "work")
    RunArgs(workload, seed = 7, seconds = 0.1, trace = trace, data = data,
      work = work, cpus = 2, expected = Some(digests))
  }

  private def check(r: RunResult, line: String, wanted: Seq[(String, String)]): Unit = {
    assert(r.correct, line)
    assert(r.attempted >= 1 && r.failed == 0)
    wanted.foreach { case (name, unit) => assert(line.contains(s""""$name": {"value": """), name) }
    assert(line.startsWith("""{"correct": true, "attempted": """))
  }

  test("analytics_mix records its digests, then checks against them") {
    val (rec, _) = Main.runOnce(args(Workload.AnalyticsMix, trace = false).copy(record = Some(digests)))
    assert(rec.correct)
    assert(Digest.read(digests).keySet == Workload.MixQueries.toSet)
    val (r, line) = Main.runOnce(args(Workload.AnalyticsMix, trace = false))
    check(r, line, Metrics.EndToEnd)
    assert(r.metrics("queries_per_s") > 0 && r.metrics("rows_per_s") > 0)
  }

  test("analytics_mix traced prints every per-layer metric") {
    val (r, line) = Main.runOnce(args(Workload.AnalyticsMix, trace = true))
    check(r, line, Metrics.PerLayer)
    assert(r.metrics("spark.jobs") > 0 && r.metrics("encoder.calls") == 0)
  }

  test("a wrong committed digest fails the run") {
    val bad = root.resolve("bad.txt")
    val good = Digest.read(digests)
    Digest.write(bad, (good + ("q01_pricing_summary" -> Digest(1, 1))).toSeq)
    val (r, _) = Main.runOnce(args(Workload.AnalyticsMix, trace = false).copy(expected = Some(bad)))
    assert(!r.correct)
    assert(r.failed >= 1 && r.failed < r.attempted) // only q01's executions
  }

  for (w <- Seq(Workload.NerTiny, Workload.NerBase); trace <- Seq(false, true))
    test(s"$w ${if (trace) "traced" else "untraced"}") {
      val (r, line) = Main.runOnce(args(w, trace))
      check(r, line, if (trace) Metrics.PerLayer else Metrics.EndToEnd)
      if (trace) {
        assert(r.metrics("encoder.calls") == r.metrics("nerexpr.rows"))
        assert(r.metrics("ner.scan_partitions") >= 1)
        assert(r.metrics("trace.unattributed_frac") < 0.5)
      } else assert(r.metrics("rows_per_s") > 0)
    }
}
