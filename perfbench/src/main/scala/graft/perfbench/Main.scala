package graft.perfbench

import java.nio.file.Paths

/** One benchmark run in this JVM. Launched by `perfbench/run.py`, which
  * builds the classpath, generates the inputs and owns the temp directory:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <fixtures dir> --work <temp dir> --cpus <n>
  *      [--expected <digests>] [--record <digests>] [--spans <file>]
  * }}}
  *
  * Prints progress lines, then the result JSON as the last line of
  * standard output; exits 1 if any operation failed or its output was
  * wrong, 2 on bad arguments.
  */
object Main {
  def parse(argv: Seq[String]): RunArgs = {
    val kv = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def req(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    RunArgs(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toDouble,
      trace = req("trace") == "1",
      data = Paths.get(req("data")),
      work = Paths.get(req("work")),
      cpus = req("cpus").toInt,
      expected = kv.get("expected").map(Paths.get(_)),
      record = kv.get("record").map(Paths.get(_)),
      spans = kv.get("spans").map(Paths.get(_)))
  }

  /** Run one workload and return its result line. */
  def runOnce(a: RunArgs): (RunResult, String) = {
    val w = Workload(a)
    val (spark, setupS) = w.setup()
    try {
      val r = w.run(spark, setupS)
      val wanted = if (a.trace) Metrics.PerLayer else Metrics.EndToEnd
      System.out.println(s"[${a.workload}] " + wanted.map { case (k, u) =>
        f"$k=${r.metrics.getOrElse(k, Double.NaN)}%.4g $u" }.mkString(", ") +
        f", error_rate=${r.errorRate}%.4g " +
        s"(${r.failed} of ${r.attempted} operations failed)")
      (r, Metrics.json(r, wanted))
    } finally Session.stop(spark)
  }

  def main(argv: Array[String]): Unit = {
    val a =
      try parse(argv.toSeq)
      catch { case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2) }
    val code =
      try {
        val (r, line) = runOnce(a)
        System.out.println(line)
        if (r.correct) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }
}
