package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.ner.{BertEncoder, BioMerge, ModelFormat, Ner, NerModel, WordPiece}

/** Command-line settings of one benchmark run. */
final case class RunArgs(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: Path,
    work: Path,
    cpus: Int,
    expected: Option[Path] = None,
    record: Option[Path] = None,
    spans: Option[Path] = None)

/** What one run measured, by metric name (units are in [[Metrics]]). */
final case class RunResult(attempted: Int, failed: Int, metrics: Map[String, Double]) {
  def correct: Boolean = failed == 0
  /** Operations that threw or failed their check ÷ operations attempted. */
  def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

/** The closed-loop measurement shared by every workload: one client, the
  * next unit (a SQL statement, or a pass over the query mix) sent only
  * after the previous one finished, until the window has elapsed — at
  * least one unit, and only whole units are counted.
  */
abstract class Workload(val a: RunArgs) {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  protected def log(s: String): Unit = System.out.println(
    f"[${a.workload} +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs] $s")
  val tally = new ErrorTally

  /** Tables the workload registers as temp views during set-up. */
  def tables: Seq[String]
  /** Model file set as `spark.ner.model_path` and loaded during set-up. */
  def modelFile: Option[Path]

  /** One set-up: session up, tables registered, model loaded and its
    * encoder built. */
  private def setupOnce(): SparkSession = {
    val spark = Session.builder(a.cpus, a.work).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tables.foreach(t =>
      spark.read.parquet(a.data.resolve(s"$t.parquet").toString).createOrReplaceTempView(t))
    modelFile.foreach { f =>
      spark.conf.set(Ner.ConfKey, f.toString)
      require(Ner.currentModel().isDefined, s"model $f did not load")
    }
    spark
  }

  /** Set up [[Workload.SetupReps]] times and keep the last session. The
    * first set-up is timed from process start; each later one from a
    * stopped session and an empty model cache. Returns the session and the
    * median time. */
  def setup(): (SparkSession, Double) = {
    var spark = setupOnce()
    val times = ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)
    while (times.size < Workload.SetupReps) {
      Session.stop(spark)
      Ner.resetCache()
      // collect the previous set-up's model, so the resident high-water
      // mark does not depend on when the collector would have run
      System.gc()
      val t0 = System.nanoTime()
      spark = setupOnce()
      times += (System.nanoTime() - t0) / 1e9
    }
    log(f"setup times ${times.map(t => f"$t%.3f").mkString(" ")} s")
    (spark, Stats.median(times.toSeq))
  }

  /** Run `unit` in a closed loop until the window has elapsed and at
    * least `minUnits` units ran. Each call returns the number of result
    * rows it produced, or throws. Returns each unit's latency and rows. */
  protected def closedLoop(unit: () => Long, minUnits: Int = 1): (Seq[Double], Seq[Long]) = {
    val lat = ArrayBuffer.empty[Double]
    val rows = ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    while (lat.size < minUnits || System.nanoTime() - t0 < a.seconds * 1e9) {
      val s = System.nanoTime()
      rows += unit()
      lat += (System.nanoTime() - s) / 1e9
    }
    (lat.toSeq, rows.toSeq)
  }

  /** Run the workload on a set-up session; returns its metrics. */
  def run(spark: SparkSession, setupS: Double): RunResult
}

object Workload {
  val NerTiny = "ner_sql_tiny"
  val NerBase = "ner_sql_base"
  val AnalyticsMix = "analytics_mix"
  val Names: Seq[String] = Seq(NerTiny, NerBase, AnalyticsMix)
  val SetupReps = 3

  /** The analytics mix: reads, then the two queries that write tables. */
  val MixQueries: Seq[String] = Seq("q01_pricing_summary",
    "q03_join_orders_customer", "q65_tpch_q5_shape", "q223_tpch_q8_shape",
    "q08_window_rank", "q23_tumbling_window", "q158_asof_native",
    "q190_interval_native", "q38_minhash_near_dup", "q149_grouped_topk",
    "q43_ivf_assign", "q109_compaction", "q88_bucketed_join")

  def apply(a: RunArgs): Workload = a.workload match {
    case NerTiny => new NerSql(a, Fixtures.TinyModel, panel = false)
    case NerBase => new NerSql(a, Fixtures.BaseModel, panel = true)
    case AnalyticsMix => new Analytics(a)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${Names.mkString(", ")})")
  }

  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  /** GC time and peak heap use over a stretch of the run. */
  final class JvmWatch {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private val gc0 = gcs.map(_.getCollectionTime).sum
    heap.foreach(_.resetPeakUsage())
    def gcSeconds: Double = (gcs.map(_.getCollectionTime).sum - gc0) / 1e3
    def heapPeakMb: Double = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Run `f` over `xs` on `threads` threads, keeping input order. */
  def parMap[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }
}

/** `SELECT doc_id, ner(text) AS entities FROM documents WHERE ...` in a
  * closed loop. The bert-tiny-class model runs over every document, one
  * fifth of the table per statement; the bert-base-geometry F16 model over
  * a seeded panel of fixed-length documents.
  */
final class NerSql(a0: RunArgs, model: String, panel: Boolean) extends Workload(a0) {
  import NerSql._

  def tables: Seq[String] = Seq("documents")
  def modelFile: Option[Path] = Some(a.data.resolve(model))

  type Entities = Seq[(String, String)]

  private def entitiesOf(r: Row): Entities =
    if (r.isNullAt(1)) null
    else r.getSeq[Row](1).map(e => (e.getString(0), e.getString(1)))

  def run(spark: SparkSession, setupS: Double): RunResult = {
    val loaded = Ner.currentModel().get
    val hp = loaded.model.hparams
    val all = spark.table("documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val tokens = all.map(_._1).zip(Workload.parMap(all, a.cpus) { case (_, t) =>
      WordPiece.tokenize(loaded.model.vocab, t, hp.nMaxTokens).length }).toMap
    val docs = if (panel) choosePanel(all, tokens, a.seed) else all
    // one pass covers `docs`: the panel in one statement, or the whole table
    // in doc_id slices, so a run yields several statement latencies
    val slices: Seq[Seq[(Long, String)]] =
      if (panel) Seq(docs)
      else docs.sortBy(_._1).grouped(math.max(1, (docs.size + Slices - 1) / Slices)).toSeq
    val statements = slices.map { sl =>
      val ids = sl.map(_._1)
      "SELECT doc_id, ner(text) AS entities FROM documents WHERE " +
        (if (panel) s"doc_id IN (${ids.mkString(", ")})" else s"doc_id BETWEEN ${ids.min} AND ${ids.max}")
    }
    log(s"${docs.size} docs in ${statements.size} statement(s), ${docs.map(d => tokens(d._1)).sum} tokens after " +
      s"truncation at ${hp.nMaxTokens}, " +
      f"model ${Files.size(modelFile.get) / 1048576.0}%.1f MB, ${spark.table("documents").rdd.getNumPartitions} scan partition(s)")

    // the reference output, outside the timed window: Ner.evalWith on the
    // same model and rows. Computing it first also warms the JIT on the
    // NER code path the statements run.
    val reference: Map[Long, Entities] = Workload.parMap(docs, a.cpus) { case (id, t) =>
      val e = Ner.evalWith(Some(loaded), t, truncate = true)
      id -> (if (e == null) null else e.toSeq.map(x => (x.entity, x.label)))
    }.toMap
    // and one small statement of the same shape warms the SQL side
    val measured = docs.map(_._1).toSet
    val warm = (if (panel) all.filterNot(d => measured(d._1)) else all)
      .sortBy(_._2.length).take(if (panel) 1 else math.max(1, docs.size / 10)).map(_._1)
    spark.sql(s"SELECT doc_id, ner(text) AS entities FROM documents WHERE doc_id IN (${warm.mkString(", ")})").collect()
    log("warm-up done")

    // every statement's output must equal the reference row for row
    def check(out: Array[Row], i: Int): Unit = {
      val want = slices(i).map(d => d._1 -> reference(d._1)).toMap
      val got = out.map(r => r.getLong(0) -> entitiesOf(r)).toMap
      val ok = got == want
      if (!ok) log(s"MISMATCH: statement output differs from Ner.evalWith " +
        s"(${got.count { case (k, v) => want.get(k).contains(v) }} of ${want.size} rows equal)")
      tally.record(ok)
    }
    val (lat, rows) = loop(statements, check)(i => spark.sql(statements(i)).collect())
    val rate = Stats.median(rows.zip(lat).map { case (r, t) => r / t })

    val e2e = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> rate,
      "queries_per_s" -> lat.size / lat.sum,
      "query_p50_s" -> Stats.median(lat),
      "peak_rss_mb" -> Workload.peakRssMb())
    log(f"docs_per_s=$rate%.3f docs/s (median of ${lat.size} statement(s)), " +
      f"query_p50_s=${Stats.median(lat)}%.3f s (${lat.map(t => f"$t%.2f").mkString(" ")})")
    if (!a.trace) RunResult(tally.attempted, tally.failed, e2e)
    else traced(spark, statements, slices.head, reference, rate, check)
  }

  /** Run the pass's statements in turn, cycling, until the window has
    * elapsed and at least one whole pass and [[MinStatements]] statements
    * are done; `run(i)` executes statement `i`. Every output is checked
    * after the window. Returns each statement's latency and row count. */
  private def loop(statements: Seq[String], check: (Array[Row], Int) => Unit)(
      run: Int => Array[Row]): (Seq[Double], Seq[Double]) = {
    val outputs = ArrayBuffer.empty[(Array[Row], Int)]
    val (lat, rows) = closedLoop(() => {
      val i = outputs.size % statements.size
      outputs += ((run(i), i))
      outputs.last._1.length
    }, minUnits = math.max(statements.size, MinStatements))
    outputs.foreach { case (out, i) => check(out, i) }
    (lat, rows.map(_.toDouble))
  }

  /** The traced run: the statements again with a task listener and spans
    * around planning and execution, then the first statement's rows
    * replayed through each NER layer's entry point. */
  private def traced(spark: SparkSession, statements: Seq[String], docs: Seq[(Long, String)],
      reference: Map[Long, Entities], untracedRate: Double,
      check: (Array[Row], Int) => Unit): RunResult = {
    val tracer = new Tracer(s"${a.workload}-${a.seed}")
    val counters = new Counters
    val sc = spark.sparkContext
    sc.addSparkListener(counters)
    val scanPartitions = spark.sql(statements.head).queryExecution.toRdd.getNumPartitions
    val jvm = new Workload.JvmWatch
    val before = counters.snapshot
    val (lat, rows) = loop(statements, check) { i =>
      tracer.span("statement") {
        val df = spark.sql(statements(i))
        tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
        val out = tracer.span("spark.exec")(df.collect())
        ListenerBus.drain(sc)
        out
      }
    }
    val c = counters.snapshot - before
    sc.removeSparkListener(counters)
    val gcS = jvm.gcSeconds
    val heapMb = jvm.heapPeakMb
    val tracedRate = Stats.median(rows.zip(lat).map { case (r, t) => r / t })
    val n = lat.size.toDouble

    val replayed = replay(tracer, modelFile.get, docs)
    val ok = replayed.result == docs.map(d => d._1 -> reference(d._1)).toMap
    if (!ok) log("MISMATCH: layer replay differs from Ner.evalWith")
    tally.record(ok)

    val spans = tracer.all
    val self = Trace.selfSecondsByName(spans)
    val root = spans.find(_.name == "replay").get
    val execS = spans.filter(_.name == "spark.exec").map(_.durationNs).sum / 1e9
    val planS = spans.filter(_.name == "catalyst.plan").map(_.durationNs).sum / 1e9
    val cpuS = c.cpuNs / 1e9 / n
    // CPU time on both sides of the subtraction: executor CPU of one
    // statement minus the CPU the replay spent in the three layers
    val layersS = Seq("wordpiece", "encoder", "biomerge")
      .map(l => spans.filter(_.name == l).map(_.cpuNs).sum).sum / 1e9
    log(f"replay wall ${root.durationNs / 1e9}%.3f s = " +
      Seq("model.load", "encoder.build", "wordpiece", "encoder", "biomerge", "replay")
        .map(k => f"$k ${self.getOrElse(k, 0.0)}%.3f").mkString(" + ") +
      f" (self times sum to ${self.filter(kv => replayNames(kv._1)).values.sum / (root.durationNs / 1e9) * 100}%.1f%%)")
    log(f"statement: executor cpu $cpuS%.3f s/stmt = layers $layersS%.3f (replay cpu) + ner expression and scan ${cpuS - layersS}%.3f")
    a.spans.foreach(tracer.write)

    val mb = 1048576.0
    val layer = Map(
      "ner.scan_partitions" -> scanPartitions.toDouble,
      "ner.tasks" -> c.tasks / n,
      "ner.executor_cpu_s" -> cpuS,
      "ner.cpu_util" -> c.cpuNs / 1e9 / (execS * a.cpus),
      "nerexpr.rows" -> rows.sum / n,
      "nerexpr.self_s" -> (cpuS - layersS),
      "wordpiece.s" -> replayed.wordpieceS,
      "wordpiece.tokens" -> replayed.tokens.toDouble,
      "wordpiece.truncated_frac" -> replayed.truncated.toDouble / docs.size,
      "encoder.s" -> replayed.encoderS,
      "encoder.calls" -> replayed.calls.toDouble,
      "encoder.tokens" -> replayed.tokens.toDouble,
      "encoder.tokens_per_call" -> replayed.tokens.toDouble / replayed.calls,
      "encoder.gmac" -> replayed.gmac,
      "encoder.gmac_per_s" -> replayed.gmac / replayed.encoderS,
      "encoder.weight_gb" -> replayed.calls * replayed.weightBytes / 1e9,
      "biomerge.s" -> replayed.biomergeS,
      "biomerge.entities" -> replayed.entities.toDouble,
      "model.load_s" -> replayed.loadS,
      "model.file_mb" -> Files.size(modelFile.get) / mb,
      "encoder.build_s" -> replayed.buildS,
      "catalyst.plan_s" -> planS / n,
      "spark.exec_s" -> execS / n,
      "spark.jobs" -> c.jobs / n,
      "spark.tasks" -> c.tasks / n,
      "spark.executor_cpu_s" -> cpuS,
      "spark.cpu_util" -> c.cpuNs / 1e9 / (execS * a.cpus),
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / mb / n,
      "spark.shuffle_read_mb" -> c.shuffleReadBytes / mb / n,
      "spark.spill_mb" -> c.spillBytes / mb / n,
      "spark.output_mb" -> c.outputBytes / mb / n,
      "jvm.gc_s" -> gcS / n,
      "jvm.heap_peak_mb" -> heapMb,
      "trace.overhead_frac" -> (1 - tracedRate / untracedRate),
      "trace.unattributed_frac" -> self("replay") / (root.durationNs / 1e9))
    RunResult(tally.attempted, tally.failed, layer)
  }
}

object NerSql {
  /** Statements one pass over the whole table is split into. */
  val Slices = 5

  /** Fewest statements a window runs, so its median resists one slow
    * statement. */
  val MinStatements = 3

  /** Spans the layer replay records, all under one `replay` root. */
  val replayNames: Set[String] =
    Set("replay", "model.load", "encoder.build", "wordpiece", "encoder", "biomerge")

  /** Token counts of the `ner_sql_base` panel: equal-length documents, so
    * every seed's panel costs the same to encode. */
  val PanelTokens: (Int, Int) = (120, 128)

  /** Documents in the `ner_sql_base` panel: one encoder call of about
    * 2.5 s on the 4-core reference machine, so a run fits its time budget. */
  val PanelDocs = 1

  /** A seeded panel of [[PanelDocs]] documents whose token count lies in
    * [[PanelTokens]]. Falls back to the documents closest to the band when
    * it holds too few (the smoke-test data). */
  def choosePanel(docs: Seq[(Long, String)], tokens: Map[Long, Int], seed: Long): Seq[(Long, String)] = {
    val (lo, hi) = PanelTokens
    val inBand = docs.filter(d => tokens(d._1) >= lo && tokens(d._1) < hi)
    val pool =
      if (inBand.size >= PanelDocs) inBand
      else docs.sortBy(d => (math.abs(tokens(d._1) - (lo + hi) / 2), d._1)).take(PanelDocs)
    new scala.util.Random(seed).shuffle(pool.sortBy(_._1)).take(PanelDocs)
  }

  /** Multiply-accumulates of one encoder call on `n` tokens: per layer the
    * Q, K, V and output projections (4·n·E²), the FFN (2·n·E·I) and the
    * attention scores and weighted sum (2·n²·E); then the classifier. */
  def macs(n: Long, e: Long, inter: Long, layers: Long, labels: Long): Double =
    (layers * (4 * n * e * e + 2 * n * e * inter + 2 * n * n * e) + n * e * labels).toDouble

  /** Bytes of the linear weights in their stored precision — what one
    * encoder call streams through the matmul kernels. */
  def weightBytes(m: NerModel): Long = m.tensors.collect {
    case (name, t) if ModelFormat.isLinearWeight(name) =>
      if (t.isQ4) t.q4.length.toLong else if (t.isF16) 2 * t.numel else 4 * t.numel
  }.sum

  final case class Replay(result: Map[Long, Seq[(String, String)]], loadS: Double,
      buildS: Double, wordpieceS: Double, encoderS: Double, biomergeS: Double,
      tokens: Long, truncated: Int, calls: Int, entities: Long, gmac: Double,
      weightBytes: Long)

  /** Replay `docs` through the layers' entry points — load, build,
    * tokenize, encode, argmax + BIO merge — one span per call. */
  def replay(tracer: Tracer, file: Path, docs: Seq[(Long, String)]): Replay =
    tracer.span("replay") {
      val model = tracer.span("model.load")(ModelFormat.loadFile(file.toString)).get
      val encoder = tracer.span("encoder.build")(new BertEncoder(model))
      val hp = model.hparams
      var tokens = 0L
      var truncated = 0
      var entities = 0L
      var macs0 = 0.0
      val result = docs.map { case (id, text) =>
        val ids = tracer.span("wordpiece")(WordPiece.tokenize(model.vocab, text, hp.nMaxTokens))
        tokens += ids.length
        if (ids.length >= hp.nMaxTokens) truncated += 1
        macs0 += macs(ids.length, hp.nEmbd, hp.nIntermediate, hp.nLayer, hp.nLabels)
        val logits = tracer.span("encoder")(encoder.eval(ids))
        val merged = tracer.span("biomerge") {
          val labels = Array.tabulate(ids.length)(t => BioMerge.argmax(logits, t * hp.nLabels, hp.nLabels))
          BioMerge.merge(ids.map(model.vocab.tokenOf).toIndexedSeq, labels.toIndexedSeq)
        }
        entities += merged.size
        id -> merged.map(e => (e.entity, e.label))
      }.toMap
      val spans = tracer.all
      def total(name: String): Double = spans.filter(_.name == name).map(_.durationNs).sum / 1e9
      Replay(result, total("model.load"), total("encoder.build"), total("wordpiece"),
        total("encoder"), total("biomerge"), tokens, truncated, docs.size, entities,
        macs0 / 1e9, weightBytes(model))
    }
}

/** Thirteen catalog queries in a seeded order, from a fresh session; one
  * unit of the closed loop is one pass over all of them. Each query runs
  * into [[DigestSink]] (like a `noop` write, the whole plan executes and no
  * rows are kept) and its row count and digest are checked against the
  * committed values. No `graft.ner` code runs here.
  */
final class Analytics(a0: RunArgs) extends Workload(a0) {
  def tables: Seq[String] = Fixtures.Tables
  def modelFile: Option[Path] = None

  private val catalog = SparkEntry.queries

  /** Aggregate, broadcast join, window, sort-merge join, explode and a
    * global sort: the operators the mix shares, on small inputs. */
  private val GenericWarmup = Seq(
    "SELECT c_mktsegment, count(*) AS n, sum(c_acctbal) AS s FROM customer " +
      "GROUP BY c_mktsegment ORDER BY c_mktsegment",
    "SELECT n_name, count(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey " +
      "GROUP BY n_name ORDER BY n",
    "SELECT o_custkey, rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS r " +
      "FROM orders ORDER BY o_custkey, r",
    "SELECT /*+ MERGE(o) */ c_mktsegment, count(*) AS n FROM customer JOIN orders o " +
      "ON c_custkey = o_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment",
    "SELECT w, count(*) AS n FROM (SELECT explode(split(text, ' ')) AS w FROM documents) " +
      "GROUP BY w ORDER BY w")
  private val order = new scala.util.Random(a.seed).shuffle(Workload.MixQueries)
  private val expected =
    if (a.record.isDefined) Map.empty[String, Digest]
    else a.expected.map(Digest.read).getOrElse(Map.empty[String, Digest])

  /** One pass over the mix, each query built and run by `exec`; checks
    * and returns every query's latency and digest. */
  private def pass(spark: SparkSession,
      exec: (() => DataFrame) => Digest): (Seq[Double], Seq[(String, Digest)]) = {
    val dir = a.data.toString
    val out = order.map { q =>
      val t0 = System.nanoTime()
      val d = try Some(exec(() => catalog(q)(spark, dir))) catch {
        case e: Exception => log(s"$q failed: $e"); None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val ok = d.isDefined && (a.record.isDefined || expected.get(q) == d)
      if (!ok) log(s"MISMATCH: $q digest ${d.getOrElse("-")} expected ${expected.get(q).getOrElse("-")}")
      tally.record(ok)
      (dt, q -> d.getOrElse(Digest.Zero))
    }
    (out.map(_._1), out.map(_._2))
  }

  def run(spark: SparkSession, setupS: Double): RunResult = {
    log(s"query order: ${order.mkString(" ")}")
    // The window opens with the session's first execution of each query,
    // its own code generation and JIT compilation included: a warm-up pass
    // costs ~25 s, which the run budget (70 runs in 3420 s) lacks. Small
    // generic statements first pay the engine's shared first-use costs,
    // which would otherwise land on whichever queries the seeded order puts
    // first.
    GenericWarmup.foreach(q => Digest.of(spark.sql(q)))
    log("warm-up done")
    val perQuery = ArrayBuffer.empty[Double]
    val digests = ArrayBuffer.empty[(String, Digest)]
    def unit(exec: (() => DataFrame) => Digest): Long = {
      val (lat, ds) = pass(spark, exec)
      perQuery ++= lat
      digests ++= ds
      ds.map(_._2.rows).sum
    }
    val plain: (() => DataFrame) => Digest = build => Digest.of(build())
    val sc = spark.sparkContext
    val counters = new Counters
    def traced(tracer: Tracer): (() => DataFrame) => Digest = build =>
      tracer.span("query") {
        val df = tracer.span("query.build")(build())
        tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
        val d = tracer.span("spark.exec")(Digest.of(df))
        ListenerBus.drain(sc)
        d
      }
    val tracer = new Tracer(s"${a.workload}-${a.seed}")
    if (a.trace) sc.addSparkListener(counters)
    val jvm = new Workload.JvmWatch
    val (passLat, passRows) = closedLoop(() => unit(if (a.trace) traced(tracer) else plain))
    val c = counters.snapshot
    a.record.foreach(p => Digest.write(p, digests.take(order.size).toSeq))
    val lat = perQuery.toSeq
    log("per-query s: " + order.zip(lat).map { case (q, t) => f"${q.takeWhile(_ != '_')} $t%.2f" }.mkString(" "))
    val qps = lat.size / passLat.sum
    log(f"queries_per_s=$qps%.3f queries/s over ${passLat.size} pass(es), " +
      f"query_p50_s=${Stats.median(lat)}%.3f s" +
      Stats.highestSupported(lat.size).map(p => f", query_p$p%s_s=${Stats.percentile(lat, p)}%.3f s").getOrElse("") +
      s" (n=${lat.size})")
    if (!a.trace) return RunResult(tally.attempted, tally.failed, Map(
      "setup_s" -> setupS,
      "rows_per_s" -> Stats.median(passRows.zip(passLat).map { case (r, t) => r / t }),
      "queries_per_s" -> qps,
      "query_p50_s" -> Stats.median(lat),
      "peak_rss_mb" -> Workload.peakRssMb()))

    // The traced run traced the passes the untraced run times. Tracing
    // overhead is measured after them, on one untraced and one traced warm
    // pass.
    val gcS = jvm.gcSeconds
    val heapMb = jvm.heapPeakMb
    a.spans.foreach(tracer.write)
    val t0 = System.nanoTime()
    unit(plain)
    val t1 = System.nanoTime()
    unit(traced(new Tracer("overhead")))
    val t2 = System.nanoTime()
    sc.removeSparkListener(counters)

    val n = passLat.size.toDouble
    val spans = tracer.all
    val self = Trace.selfTimesNs(spans)
    def sumS(name: String): Double = spans.filter(_.name == name).map(_.durationNs).sum / 1e9
    val execS = sumS("spark.exec")
    val mb = 1048576.0
    // no graft.ner code runs in this workload: its NER layers read 0
    RunResult(tally.attempted, tally.failed, Metrics.NerLayers.map(_._1 -> 0.0).toMap ++ Map(
      "catalyst.plan_s" -> sumS("catalyst.plan") / n,
      "spark.exec_s" -> execS / n,
      "spark.jobs" -> c.jobs / n,
      "spark.tasks" -> c.tasks / n,
      "spark.executor_cpu_s" -> c.cpuNs / 1e9 / n,
      "spark.cpu_util" -> c.cpuNs / 1e9 / (execS * a.cpus),
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / mb / n,
      "spark.shuffle_read_mb" -> c.shuffleReadBytes / mb / n,
      "spark.spill_mb" -> c.spillBytes / mb / n,
      "spark.output_mb" -> c.outputBytes / mb / n,
      "jvm.gc_s" -> gcS / n,
      "jvm.heap_peak_mb" -> heapMb,
      "trace.overhead_frac" -> (1 - (t1 - t0).toDouble / (t2 - t1)),
      "trace.unattributed_frac" ->
        spans.filter(_.name == "query").map(s => self(s.id)).sum / 1e9 / passLat.sum))
  }
}
