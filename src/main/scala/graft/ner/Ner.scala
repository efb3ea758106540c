package graft.ner

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.GraftSqlShim

/** One row of the `ner()` result list:
  * `ARRAY<STRUCT<entity: STRING, label: STRING>>`
  * (reference type construction: `src/ner_extension.cpp:191-195`).
  */
final case class NerEntity(entity: String, label: String)

/** The `ner` / `ner_extract` scalar function family on Spark.
  *
  * Observable semantics replicated from the reference extension:
  *
  *   - both names, both arities (`ner(text)`, `ner(text, truncate)`)
  *     registered under one function name (`src/ner_extension.cpp:197-213`);
  *   - model configured via session conf `spark.ner.model_path`
  *     (`SET spark.ner.model_path = '...'`), default unset — the analogue of
  *     the `ner_model_path` extension option (`src/ner_extension.cpp:215-217`).
  *     The reference loads eagerly in the SET callback; Spark confs have no
  *     callbacks, so we check-and-load lazily at first evaluation per
  *     executor. Observable behavior is identical: a bad / unset path silently
  *     yields `[]` for every row (`test/sql/ner.test:38-51`);
  *   - with no model, even NULL input maps to `[]`
  *     (`src/ner_extension.cpp:68-76`); with a model, NULL maps to NULL
  *     (`:100-103`);
  *   - `truncate = false` with an input that fills the token budget throws
  *     with the reference's exact message (`src/ner_extension.cpp:112-115`);
  *   - functions are non-deterministic-marked so Catalyst never constant-folds
  *     a call on a literal — the analogue of `FunctionStability::VOLATILE`
  *     (`src/ner_extension.cpp:201-203`).
  *
  * Scale notes: a conf-path or [[registerBroadcast]] model is loaded once
  * per executor JVM and cached keyed by its source (the reference holds one
  * process-global model, `src/ner_extension.cpp:16-22`, but without a lock;
  * ours synchronizes). A `ner()` call is evaluated only by [[NerEvalExec]],
  * the way Spark evaluates Python UDFs: [[ExtractNer]] moves each call into
  * a [[NerEval]] node below the operator that holds it, and the operator
  * feeds whole partitions through [[evalPartition]]'s token-budgeted
  * batches. The reference runs each call on 4 ggml threads. Here
  * [[NerEvalExec]] spreads a scan narrower than `defaultParallelism` (a
  * one-row-group parquet file is one partition) over that many tasks, so
  * every core Spark schedules runs the encoder; and one encoder call
  * borrows the task slots no other task is using ([[EncoderPool]]): a lone
  * document's linear panels and attention heads run on every idle core,
  * while a many-task stage, whose tasks hold every slot, runs one
  * single-threaded call per task. No core is oversubscribed.
  */
object Ner {
  val ConfKey = "spark.ner.model_path"

  final case class Loaded(model: NerModel, encoder: BertEncoder)

  /** Where a bound `ner()` reads its model. */
  sealed trait ModelSource extends Serializable

  /** The path in [[ConfKey]] at the time a row is evaluated. */
  case object ConfPath extends ModelSource

  /** Container bytes read once on the driver and broadcast to executors;
    * `id` names this registration in the model cache. Not the broadcast's
    * own id: those restart at 0 in every SparkContext, so two contexts in
    * one JVM (local mode) could share one.
    */
  final case class BroadcastModel(bytes: Broadcast[Array[Byte]],
      id: java.util.UUID) extends ModelSource

  /** The [[SyntheticModel]] twin whose linear weights are stored as
    * `ftype` ([[ModelFormat.F32]], [[ModelFormat.F16]] or
    * [[ModelFormat.Q4_0]]; any other code is no model). The executor
    * resolves it to the twin's per-JVM lazy val, so no model travels with
    * a task and the model cache is never touched. */
  final case class Synthetic(ftype: Int) extends ModelSource

  /** Per-JVM model cache keyed by the source currently in effect: the conf
    * path (`Option[String]`) or a broadcast's [[BroadcastModel.id]].
    * Immutable snapshot behind a @volatile: the steady-state read path is a
    * single volatile load + key compare — no monitor — so concurrent NER
    * tasks never serialize through a lock per row (the reference holds one
    * unlocked process-global, `src/ner_extension.cpp:16-22`; we keep its
    * throughput without its race). The lock is only taken on key change.
    */
  private final case class CacheState(key: AnyRef, value: Option[Loaded])
  @volatile private var cache: CacheState = null
  private val cacheLock = new Object

  private def cached(key: AnyRef)(load: => Option[NerModel]): Option[Loaded] = {
    val snap = cache
    if (snap != null && snap.key == key) snap.value
    else cacheLock.synchronized {
      val again = cache
      if (again != null && again.key == key) again.value
      else {
        val loaded = load.map(m => Loaded(m, new BertEncoder(m)))
        cache = CacheState(key, loaded)
        loaded
      }
    }
  }

  /** The model `source` resolves to in this JVM, parsed at most once per
    * source change.
    */
  private[graft] def modelFor(source: ModelSource): Option[Loaded] =
    source match {
      case ConfPath =>
        val path = GraftSqlShim.confString(ConfKey)
        cached(path)(path.flatMap(ModelFormat.loadFile))
      case BroadcastModel(bytes, id) =>
        cached(id)(ModelFormat.loadBytes(bytes.value))
      case Synthetic(ModelFormat.F32) => Some(SyntheticModel.loaded)
      case Synthetic(ModelFormat.F16) => Some(SyntheticModel.loadedF16)
      case Synthetic(ModelFormat.Q4_0) => Some(SyntheticModel.loadedQ4)
      case Synthetic(_) => None
    }

  private[graft] def currentModel(): Option[Loaded] = modelFor(ConfPath)

  /** Test hook: drop the cached model so a changed conf value re-loads. */
  private[graft] def resetCache(): Unit = cacheLock.synchronized {
    cache = null
  }

  /** One row through [[evalPartition]]: the one-row reference the
    * batched SQL route must match. */
  private[graft] def evalWith(model: Option[Loaded], text: String,
      truncate: Boolean): Array[NerEntity] =
    evalPartition(model, Iterator.single(((), text, truncate))).next()._2

  /** What [[evalPartition]] did: input rows, NULL texts, rows evaluated
    * without a model, tokens, documents cut at the context window,
    * encoder calls, the nanoseconds they took, and those calls' share of
    * the calling thread's stage clock ([[EncoderPool.Clock]]: linear,
    * attention and norm nanoseconds, and the nanoseconds [[EncoderPool]]
    * helper threads spent on them). [[NerEvalExec]] publishes these as SQL
    * metrics. */
  final class Tally {
    var rows, nullRows, noModelRows, tokens, truncated, encoderCalls,
      encoderNs = 0L
    val clockNs = new Array[Long](EncoderPool.Clock.Slots)
  }

  /** Entity extraction from already-computed logits (argmax -> label
    * collapse -> BIO merge, `src/ner_extension.cpp:117-167`).
    */
  private def entitiesOf(model: NerModel, tokens: Array[Int],
      logits: Array[Float]): Array[NerEntity] = {
    val nLabels = model.hparams.nLabels
    val labels = new Array[Int](tokens.length)
    var t = 0
    while (t < tokens.length) {
      labels(t) = BioMerge.argmax(logits, t * nLabels, nLabels)
      t += 1
    }
    val tokenStrs = tokens.map(model.vocab.tokenOf)
    BioMerge.merge(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(tokenStrs),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(labels)).toArray
  }

  /** The row evaluator, mirroring the reference row loop
    * (`src/ner_extension.cpp:99-167`): tokenizes each row, applies the
    * row's truncate guard, packs rows into batches of at most one context
    * window (`nMaxTokens`) of tokens, runs the encoder once per batch
    * ([[BertEncoder.evalBatch]] — one matmul stream per batch instead of
    * per document; batching never changes a logit bit), then argmax + BIO
    * merge. With no model every row, NULL included, gets `[]`; with a model
    * NULL maps to NULL. Each row is `(key, text, truncate)`. Results stream
    * lazily so a long partition never materializes beyond one batch of
    * logits; `tally` counts what was done.
    */
  private[graft] def evalPartition[A](model: Option[Loaded],
      rows: Iterator[(A, String, Boolean)], tally: Tally = new Tally)
      : Iterator[(A, Array[NerEntity])] =
    model match {
      case None => rows.map { case (a, text, _) =>
        tally.rows += 1
        tally.noModelRows += 1
        if (text == null) tally.nullRows += 1
        (a, Array.empty[NerEntity])
      }
      case Some(Loaded(m, encoder)) =>
        val hp = m.hparams
        val tokenized = rows.map { case (a, text, truncate) =>
          tally.rows += 1
          if (text == null) { tally.nullRows += 1; (a, null: Array[Int]) }
          else {
            val tokens = WordPiece.tokenize(m.vocab, text, hp.nMaxTokens)
            if (tokens.length >= hp.nMaxTokens) {
              if (!truncate) throw new IllegalArgumentException(
                "Input string exceeds model token limit and truncate=false")
              tally.truncated += 1
            }
            tally.tokens += tokens.length
            (a, tokens)
          }
        }
        // group into batches of at most one context window of tokens,
        // preserving order (nulls ride along free)
        val batches = new Iterator[Seq[(A, Array[Int])]] {
          private val it = tokenized.buffered
          def hasNext: Boolean = it.hasNext
          def next(): Seq[(A, Array[Int])] = {
            val buf = Seq.newBuilder[(A, Array[Int])]
            var used = 0
            var continue = true
            while (continue && it.hasNext) {
              val nTok = if (it.head._2 == null) 0 else it.head._2.length
              if (used > 0 && used + nTok > hp.nMaxTokens) continue = false
              else { buf += it.next(); used += nTok }
            }
            buf.result()
          }
        }
        batches.flatMap { batch =>
          val live = batch.collect { case (_, t) if t != null => t }.toArray
          val logits =
            if (live.isEmpty) Array.empty[Array[Float]]
            else {
              val clock = EncoderPool.workspace.clock
              val c0 = clock.clone()
              val t0 = System.nanoTime()
              val out = encoder.evalBatch(live)
              tally.encoderNs += System.nanoTime() - t0
              c0.indices.foreach(k => tally.clockNs(k) += clock(k) - c0(k))
              tally.encoderCalls += 1
              out
            }
          var i = -1
          batch.map { case (a, tokens) =>
            if (tokens == null) (a, null: Array[NerEntity])
            else { i += 1; (a, entitiesOf(m, tokens, logits(i))) }
          }
        }
    }

  /** Register `ner`/`ner_extract` bound to a model whose bytes are read once
    * on the driver and shipped to executors via `SparkContext.broadcast` —
    * no shared filesystem needed; each executor JVM parses them once. An
    * unreadable path keeps the reference's silent no-model semantics (`[]`
    * per row).
    */
  def registerBroadcast(spark: SparkSession, path: String): Unit = {
    val bytes =
      try java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      catch { case _: Exception => Array.emptyByteArray }
    bind(spark, BroadcastModel(spark.sparkContext.broadcast(bytes),
      java.util.UUID.randomUUID()))
  }

  /** DataFrame-API entry points (native Catalyst expression — no encoder
    * round-trip; see [[NerExtractExpression]]). `truncate` defaults to true
    * (`src/ner_extension.cpp:53`), `source` to [[ConfPath]]. The column is
    * evaluated by [[NerEvalExec]], so its session needs [[install]]: done
    * here for the active session, and by [[register]],
    * [[registerBroadcast]] and `graft.GraftExtensions`.
    */
  def ner(text: Column): Column = ner(text, GraftSqlShim.column(Literal.TrueLiteral))
  def ner(text: Column, truncate: Column, source: ModelSource = ConfPath): Column = {
    SparkSession.getActiveSession.foreach(install)
    GraftSqlShim.column(NerExtractExpression(
      GraftSqlShim.expression(text), GraftSqlShim.expression(truncate), source))
  }

  /** Arity-dispatching builder behind [[register]], [[registerBroadcast]]
    * and `graft.GraftExtensions` — DuckDB `ScalarFunctionSet` overload
    * semantics (`src/ner_extension.cpp:197-204`) over one native expression.
    */
  def expressionBuilder(name: String, source: ModelSource)(
      children: Seq[Expression]): Expression =
    children match {
      case Seq(a) => NerExtractExpression(a, Literal.TrueLiteral, source)
      case Seq(a, b) => NerExtractExpression(a, b, source)
      case other =>
        throw new IllegalArgumentException(
          s"$name expects 1 or 2 arguments, got ${other.size}")
    }

  /** Register `ner` and `ner_extract` (exact alias, both arities) on the
    * session, reading the model from [[ConfKey]] — the analogue of the
    * extension's `LoadInternal` (`src/ner_extension.cpp:188-218`).
    */
  def register(spark: SparkSession): Unit = bind(spark, ConfPath)

  private def bind(spark: SparkSession, source: ModelSource): Unit = {
    install(spark)
    Seq("ner", "ner_extract").foreach { name =>
      GraftSqlShim.registerBuilder(spark, name, expressionBuilder(name, source))
    }
  }

  /** Put [[ExtractNer]] and [[NerEval.Strategy]] on the session
    * (idempotent) — the `experimental` twin of `graft.GraftExtensions`'
    * injections, as `graft.plans.AsOfJoin.install` does for its join. */
  def install(spark: SparkSession): Unit = {
    val opt = spark.experimental.extraOptimizations
    if (!opt.contains(ExtractNer))
      spark.experimental.extraOptimizations = opt :+ ExtractNer
    val strat = spark.experimental.extraStrategies
    if (!strat.contains(NerEval.Strategy))
      spark.experimental.extraStrategies = strat :+ NerEval.Strategy
  }
}
