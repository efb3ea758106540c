package graft.ner

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, AttributeSet, Expression,
  GenericInternalRow, JoinedRow, NamedExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{
  ShuffledRowRDD, SparkPlan, SparkStrategy, UnaryExecNode, UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{
  SQLMetrics, SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
import org.apache.spark.unsafe.types.UTF8String

/** One `ner()` call evaluated over every row of `child`: the output is
  * `child.output :+ result`. [[ExtractNer]] builds it, [[NerEval.Strategy]]
  * plans it as [[NerEvalExec]] — Spark's `BatchEvalPython` route for
  * Python UDFs.
  */
final case class NerEval(call: NerExtractExpression, result: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ result
  // result originates here, not in the child
  override def producedAttributes: AttributeSet = AttributeSet(result)
  override protected def withNewChildInternal(newChild: LogicalPlan): NerEval =
    copy(child = newChild)
}

object NerEval {
  /** Planner strategy: logical [[NerEval]] → physical [[NerEvalExec]]. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case NerEval(call, result, child) =>
        NerEvalExec(call, result, planLater(child)) :: Nil
      case _ => Nil
    }
  }
}

/** Moves every `ner()` call out of the operator that holds it into a
  * [[NerEval]] node below that operator, which then reads the call's result
  * attribute — Spark's `ExtractPythonUDFs` for [[NerExtractExpression]].
  * Innermost calls go first, so `ner(f(ner(x)))` becomes two stacked nodes.
  * A call over an Aggregate's result (an aggregate function, a grouping
  * expression, or no column at all) runs in a Project above the Aggregate,
  * as `ExtractPythonUDFFromAggregate` does for Python UDFs.
  *
  * Idempotent, and a plan with no `ner()` is returned after one walk, so
  * queries that never call it pay almost nothing.
  */
object ExtractNer extends Rule[LogicalPlan] {

  private def isCall(e: Expression): Boolean = e.isInstanceOf[NerExtractExpression]

  private def holdsCall(p: LogicalPlan): Boolean =
    !p.isInstanceOf[NerEval] && p.expressions.exists(_.exists(isCall))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(holdsCall)) plan
    else plan.transformUp {
      case a: Aggregate if holdsCall(a) => splitAggregate(a) match {
        case p @ Project(_, agg) => extract(p.copy(child = extract(agg)))
        case agg => extract(agg)
      }
      case p if holdsCall(p) => extract(p)
    }

  /** `agg` unchanged, or a Project computing its calls over aggregate
    * results above an Aggregate that outputs those results. */
  private def splitAggregate(agg: Aggregate): LogicalPlan = {
    def fromAgg(e: Expression) = e.isInstanceOf[AggregateExpression] ||
      agg.groupingExpressions.exists(_.semanticEquals(e))
    def overAgg(e: Expression) = e.exists {
      case c: NerExtractExpression => c.references.isEmpty || c.exists(fromAgg)
      case _ => false
    }
    if (!agg.aggregateExpressions.exists(overAgg)) agg
    else {
      val below = ArrayBuffer.empty[NamedExpression]
      val above = agg.aggregateExpressions.map { e =>
        if (!overAgg(e)) { below += e; e.toAttribute }
        else e.transformDown {
          case x if fromAgg(x) =>
            val alias = x match {
              case n: NamedExpression => Alias(n, n.name)(exprId = n.exprId)
              case other => Alias(other, "agg")()
            }
            below += alias
            alias.toAttribute
        }.asInstanceOf[NamedExpression]
      }
      Project(above, agg.copy(aggregateExpressions = below.toSeq))
    }
  }

  private def extract(plan: LogicalPlan): LogicalPlan = {
    val calls = plan.expressions.flatMap(_.collect {
      case c: NerExtractExpression if !c.children.exists(_.exists(isCall)) => c
    }).distinct
    if (calls.isEmpty) plan
    else {
      var children = plan.children.toIndexedSeq
      val results = calls.map { c =>
        val i = children.indexWhere(ch => c.references.subsetOf(ch.outputSet))
        if (i < 0) throw new UnsupportedOperationException(
          s"ner() in ${plan.nodeName} reads ${c.references.mkString(", ")}, " +
            "which no single input of the operator provides; compute it " +
            "in a projection of one input first")
        val node = NerEval(c,
          AttributeReference("ner", NerExtractExpression.ResultType)(),
          children(i))
        children = children.updated(i, node)
        c -> node.result
      }.toMap
      val rewritten = plan.withNewChildren(children).transformExpressions {
        case c: NerExtractExpression if results.contains(c) => results(c)
      }
      val done = extract(rewritten)
      if (done.output == plan.output) done else Project(plan.output, done)
    }
  }
}

/** The one evaluator of SQL and DataFrame `ner()`: each partition goes
  * through [[Ner.evalPartition]] (token-budgeted encoder batches) with
  * the model the call's source resolves to in this JVM, the `truncate`
  * flag read per row, and the result appended to each row.
  *
  * A child RDD with fewer partitions than `defaultParallelism` — a
  * one-row-group parquet scan is one — is first spread over that many
  * partitions by a round-robin shuffle, so that every core runs the
  * encoder; a wider child is read as it is. The decision is made on the
  * real partition count at execution, not on the plan, so a wide scan is
  * never shrunk. Spread rows come back in another order, as after
  * `repartition(n)`.
  *
  * Each task holds one [[EncoderPool]] slot from its first row to its last,
  * so its encoder calls borrow only the cores of tasks that have finished
  * or not yet started: a lone document uses every idle core, and the
  * `encoderHelperTime` metric reports the helper-thread time it borrowed.
  * `encoderLinearTime`, `encoderAttentionTime` and `encoderNormTime` are
  * the parts of `encoderTime` spent in the linears, in attention and in
  * the norm stages (embeddings, LayerNorms, residual adds, GELU, the
  * logits copy), each read from the task thread's stage clock
  * ([[EncoderPool.Clock]]); together they cover nearly all of it.
  */
final case class NerEvalExec(call: NerExtractExpression, result: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ result
  override def producedAttributes: AttributeSet = AttributeSet(result)

  private lazy val writeMetrics =
    SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics =
    SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)

  override lazy val metrics = Map(
    "rows" -> SQLMetrics.createMetric(sparkContext, "number of rows"),
    "nullRows" -> SQLMetrics.createMetric(sparkContext, "number of NULL text rows"),
    "noModelRows" -> SQLMetrics.createMetric(sparkContext, "number of rows without a model"),
    "tokens" -> SQLMetrics.createMetric(sparkContext, "number of tokens"),
    "truncatedDocs" -> SQLMetrics.createMetric(sparkContext, "number of truncated documents"),
    "encoderCalls" -> SQLMetrics.createMetric(sparkContext, "number of encoder calls"),
    "encoderTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "encoder time")
  ) ++ NerEvalExec.ClockMetrics.map { case (k, d) =>
    k -> SQLMetrics.createNanoTimingMetric(sparkContext, d) } ++ readMetrics ++ writeMetrics

  override protected def doExecute(): RDD[InternalRow] = {
    val input = child.execute()
    val cores = sparkContext.defaultParallelism
    val n = input.getNumPartitions
    val rows =
      if (n == 0 || n >= cores) input
      else new ShuffledRowRDD(ShuffleExchangeExec.prepareShuffleDependency(
        input, child.output, RoundRobinPartitioning(cores),
        new UnsafeRowSerializer(child.output.size), writeMetrics), readMetrics)
    rows.mapPartitionsWithIndex(evalRows)
  }

  /** One partition: `rows` of `child.output` in, `output` rows out. */
  def evalRows(partition: Int, rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val args = UnsafeProjection.create(call.children, child.output)
    args.initialize(partition)
    val toUnsafe = UnsafeProjection.create(output, output)
    val joined = new JoinedRow
    val value = new GenericInternalRow(1)
    val tally = new Ner.Tally
    Option(TaskContext.get()).foreach { ctx =>
      val slot = EncoderPool.holdSlot()
      ctx.addTaskCompletionListener[Unit] { _ => slot.release(); publish(tally) }
    }
    val Seq(textType, truncateType) = call.children.map(_.dataType)
    val keyed = rows.map { r =>
      val a = args(r)
      // evalPartition holds a batch of rows: copy out of reused buffers;
      // a NULL flag keeps the default, like the reference's row-0 check
      (r.copy(), if (a.isNullAt(0)) null else a.get(0, textType).toString,
        a.isNullAt(1) || a.get(1, truncateType) == true)
    }
    Ner.evalPartition(Ner.modelFor(call.source), keyed, tally).map {
      case (r, entities) =>
        value.update(0, NerEvalExec.arrayOf(entities))
        toUnsafe(joined(r, value))
    }
  }

  private def publish(t: Ner.Tally): Unit = (Seq(
    "rows" -> t.rows, "nullRows" -> t.nullRows, "noModelRows" -> t.noModelRows,
    "tokens" -> t.tokens, "truncatedDocs" -> t.truncated,
    "encoderCalls" -> t.encoderCalls, "encoderTime" -> t.encoderNs
  ) ++ NerEvalExec.ClockMetrics.map(_._1).zip(t.clockNs))
    .foreach { case (k, v) => longMetric(k) += v }

  override protected def withNewChildInternal(newChild: SparkPlan): NerEvalExec =
    copy(child = newChild)
}

object NerEvalExec {
  /** The SQL metric (name, description) of each [[EncoderPool.Clock]] slot. */
  private val ClockMetrics = Seq("encoderLinearTime" -> "encoder linear time",
    "encoderAttentionTime" -> "encoder attention time",
    "encoderNormTime" -> "encoder norm time", "encoderHelperTime" -> "encoder helper time")

  /** Entities as Catalyst `ArrayData` of `(entity, label)` rows; NULL stays NULL. */
  private def arrayOf(entities: Array[NerEntity]): GenericArrayData =
    if (entities == null) null
    else new GenericArrayData(entities.map(e => InternalRow(
      UTF8String.fromString(e.entity), UTF8String.fromString(e.label)): Any))
}
