package graft.ner

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  Expression, NamedLambdaVariable, Unevaluable, UserDefinedExpression}
import org.apache.spark.sql.types._

/** The Catalyst expression `ner(text[, truncate])` binds to. It holds the
  * call — its arguments and the model `source` (the session conf path, a
  * broadcast from [[Ner.registerBroadcast]], or a [[SyntheticModel]] twin
  * named through [[Ner.ner]]) — and is never evaluated
  * itself: like Spark's `PythonUDF` it is [[Unevaluable]], and
  * [[ExtractNer]] moves every call into a [[NerEval]] node that
  * [[NerEvalExec]] runs, whole partitions at a time, through
  * [[Ner.evalPartition]]: `[]` (even for NULL input) with no model, NULL
  * passthrough with a model, the reference's exact truncate-overflow
  * error.
  *
  * Fidelity note: the reference reads the 2-arg `truncate` flag once per
  * 2048-row chunk from row 0 (`src/ner_extension.cpp:54-61`) — passing a
  * boolean *column* there applies row 0's value to the whole chunk.
  * [[NerEvalExec]] carries the flag per row, which is strictly more
  * precise; with the literal arguments the reference's tests and docs use,
  * behavior is identical. A NULL flag keeps the default (truncate), like
  * the reference's row-0 validity check.
  *
  * Not deterministic — the Catalyst analogue of the reference's
  * `FunctionStability::VOLATILE` (`src/ner_extension.cpp:201-203`):
  * results depend on the mutable global model, so `ner('literal')` is
  * never constant-folded. Like Spark's UDFs it is a
  * [[UserDefinedExpression]], so the analyzer pulls it out of a `GROUP BY`
  * into a projection; an aggregate's argument rejects it, as `rand()`.
  *
  * A call over a lambda variable (`transform(a, x -> ner(x))`) fails
  * analysis: [[NerEval]] evaluates one call per row, not per array
  * element.
  */
case class NerExtractExpression(text: Expression, truncateExpr: Expression,
    source: Ner.ModelSource)
    extends Expression with Unevaluable with UserDefinedExpression {

  override def name: String = "ner"

  override def children: Seq[Expression] = Seq(text, truncateExpr)

  override def nullable: Boolean = true

  override lazy val deterministic: Boolean = false

  override def dataType: DataType = NerExtractExpression.ResultType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.exists(_.exists(_.isInstanceOf[NamedLambdaVariable])))
      TypeCheckResult.TypeCheckFailure("ner() cannot read a lambda " +
        "variable: it is evaluated once per row, not per array element; " +
        "explode the array and call ner() on the column")
    else TypeCheckResult.TypeCheckSuccess

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(text = newChildren(0), truncateExpr = newChildren(1))
}

object NerExtractExpression {
  /** `ARRAY<STRUCT<entity STRING, label STRING>>` — constructed once, like
    * the reference's registration-time type (`src/ner_extension.cpp:191-195`).
    */
  val ResultType: DataType = ArrayType(
    new StructType()
      .add("entity", StringType)
      .add("label", StringType),
    containsNull = true)
}
