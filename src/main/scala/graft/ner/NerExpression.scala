package graft.ner

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for `ner(text[, truncate])` — the step up from
  * a Scala UDF in the custom-function preference order: no encoder
  * round-trip, the entity list is written straight as Catalyst
  * `ArrayData[InternalRow]`.
  *
  * Rows go through [[Ner.evalWith]] with the model `source` resolves to
  * (the session conf path, or a broadcast from [[Ner.registerBroadcast]]):
  * `[]` (even for NULL input) with no model, NULL passthrough with a model,
  * the reference's exact truncate-overflow error.
  *
  * Fidelity note: the reference reads the 2-arg `truncate` flag once per
  * 2048-row chunk from row 0 (`src/ner_extension.cpp:54-61`) — passing a
  * boolean *column* there applies row 0's value to the whole chunk. This
  * expression evaluates the flag per row, which is strictly more precise;
  * with the literal arguments the reference's tests and docs use, behavior
  * is identical.
  *
  * Marked [[Nondeterministic]] — the Catalyst analogue of the reference's
  * `FunctionStability::VOLATILE` (`src/ner_extension.cpp:201-203`): results
  * depend on the mutable global model, so constant-folding `ner('literal')`
  * must be blocked. Evaluation falls back to interpreted mode
  * ([[CodegenFallback]]); the surrounding projection still codegens.
  */
case class NerExtractExpression(text: Expression, truncateExpr: Expression,
    source: Ner.ModelSource)
    extends Expression with Nondeterministic with CodegenFallback {

  override def children: Seq[Expression] = Seq(text, truncateExpr)

  override def nullable: Boolean = true

  override def dataType: DataType = NerExtractExpression.ResultType

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any = {
    val t = text.eval(input)
    val tr = truncateExpr.eval(input)
    val truncate = tr == null || tr == true // NULL keeps the default, like the reference's row-0 validity check
    val entities = Ner.evalWith(Ner.modelFor(source),
      if (t == null) null else t.toString, truncate)
    if (entities == null) null
    else {
      val rows = new Array[Any](entities.length)
      var i = 0
      while (i < entities.length) {
        rows(i) = InternalRow(
          UTF8String.fromString(entities(i).entity),
          UTF8String.fromString(entities(i).label))
        i += 1
      }
      new GenericArrayData(rows)
    }
  }

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
