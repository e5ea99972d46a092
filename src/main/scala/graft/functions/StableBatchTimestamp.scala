package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.types.DataType

/** Keeps a micro-batch's timestamp out of its generated code.
  *
  * In a stream, `current_timestamp()`, `now()`, `current_date()` and
  * `localtimestamp()` become `CurrentBatchTimestamp`, which
  * `IncrementalExecution` turns into a `Literal` after the optimizer. Codegen
  * inlines literals, so each batch's stage source differed and was compiled
  * again. This rule runs in the optimizer, before that fold, and swaps the
  * node for a [[BatchTimestampValue]] of the same value, so every batch
  * generates the same source and hits the codegen cache. Batch plans hold
  * no `CurrentBatchTimestamp` (the optimizer folds `current_timestamp()`
  * earlier) and pay one pattern-bit test per node.
  */
object StableBatchTimestamp extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(CURRENT_LIKE)) {
      case cbt: CurrentBatchTimestamp => BatchTimestampValue(cbt.toLiteral.value, cbt.dataType)
    }
}

/** `CurrentBatchTimestamp`'s value and optimizer-visible traits (not
  * foldable, nondeterministic, same type, not nullable). `CodegenFallback`
  * passes it in `references[]`; `toString` omits it because whole-stage
  * codegen prints the plan into the generated source's comments. */
case class BatchTimestampValue(value: Any, dataType: DataType)
    extends LeafExpression with Nondeterministic with CodegenFallback {
  override def nullable: Boolean = false
  override def prettyName: String = "current_batch_timestamp"
  override def toString: String = s"$prettyName()"
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = value
}
