package graft

import scala.collection.immutable.HashSet

import org.apache.spark.sql.catalyst.expressions.{ExpressionSet, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.IN
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, LongType, TimestampNTZType, TimestampType}

/** Plans a short literal IN list as `InSet` on the types where that keeps
  * the generated code free of the values: `In` inlines each BIGINT,
  * DOUBLE, FLOAT or TIMESTAMP literal into its Java source, so every point
  * lookup with fresh keys compiles new whole-stage classes, while `InSet`
  * reads its values from one referenced set and compiles the same source
  * for any keys. Spark's `OptimizeIn` does this only past
  * `spark.sql.optimizer.inSetConversionThreshold` (10) values.
  *
  * Left as they are: INT, DATE, SMALLINT and TINYINT (their `InSet` is a
  * `switch` over inlined values up to `inSetSwitchThreshold`), STRING and
  * DECIMAL (their literals are already referenced objects), and lists with
  * one distinct value (`OptimizeIn` makes those an `EqualTo`).
  *
  * The set is always an immutable `HashSet`, the class `OptimizeIn` builds
  * and the generated code casts to, so its size never changes the source.
  * File pruning (`Fact.of`) and parquet pushdown read `InSet` as they read
  * `In`.
  */
object InListToInSet extends Rule[LogicalPlan] {

  private val inlinedTypes: Set[DataType] =
    Set(LongType, DoubleType, FloatType, TimestampType, TimestampNTZType)

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(IN)) {
      case in @ In(v, list) if inlinedTypes(v.dataType) && in.inSetConvertible &&
          ExpressionSet(list).size > 1 =>
        InSet(v, HashSet.from(list.map(_.eval())))
    }
}
