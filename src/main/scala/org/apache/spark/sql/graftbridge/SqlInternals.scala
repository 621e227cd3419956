package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RebalancePartitions}
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Bridge to four `private[sql]`/`private[spark]` seams (the same
  * integration points Delta Lake and Iceberg's Spark runtime use from their
  * own `org.apache.spark.sql.*` packages):
  *
  *  - `Dataset.ofRows`: turn a logical plan into a DataFrame — a PARSED
  *    (unresolved) one such as the `USING (...)` subquery of a MERGE
  *    statement, which the session's analyzer resolves (temp views, VALUES
  *    lists, functions) exactly as `spark.sql` would, or the file relation
  *    a table scan builds from its snapshot (`graft.table.SnapshotFileIndex`);
  *  - `ExpressionUtils.column`: wrap a catalyst `Expression` back into a
  *    public `Column` after qualifier rewriting (Spark 4 removed the public
  *    `Column(expr)` constructor);
  *  - `StructType.asNullable`: the data schema of a file relation the table
  *    scan builds itself, or of the connector's file reader, nullable as
  *    `spark.read` makes it (a file may hold nulls in a column the table
  *    declares NOT NULL), and the table's nullability-blind schema shape;
  *  - `RebalancePartitions`' advisory size: a table write's target split
  *    rides in its own rebalance, never in the session conf.
  *
  * Kept to these one-liners so the engine's dependency on non-public
  * API stays auditable in one place.
  */
object SqlInternals {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def asNullable(s: StructType): StructType = s.asNullable

  def rebalance(df: DataFrame, by: Seq[Column], advisoryBytes: Option[Long]): DataFrame =
    ofRows(df.sparkSession, RebalancePartitions(
      by.map(df.sparkSession.asInstanceOf[classic.SparkSession].expression),
      df.queryExecution.analyzed, None, advisoryBytes))
}
