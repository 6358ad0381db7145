package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}

/** Bridge into Spark's `private[sql]` Column↔Expression converters (Spark
  * 4.x moved `Column` onto ColumnNode; `classic.ExpressionUtils` is the
  * supported classic-backend adapter) and into the classic session's
  * planner. Lives under `org.apache.spark.sql` solely to satisfy the
  * access scope — the standard pattern for Catalyst extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Appends `query` to the DataSource V2 `table` and returns once the
    * write has committed (or throws after it aborted): the command
    * `DataFrameWriter.save()` runs for a provider's table, for a table
    * object the caller made. */
  def appendV2(query: DataFrame, table: Table): Unit = {
    val ds = query.asInstanceOf[classic.Dataset[_]]
    val relation = DataSourceV2Relation.create(table, None, None)
    new QueryExecution(ds.sparkSession, AppendData.byPosition(relation, ds.logicalPlan))
      .assertCommandExecuted()
  }

  /** The Hadoop configuration a file write of this session uses: the
    * context's, plus the session's SQL confs. */
  def newHadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
