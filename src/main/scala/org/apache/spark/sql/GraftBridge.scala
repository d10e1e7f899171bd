package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Column <-> Expression bridge for graft's custom Catalyst expressions.
  * `classic.ExpressionUtils` is `private[sql]`, so this shim lives in the
  * org.apache.spark.sql package — the standard extension-library pattern.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a logical plan (`Dataset.ofRows` is `private[sql]`). */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans
      .logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s plan executed into an RDD of copied rows, and a frame over it
    * that keeps `df`'s attributes, partitioning and ordering — what
    * a Dataset local checkpoint builds before it cuts the RDD's lineage.
    * Under AQE the plan's shuffle-map stages run here; the final stage
    * runs in the first job that reads the RDD.
    */
  def stageRows(df: DataFrame): (RDD[InternalRow], DataFrame) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("stage"))(
      qe.executedPlan.execute().map(_.copy()))
    (rdd, ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)))
  }
}
