package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

/** Column ↔ catalyst Expression bridge for custom native expressions.
  *
  * Spark 4 split `Column` from catalyst (`Column` wraps a `ColumnNode`;
  * the classic converter is `private[sql]`), so extension libraries
  * need one in-package hop to plug a hand-written `Expression` into the
  * public Column API — the same pattern Spark's own `classic` module
  * uses internally (columnNodeSupport.scala).
  */
object Bridge {
  def expr(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column =
    Column(ExpressionColumnNode(e))

  /** Build a DataFrame from a hand-constructed LogicalPlan (custom
    * operator nodes): `Dataset.ofRows` is `private[sql]` in Spark 4's
    * classic module — same in-package hop. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A frame of `spark` that reads `rdd`'s rows as `output`: a
    * `LogicalRDD` leaf, whose constructor takes the classic session. */
  def ofRdd(spark: org.apache.spark.sql.SparkSession,
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(output, rdd)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))

  /** `org.apache.spark.sql.types.AbstractDataType` is `private[sql]` in
    * Spark 4, but extension expressions need it to declare `inputTypes`
    * (analysis-time typing via `ExpectsInputTypes`) — same in-package
    * hop as the Column converter above. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
