package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two constructors the lake's SQL front needs and Spark keeps
  * `private[sql]`: a parsed condition or assignment (a Catalyst
  * [[Expression]]) as a public [[Column]], and a DataFrame over a parsed
  * plan whose lake references have been bound (`Dataset.ofRows`, the
  * path `spark.sql` itself takes after parsing). */
object SqlFront {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
