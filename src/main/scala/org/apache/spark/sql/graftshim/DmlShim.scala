package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic

/** `private[sql]` bridges for [[graft.sources.GraftDmlRule]]: wrap a
  * catalyst Expression as a public Column, and materialize a resolved
  * LogicalPlan as a DataFrame — the two conversions the SQL DML
  * commands need and Spark 4 keeps `private[sql]`
  * (`classic.ExpressionUtils.column` / `classic.Dataset.ofRows`). The
  * table read path uses `ofRows` too, for its log-backed scan relation,
  * with `asNullable` (`private[spark]`) for that relation's data schema.
  *
  * Why this is acceptable internal surface (and the only one left —
  * the V1 streaming shim was deleted with the DSv2 migration):
  * `Dataset.ofRows` is the conversion every production lakehouse
  * format's MERGE/UPDATE command implementation calls to execute the
  * analyzer-resolved source plan it was handed — there is no public
  * equivalent that evaluates an already-resolved LogicalPlan, and
  * re-parsing SQL text would re-resolve against the wrong scope.
  * `ExpressionUtils.column` is its expression-level twin. Both have
  * been signature-stable across the Spark 3.x→4.x line; a break would
  * fail compilation, not silently corrupt. */
object DmlShim {
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `schema` with every field, element and value nullable — what
    * `DataSource` makes of a file source's data schema, so a file that
    * holds nulls under a NOT NULL declaration still reads as nulls. */
  def asNullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable
}
