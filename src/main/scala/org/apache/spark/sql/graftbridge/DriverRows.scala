package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.types.StructType

/** A frame of rows computed on the driver from what `source`'s read returned,
  * built as Spark's own eager-result node (`CommandResult`, what a
  * command's output becomes): collecting it runs no job, and its plan
  * shows `source`'s executed plan, so `explain` and plan assertions
  * still see the read that produced the rows. `Dataset.ofRows` is
  * `private[sql]`, hence this package.
  */
object DriverRows {
  def frame(source: DataFrame, schema: StructType, rows: Seq[Row]): DataFrame = {
    val src = source.asInstanceOf[Dataset[Row]]
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    Dataset.ofRows(src.sparkSession, CommandResult(
      schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)()),
      src.queryExecution.analyzed, src.queryExecution.executedPlan,
      rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])))
  }
}
