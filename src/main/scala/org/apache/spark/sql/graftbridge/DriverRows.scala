package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** A frame of rows computed on the driver from what `source`'s read returned,
  * built as Spark's own eager-result node (`CommandResult`, what a
  * command's output becomes): collecting it runs no job, and its plan
  * shows `source`'s executed plan, so `explain` and plan assertions
  * still see the read that produced the rows. `Dataset.ofRows` is
  * `private[sql]`, hence this package.
  */
object DriverRows {
  def frame(source: DataFrame, schema: StructType, rows: Seq[Row]): DataFrame =
    frame(source, source.asInstanceOf[Dataset[Row]].queryExecution.executedPlan,
      schema, rows)

  /** [[frame]] for rows that `plan`, a physical plan of `source`, produced. */
  def frame(source: DataFrame, plan: SparkPlan, schema: StructType,
      rows: Seq[Row]): DataFrame = {
    val src = source.asInstanceOf[Dataset[Row]]
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    Dataset.ofRows(src.sparkSession, CommandResult(
      schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)()),
      src.queryExecution.analyzed, plan,
      rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])))
  }

  /** `source.repartition(col(key))`, as that frame and the physical plan
    * that runs it: Spark's hash exchange on `key` across the session's
    * `spark.sql.shuffle.partitions`, over `source`'s executed plan. What
    * that plan materialized when it ran (a broadcast) is reused, and the
    * exchange's map stage runs in the job that consumes the plan's
    * `execute()`, not in a job of its own as adaptive execution would
    * run it. A physical plan takes the thread's active session when it
    * is built, hence `withActive`.
    */
  def repartition(source: DataFrame, key: String): (DataFrame, SparkPlan) = {
    val src = source.asInstanceOf[Dataset[Row]]
    val child = src.queryExecution.executedPlan
    src.sparkSession.withActive((src.repartition(col(key)),
      ShuffleExchangeExec(HashPartitioning(child.output.filter(_.name == key),
        src.sparkSession.sessionState.conf.numShufflePartitions), child,
        REPARTITION_BY_COL)))
  }
}
