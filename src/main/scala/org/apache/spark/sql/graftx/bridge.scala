/*
 * Batch→streaming DataFrame bridge for graft's DSv1 streaming
 * sources.
 *
 * Lives under org.apache.spark.sql.* because
 * classic.SQLContext.internalCreateDataFrame — the only supported way
 * for a DSv1 `Source.getBatch` to hand the engine a DataFrame whose
 * logical plan is marked isStreaming (MicroBatchExecution asserts it)
 * — is private[sql] in Spark 4. Same approach as ../graftx
 * expressions; the graft-facing API is GraftLogProvider's stream
 * sources.
 */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.types.StructType

object StreamBridge {

  /** Re-plan a driver-built batch DataFrame as a streaming micro-batch
    * under `schema` (the SOURCE's declared schema — using it verbatim
    * guarantees the engine's attribute rewiring sees exactly the
    * schema `sourceSchema` promised, independent of the batch plan's
    * inferred nullability). The RDD is the batch plan's `toRdd` —
    * lazy, executed by the micro-batch like any other source scan.
    */
  def asStreaming(ctx: SQLContext, df: DataFrame, schema: StructType): DataFrame =
    ctx.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
      .internalCreateDataFrame(
        df.queryExecution.toRdd, schema, isStreaming = true)

  /** The REVERSE bridge, for DSv1 `Sink.addBatch`: re-plan the
    * engine-handed streaming micro-batch as a plain batch DataFrame
    * (Spark's own ForeachBatchSink does exactly this) so ordinary
    * writers — TableLog.commit — can consume it. The RDD is the
    * incremental execution's `toRdd`: the micro-batch's rows, planned
    * once.
    */
  def asBatch(ctx: SQLContext, df: DataFrame): DataFrame =
    ctx.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
      .internalCreateDataFrame(
        df.queryExecution.toRdd, df.schema, isStreaming = false)

  /** An empty streaming micro-batch under `schema`. */
  def emptyStreaming(ctx: SQLContext, schema: StructType): DataFrame = {
    val classic = ctx.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    classic.internalCreateDataFrame(
      classic.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      schema, isStreaming = true)
  }
}
