/*
 * Operator scopes of a Spark job, for graft.Prof's per-job lines.
 *
 * Lives under org.apache.spark.* because RDDOperationScope, the type
 * of `RDDInfo.scope`, is private[spark].
 */
package org.apache.spark.sql.graftx

import org.apache.spark.scheduler.StageInfo

object JobScopes {

  /** The distinct operator scope names of `stages`' RDDs, sorted
    * ("BroadcastExchange", "Scan parquet", …): what an AQE stage job,
    * whose call site is only a thread-pool frame, actually ran.
    */
  def of(stages: Seq[StageInfo]): Seq[String] =
    stages.flatMap(_.rddInfos).flatMap(_.scope).map(_.name).distinct.sorted
}
