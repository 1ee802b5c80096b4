/*
 * Constraint-clean eager materialization for the DML/MERGE carriers.
 *
 * `Dataset.localCheckpoint()` computes the frame once and cuts
 * lineage, but the LogicalRDD it plans over CAPTURES the origin
 * plan's constraint set. When that checkpointed frame is later a
 * Union child (MERGE assembles upserts/suppress sets as unions of
 * clause branches), Catalyst's UnionBase.rewriteConstraints maps
 * every constraint attribute through the union's output — and a
 * captured constraint referencing an attribute the checkpoint's
 * output no longer carries dies with
 * `NoSuchElementException: key not found: a#N`.
 *
 * `clean` keeps the checkpoint (one computation, truncated plan —
 * the Delta MERGE source-materialization move) and rebuilds the
 * LogicalRDD WITHOUT the captured constraints. Statistics are
 * replaced by the ACTUAL stored size of the checkpointed blocks
 * (block-manager accounting), so broadcast decisions over the
 * churn-sized DML frames are driven by real bytes instead of origin
 * estimates.
 *
 * Lives under org.apache.spark.sql.* for the classic Dataset.ofRows
 * bridge (private[sql]) — same as bridge.scala / dml.scala.
 */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

object Materialize {

  /** Eagerly compute `df` once (localCheckpoint) and return a frame
    * planned over the stored blocks with NO captured origin
    * constraints (safe as a Union child) and actual-size statistics
    * (broadcast-eligible when genuinely small).
    */
  def clean(df: DataFrame): DataFrame =
    rebuild(df.localCheckpoint())

  /** Like [[clean]], but the materializing job IS the caller's first
    * consumer: `df` is checkpoint-MARKED (lazy), `first` runs over
    * the marked frame — its job computes every block as a side
    * effect — and the returned frame plans over the stored blocks.
    * One job where clean-then-consume was two.
    *
    * CONTRACT: `first` should be a FULL-SCAN action — an aggregate, a
    * grouped collect, anything whose map side reads every input
    * partition — or the saving is lost. An action that can
    * short-circuit input partitions (`limit` directly over the frame,
    * `isEmpty`, `head` without a shuffle in between) computes only
    * some blocks; Spark 4.1's `LocalRDDCheckpointData.doCheckpoint`
    * then computes the skipped partitions in an extra job, so no block
    * is missing, but the one-job saving becomes two jobs again.
    */
  def cleanWith[T](df: DataFrame)(first: DataFrame => T): (DataFrame, T) = {
    val cp = df.localCheckpoint(eager = false)
    val r = first(cp)
    (rebuild(cp), r)
  }

  /** Rebuild a checkpointed frame's LogicalRDD without the captured
    * origin constraints, with statistics from the block manager's
    * actual accounting of the stored blocks (a genuinely empty result
    * is clamped to 1 byte so it stays broadcast-eligible; an RDD the
    * block manager does not know keeps default — conservative —
    * stats).
    */
  private def rebuild(cp: DataFrame): DataFrame = {
    val session = cp.sparkSession.asInstanceOf[classic.SparkSession]
    cp.queryExecution.logical match {
      case lr: LogicalRDD =>
        val stored = session.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => BigInt(i.memSize + i.diskSize).max(BigInt(1)))
        val stats = stored.map(s => Statistics(sizeInBytes = s))
        classic.Dataset.ofRows(session,
          LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            session, stats, None))
      case _ => cp // unexpected shape: keep the plain checkpoint
    }
  }
}
