/*
 * The data step of a TableLog data commit, in one Spark job: rows stay
 * in Spark's internal format from `toRdd` through the exact-slot
 * shuffle (partition i = slot i, which hashing cannot give) into
 * Spark's own parquet OutputWriter. There is no output committer (no
 * `_temporary` renames, no `_SUCCESS`, no 0-row files): the caller's
 * manifest is the commit point, and a file no manifest lists is an
 * orphan for the vacuum sweep — Delta's `DelayedCommitProtocol`.
 *
 * Lives under org.apache.spark.sql.* for the session state, the write
 * factory and the task output metrics (private[sql] / private[spark]).
 */
package org.apache.spark.sql.graftx

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{SerializableConfiguration, Utils}

object SlotWrite {

  /** Write `df`'s rows under the existing directory `dir`, one parquet
    * file per non-empty partition: partition i holds the rows whose
    * LAST column (an int slot in [0, partitioner.n)) is i, written
    * without that column. Each writing task reports its bytes and
    * records as output metrics and returns `describe(conf, fileName,
    * status)` of its closed file; results come back in slot order.
    */
  def write[T: ClassTag](df: DataFrame, partitioner: Partitioner, dir: String)
                        (describe: (Configuration, String, FileStatus) => T): Seq[T] = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val schema = StructType(df.schema.fields.dropRight(1))
    val format = new ParquetFileFormat
    DataSourceUtils.verifySchema(format, schema)
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = format.prepareWrite(session, job, Map.empty, schema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val writeId = java.util.UUID.randomUUID().toString
    // `df`'s own plan runs under the caller's execution, the write
    // job under one of its own, as `df.write` runs it
    val qe = df.queryExecution
    val rows = qe.toRdd
    SQLExecution.withNewExecutionId(qe, Some("graft slot write")) {
      rows
        // iterator rows are reused buffers; copy before they cross the
        // shuffle's buffering
        .mapPartitions(_.map(r => (r.getInt(schema.length), r.copy())))
        .partitionBy(partitioner)
        .mapPartitionsWithIndex { (slot, placed) =>
          if (!placed.hasNext) Iterator.empty
          else {
            val task = TaskContext.get()
            val hadoopConf = conf.value
            val ctx = new TaskAttemptContextImpl(hadoopConf, new TaskAttemptID(
              writeId, task.stageId(), TaskType.MAP, slot, task.attemptNumber()))
            // the attempt number keeps a retried task off a failed
            // attempt's partial file
            val name = f"part-$slot%05d-$writeId-${task.attemptNumber()}" +
              factory.getFileExtension(ctx)
            val path = new Path(s"$dir/$name")
            val writer = factory.newInstance(path.toString, schema, ctx)
            val proj = UnsafeProjection.create(schema.fields.map(_.dataType))
            var n = 0L
            Utils.tryWithSafeFinally {
              placed.foreach { kv => writer.write(proj(kv._2)); n += 1 }
            }(writer.close())
            val status = path.getFileSystem(hadoopConf).getFileStatus(path)
            val metrics = task.taskMetrics().outputMetrics
            metrics.setBytesWritten(status.getLen)
            metrics.setRecordsWritten(n)
            Iterator.single(describe(hadoopConf, name, status))
          }
        }
        .collect().toSeq
    }
  }
}
