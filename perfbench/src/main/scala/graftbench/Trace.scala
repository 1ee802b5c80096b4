package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer counters, gathered only from listeners registered on the
  * benchmark's own session: Spark jobs, stages and tasks; SQL-execution
  * start events for attribution; streaming progress reports; JVM GC
  * and heap beans. Counters cover the traced passes only.
  */
final class Trace extends SparkListener {
  import Trace._

  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap[String, Double]()
  /** (start ms, end ms) of every finished job, for the driver-gap metric. */
  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer[(Long, Long)]()

  private val execModule = mutable.Map[Long, String]()
  private val jobModule = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()

  private def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      val own = module(e.details)
      val root = e.rootExecutionId.filter(_ != e.executionId).flatMap(execModule.get)
      execModule(e.executionId) = if (own == Unattributed) root.getOrElse(own) else own
    }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val viaSql = prop("spark.sql.execution.id").flatMap(id => execModule.get(id.toLong))
    val viaStream = prop("sql.streaming.queryId").map(_ => "StreamRun")
    val viaJob = js.stageInfos.map(s => module(s.details)).find(_ != Unattributed)
    val m = viaSql.filter(_ != Unattributed).orElse(viaStream).orElse(viaJob).getOrElse(Unattributed)
    jobModule(js.jobId) = m
    jobStart(js.jobId) = js.time
    js.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = js.jobId)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    val m = jobModule.getOrElse(je.jobId, Unattributed)
    val t0 = jobStart.getOrElse(je.jobId, je.time)
    add("spark.jobs", 1)
    add(s"jobs.$m", 1)
    add(s"job_s.$m", (je.time - t0) / 1e3)
    jobSpans += ((t0, je.time))
    je.jobResult match {
      case JobSucceeded =>
      case _ => add("spark.failed_jobs", 1)
    }
  }

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = synchronized {
    val i = ss.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    add("spark.stages", 1)
    if (sc.stageInfo.attemptNumber() > 0) add("spark.stage_retries", 1)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    te.reason match {
      case Success =>
      case _ => add("spark.failed_tasks", 1)
    }
    val submitted = stageSubmit.getOrElse((te.stageId, te.stageAttemptId), te.taskInfo.launchTime)
    add("spark.task_wait_s", math.max(0L, te.taskInfo.launchTime - submitted) / 1e3)
    val tm = te.taskMetrics
    if (tm != null) {
      add("spark.task_run_s", tm.executorRunTime / 1e3)
      add("spark.task_cpu_s", tm.executorCpuTime / 1e9)
      add("spark.input_bytes", tm.inputMetrics.bytesRead.toDouble)
      add("spark.input_records", tm.inputMetrics.recordsRead.toDouble)
      add("spark.output_bytes", tm.outputMetrics.bytesWritten.toDouble)
      add("spark.result_bytes", tm.resultSize.toDouble)
      add("spark.shuffle_read_bytes", tm.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", tm.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.spill_bytes", (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble)
      val m = stageJob.get(te.stageId).flatMap(jobModule.get).getOrElse(Unattributed)
      if (StoreModules.contains(m)) {
        add("store.bytes_written", tm.outputMetrics.bytesWritten.toDouble)
        add("store.records_written", tm.outputMetrics.recordsWritten.toDouble)
        add("store.bytes_read", tm.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  /** Streaming progress, from a `StreamingQueryListener` on the same session. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    private val started = mutable.Map[java.util.UUID, Long]()
    private val lastState = mutable.Map[java.util.UUID, Double]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized {
        started(e.runId) = java.time.Instant.parse(e.timestamp).toEpochMilli
      }

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
        def dur(ks: String*) = ks.map(d.getOrElse(_, 0.0)).sum
        add("stream.batches", 1)
        add("stream.trigger_s", dur("triggerExecution"))
        add("stream.addBatch_s", dur("addBatch"))
        add("stream.planning_s", dur("queryPlanning"))
        add("stream.offsets_s", dur("latestOffset", "getOffset", "getBatch", "setOffsetRange"))
        add("stream.commit_s", dur("walCommit", "commitOffsets"))
        add("stream.input_rows", p.numInputRows.toDouble)
        started.remove(p.runId).foreach { t0 =>
          add("stream.startup_s", math.max(0L, java.time.Instant.parse(p.timestamp).toEpochMilli - t0) / 1e3)
        }
        val ops = p.stateOperators.toSeq
        add("stream.state_commit_s", ops.map(_.commitTimeMs).sum / 1e3)
        add("stream.dropped_by_watermark", ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
        counts("stream.state_mem_bytes") = math.max(
          counts.getOrElse("stream.state_mem_bytes", 0.0), ops.map(_.memoryUsedBytes).sum.toDouble)
        lastState(p.runId) = ops.map(_.numRowsTotal).sum.toDouble
      }

    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Trace.this.synchronized {
        lastState.remove(e.runId).foreach(add("stream.state_rows", _))
      }
  }

  private var gcMs = 0L
  private var gc0 = 0L
  private var peaksReset = false

  /** Start the JVM counters of a traced pass; heap peaks are reset once. */
  def beginPass(): Unit = {
    if (!peaksReset) ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    peaksReset = true
    gc0 = gcMillis()
  }

  def endPass(): Unit = gcMs += gcMillis() - gc0

  /** GC seconds over the traced passes and the peak heap since the first. */
  def jvm(): Map[String, Double] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("jvm.gc_s" -> gcMs / 1e3, "jvm.heap_peak_mb" -> heapPeak / 1048576.0)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

object Trace {
  val Unattributed = "unattributed"

  /** Modules a job can be attributed to, each reported as `jobs.<M>` and
    * `job_s.<M>`. Graft code outside the named modules counts as `other`.
    */
  val Modules: Seq[String] = Seq("TableLog", "GraftLogProvider", "GraftCatalog", "dml",
    "materialize", "slotwrite", "StreamRun", "FlowCyto", "Ann", "Dedup", "TextStats", "Bpe",
    "queries", "emit", "other", Unattributed)

  val StoreModules: Set[String] =
    Set("TableLog", "GraftLogProvider", "GraftCatalog", "dml", "materialize", "slotwrite")

  private val Frame = """^\s*(?:at\s+)?([\w.$]+)\.[^.(]+\(([\w$-]+)\.(?:scala|java):\d+\)""".r

  /** Module of a frame: the graft source file it sits in, `queries` for a
    * query builder and `emit` for the benchmark's own emit call.
    */
  def frameModule(frame: String): Option[String] = frame match {
    case Frame(cls, _) if cls.startsWith("graftbench.") => Some("emit")
    case Frame(cls, _) if cls.startsWith("graft.queries.") => Some("queries")
    case Frame(cls, file) if cls.startsWith("graft.") || cls.startsWith("org.apache.spark.sql.graftx.") =>
      Some(if (Modules.contains(file)) file else "other")
    case _ => None
  }

  /** Module of a call-site stack: that of its first (innermost) graft frame. */
  def module(stack: String): String =
    Option(stack).iterator.flatMap(_.split("\n")).flatMap(frameModule).nextOption()
      .getOrElse(Unattributed)
}
