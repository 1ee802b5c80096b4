package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftx.StreamBridge
import org.apache.spark.sql.types.StructType

/** The offset path both graftlog stream sources share
  * ([[GraftLogStreamSource]] and [[GraftLogCdfSource]]); each subclass
  * supplies only its schema and its [[window]] read.
  *
  * Offsets are COMMIT VERSIONS: a micro-batch `(a, b]` replays
  * versions a+1..b, so batch boundaries always fall on commit
  * boundaries and a recovered query resumes from the last committed
  * version (the offset WAL stores the version number; replay is
  * deterministic because manifests are immutable). `startV` is the
  * first version the first batch includes; with none, the first batch
  * is the snapshot at the head (plain stream only — the change feed
  * always has a starting version).
  *
  * Implementing SupportsTriggerAvailableNow ourselves (instead of
  * letting the engine wrap the source in AvailableNowSourceWrapper) is
  * what makes the PER-BATCH VERSION CAP work under
  * Trigger.AvailableNow: the wrapper freezes ONE offset at prepare
  * time, so a capped offset would freeze the first window and the run
  * would stop `maxVersionsPerBatch` versions in. With the
  * admission-control path the engine hands [[latestOffset]] the last
  * committed offset every trigger — MicroBatchExecution checks for
  * SupportsAdmissionControl before the v1 `Source` API, so
  * [[getOffset]] is never called by the engine — and the run drains to
  * the prepared head in bounded steps: Delta's
  * maxFilesPerTrigger-under-AvailableNow semantics at commit
  * granularity. A backlog of thousands of commits — a consumer
  * starting from version 0 on a year-old table — replays as bounded
  * micro-batches instead of one giant catch-up batch whose state
  * update the sink must absorb in one transaction.
  */
abstract class CommitVersionSource(ctx: SQLContext, root: String,
                                   startV: Option[Long],
                                   maxVersionsPerBatch: Option[Long],
                                   boundDdl: Option[String], label: String)
    extends Source with SupportsTriggerAvailableNow {

  require(maxVersionsPerBatch.forall(_ >= 1L),
    s"$label: maxVersionsPerBatch must be >= 1, got $maxVersionsPerBatch")

  /** The table DDL captured ONCE at stream start — the schema every
    * micro-batch is bound under (positionally, via the StreamBridge).
    * [[getBatch]] requires each window's DDL to still have its shape:
    * after a mid-stream `evolve=true` commit the CDF's column order
    * shifts (the accreted column lands BEFORE the CDF stamps), so
    * binding the new window under the stale schema would read the
    * accreted column as `_change_type` — garbage, not an error. Delta
    * fails an evolved streaming read loudly and asks for a restart;
    * so do we.
    */
  protected val createdDdl: String = boundDdl.getOrElse {
    val head = TableLog.currentVersion(root)
    require(head >= 0L, s"$label source needs a committed table at $root")
    TableLog.schemaDdlOf(root, head)
  }

  /** Head captured by [[prepareForTriggerAvailableNow]] — the bound an
    * AvailableNow run drains to (commits landing mid-run wait for the
    * next run). Long.MaxValue until prepared: continuous triggers pace
    * toward the LIVE head.
    */
  @volatile private var availableNowTarget: Long = Long.MaxValue
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = TableLog.currentVersion(root)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Paced offset: at most `maxVersionsPerBatch` commit versions beyond
    * the engine's last committed offset (`start` — WAL-recovered, so
    * pacing is restart-exact), never beyond the live head or the
    * AvailableNow target. Returning the base itself signals
    * no-new-data. The snapshot batch (no prior offset, no starting
    * version) is ONE batch at the head regardless of pacing — it is a
    * single version-pinned read, not a commit replay.
    */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val head = math.min(TableLog.currentVersion(root), availableNowTarget)
    if (head < 0L) null
    else Option(start).map(_.json.trim.toLong) match {
      case None if startV.isEmpty => LongOffset(head) // snapshot batch
      case prior =>
        val base = prior.getOrElse(startV.get - 1L)
        val capped = maxVersionsPerBatch
          .map(m => math.min(head, base + m)).getOrElse(head)
        if (capped < 0L) null else LongOffset(math.max(base, capped))
    }
  }

  /** The table head — commit versions are the stream's clock. No head
    * yet (empty store) → no offset.
    */
  private def headOffset: Option[LongOffset] = {
    val head = TableLog.currentVersion(root)
    if (head < 0L) None else Some(LongOffset(head))
  }

  override def reportLatestOffset(): OffsetV2 = headOffset.orNull

  /** The unpaced head: pacing lives in [[latestOffset]], the one
    * offset call the engine makes.
    */
  override def getOffset: Option[Offset] = headOffset

  // recovery hands back a SerializedOffset whose json is the number
  private def ver(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong
  }

  /** The rows of versions `fromV..toV` (`snapshot`: the table as of
    * `toV` instead), as a streaming plan under [[schema]].
    */
  protected def window(snapshot: Boolean, fromV: Long, toV: Long): DataFrame

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val toV = ver(end)
    val fromV = start.map(ver(_) + 1L).orElse(startV).getOrElse(toV)
    if (fromV > toV) StreamBridge.emptyStreaming(ctx, schema)
    else {
      // schema-drift guard on (name, type) pairs: the window resolves
      // under toV's manifest DDL, and the micro-batch binds
      // POSITIONALLY under the schema captured at stream start — they
      // must agree or columns mis-bind. Nullability tightening (NOT
      // NULL markers accreted by the append gate) binds identically.
      // Loud restart error, never garbage.
      val ddlAtEnd = TableLog.schemaDdlOf(root, toV)
      if (!GraftLogCdfSource.sameShape(ddlAtEnd, createdDdl))
        throw new IllegalStateException(
          s"$label: table schema changed within the stream " +
            s"(started under [$createdDdl], version $toV has [$ddlAtEnd]) — " +
            "restart the streaming query to pick up the new schema")
      window(start.isEmpty && startV.isEmpty, fromV, toV)
    }
  }

  override def stop(): Unit = ()
}

/** S33/st35 — PLAIN streaming read of a graft table (Delta's
  * `spark.readStream.table("t")` semantics, the no-stamps twin of
  * [[GraftLogCdfSource]]): the stream's rows ARE table rows — an
  * initial snapshot of the table as of stream start, then exactly the
  * rows each subsequent APPEND commit added. This is the source the
  * table-name streaming surface resolves to (GraftStreamTableRule
  * rewrites `readStream.table("graft.db.t")` onto it; the
  * `readChangeFeed=true` option switches to the CDF source instead).
  *
  * Semantics (Delta's rules, re-derived from the manifest metadata):
  *   - With no `startingVersion`, the FIRST micro-batch replays the
  *     snapshot at the head current when the engine asks for the
  *     first offset (version-pinned, so recovery replays it
  *     bit-identically); later batches tail new commits.
  *   - `startingVersion=N` skips the snapshot and replays commits
  *     from version N (N's own delta counts; N=0 therefore replays
  *     everything — Delta's startingVersion contract).
  *   - An append commit's rows surface exactly once. Layout-only
  *     commits (compact/recluster — Delta's dataChange=false) and
  *     metadata-only commits surface nothing.
  *   - A commit that REMOVES or suppresses rows (overwrite, restore,
  *     merge, DML, deletion-vector growth) is NOT expressible as an
  *     insert-only stream: the source fails LOUDLY naming the version
  *     and action — unless `skipChangeCommits=true`, which skips those
  *     versions entirely (Delta's option of the same name).
  *   - `maxVersionsPerBatch` paces catch-up replay exactly like the
  *     CDF source (bounded micro-batches under AvailableNow too; the
  *     shared [[CommitVersionSource]] offset path).
  *
  * Scale shape: per trigger the source reads only the files the
  * window's commits ADDED (manifest-listed, column-pruned, never a
  * snapshot rescan after the first batch); change-commit
  * classification is driver-side manifest arithmetic (delta-chain
  * bounded), and offsets are one header read per trigger.
  */
class GraftLogStreamSource(ctx: SQLContext, root: String,
                           startV: Option[Long],
                           skipChangeCommits: Boolean = false,
                           maxVersionsPerBatch: Option[Long] = None,
                           boundDdl: Option[String] = None)
    extends CommitVersionSource(ctx, root, startV, maxVersionsPerBatch,
      boundDdl, "graftlog stream") {

  override val schema: StructType = StructType.fromDDL(createdDdl)

  /** Is version `v` replayable as pure inserts — and if so, which
    * file entries carry them? Left(reason) = change commit.
    */
  private def insertsOf(v: Long): Either[String, Seq[TableLog.FileEntry]] = {
    val m = TableLog.readManifest(root, v)
    val base = m.action.takeWhile(_ != '+') // strip the +txn= stamp
    if (base == "compact" || base == "recluster")
      Right(Nil) // layout-only rewrite: dataChange=false, nothing streams
    else {
      val (adds, removes) = TableLog.versionDelta(root, v)
      // deletion-vector growth keeps paths but suppresses rows — a
      // change commit even with zero file-level churn (liveRows is
      // the exact, cheap witness: growth strictly shrinks it)
      lazy val dvGrew = m.parent >= 0L && {
        val pByPath = TableLog.readManifest(root, m.parent)
          .files.map(f => f.path -> f).toMap
        m.files.exists(f =>
          pByPath.get(f.path).exists(_.liveRows != f.liveRows))
      }
      if (removes.nonEmpty || dvGrew)
        Left(s"version $v (action '${m.action}') removes or suppresses rows")
      else Right(adds)
    }
  }

  override protected def window(snapshot: Boolean, fromV: Long,
                                toV: Long): DataFrame = {
    val m = TableLog.readManifest(root, toV)
    if (snapshot)
      // the initial snapshot: one version-pinned read (DV-suppressed,
      // null-filling — the store's one read path), replayed
      // bit-identically on recovery because toV rides the offset WAL
      StreamBridge.asStreaming(ctx,
        TableLog.readFiles(ctx.sparkSession, root, m, m.files), schema)
    else {
      val entries = (fromV to toV).flatMap { v =>
        insertsOf(v) match {
          case Right(adds) => adds
          case Left(reason) if skipChangeCommits => Nil
          case Left(reason) => throw new IllegalStateException(
            s"graftlog stream: $reason — an insert-only table stream " +
              "cannot express it; use the change feed " +
              "(readChangeFeed=true) or set skipChangeCommits=true")
        }
      }
      if (entries.isEmpty) StreamBridge.emptyStreaming(ctx, schema)
      else StreamBridge.asStreaming(ctx,
        TableLog.readFiles(ctx.sparkSession, root, m, entries), schema)
    }
  }
}
