package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.graftx.StreamBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** S27/st29 — streaming read FROM the commit log: the change-data-feed
  * as a Structured Streaming SOURCE (Delta's readChangeFeed stream /
  * Iceberg's incremental streaming read). Round 11 closed the sink
  * half (st25/st26 stream INTO TableLog); this is the other half of
  * the lakehouse loop — a downstream pipeline tails the table and
  * incrementally processes exactly the rows each commit changed,
  * never rescanning the snapshot.
  *
  * Wire-up: `readStream.format("graftlog").option("readChangeFeed",
  * "true")` — [[GraftLogProvider]] serves plain and change-feed
  * streams under one format name, as Delta's source does. A DSv1
  * `Source` (the stable batch-DataFrame API — the right fit here
  * because each micro-batch IS a driver-planned batch read of
  * manifest-listed files, exactly what [[TableLog.readChangeFeed]]
  * builds); offsets, pacing and the drift guard are the shared
  * [[CommitVersionSource]] path, and a window `(a, b]` replays
  * versions a+1..b through the change feed.
  *
  * Options: `path` (table root, required), `startingVersion` (first
  * version the FIRST batch includes; default 0 = replay the initial
  * snapshot as inserts, Delta's startingVersion contract),
  * `startingTimestamp`, `maxVersionsPerBatch`.
  *
  * Scale shape: each micro-batch scans only the files its commit
  * window churned (two column-pruned scans — adds and removes), and
  * offset tracking is one header read per trigger. State is zero:
  * this source is pure replay, all the usual watermark/agg machinery
  * composes downstream (st29 drives a grouped aggregate over it
  * through real MicroBatchExecution).
  */
class GraftLogCdfSource(ctx: SQLContext, root: String, startV: Long,
                        maxVersionsPerBatch: Option[Long] = None,
                        boundDdl: Option[String] = None)
    extends CommitVersionSource(ctx, root, Some(startV), maxVersionsPerBatch,
      boundDdl, "graftlog-cdf") {

  override val schema: StructType = GraftLogCdfSource.cdfSchemaFromDdl(createdDdl)

  override protected def window(snapshot: Boolean, fromV: Long,
                                toV: Long): DataFrame =
    StreamBridge.asStreaming(ctx,
      TableLog.readChangeFeed(ctx.sparkSession, root, fromV, toV), schema)
}

object GraftLogCdfSource {

  /** Same (name, type) shape? The streaming drift guard must ignore
    * nullability and comment drift: the append gate ACCRETES NOT NULL
    * markers into the DDL without changing how rows bind positionally
    * (a table CREATEd nullable then INSERTed into carries both forms
    * across its history). A name or type change is a real restart
    * error.
    */
  private[sources] def sameShape(ddlA: String, ddlB: String): Boolean = {
    def shape(d: String) = StructType.fromDDL(d)
      .fields.map(f => (f.name, f.dataType)).toSeq
    shape(ddlA) == shape(ddlB)
  }

  /** EARLIEST live version committed at or after `ts` — the
    * `startingTimestamp` resolution (the mirror of
    * [[TableLog.versionAtTimestamp]]'s latest-at-or-below); head+1
    * when every live commit predates the instant (the stream then
    * waits for future commits). One header line per live version.
    */
  def firstVersionAtOrAfter(root: String, ts: Long): Long = {
    val head = TableLog.currentVersion(root)
    require(head >= 0L, s"graftlog-cdf source needs a committed table at $root")
    (0L to head)
      .map(v => v -> TableLog.headerTsOf(root, v))
      .collectFirst { case (v, t) if t >= 0L && t >= ts => v }
      .getOrElse(head + 1L)
  }

  /** The feed schema for a given table DDL — split out so the source
    * derives its schema from the ONE DDL string it captured at
    * creation (no second head read to race a concurrent commit).
    */
  def cdfSchemaFromDdl(ddl: String): StructType = {
    val base = StructType.fromDDL(ddl)
    StructType(base.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField("_change_type", StringType, nullable = true),
      StructField("_commit_version", LongType, nullable = true)))
  }
}
