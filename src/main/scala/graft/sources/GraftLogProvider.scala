package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** R78/q76 — the SQL surface for the commit log: a DataSource V2
  * `TableProvider` so the store mounts at the same entry point every
  * other source uses (`spark.read.format("graftlog")`, registered
  * short name via the DataSourceRegister service file; Delta's
  * `format("delta")` shape). Round-11 missing-item 4: TableLog was
  * API-only — `VERSION AS OF`, zone pruning and the bloom index
  * existed as Scala calls; this exposes them to SQL.
  *
  * Architecture: the v2 connector handles CATALOG + PUSHDOWN (time
  * travel, the DML rule, writes, the one file prune per scan), and the
  * read is the store's own: once pushdown has planned the scan,
  * [[GraftLogScanRule]] replaces the scan relation with
  * [[TableLog.readFiles]] over the planned files — a parquet
  * `HadoopFsRelation` over a [[ManifestFileIndex]], with the
  * deletion-vector filter and the column-mapping relabel above it. So
  * there is exactly ONE read path for SQL and the programmatic API:
  * schema resolution from the manifest DDL (evolution-safe:
  * pre-evolution files null-fill), deletion-vector suppression and
  * Spark's vectorized parquet scan with pushed data filters, planned
  * once inside the query that reads it.
  *
  * Pushdown contract — FILE-granularity skipping, never row
  * filtering: `pushFilters` keeps the prunable subset as
  * `pushedFilters` (the file planner's input) but returns
  * EVERY filter as residual, so Spark re-applies them row-level above
  * the scan — a false-positive file read costs IO, never correctness.
  * Which filters prune, and how, is the store's ONE planner
  * ([[TableLog.planFiles]] — the same call the library read makes):
  * zone ranges, bloom equality/IN probes and `IsNotNull` on integral
  * columns, truncation-safe zones and blooms on STRING columns. The
  * scan plans once; its statistics, its `EXPLAIN` description
  * (`files=<kept>/<total>`, shown on the parquet scan) and the
  * executed read all use that plan. Column pruning flows through
  * `pruneColumns` into the projection, so the parquet scan reads only
  * the required columns, and the row filters Spark keeps above the
  * scan reach the parquet reader as pushed data filters.
  *
  * Options: `path` (table root, required), `versionAsOf` (snapshot
  * version; default head — Delta's time-travel option name, so
  * `SELECT … FROM` a temp view over an old version IS the SQL
  * time-travel surface). `changeFeed=true` switches the relation to
  * the CHANGE-DATA-FEED read (Delta's `table_changes` SQL surface
  * over [[TableLog.readChangeFeed]]): rows are the commit window's
  * inserts/deletes stamped `_change_type`/`_commit_version`, the
  * window set by `startingVersion` (default 0) / `endingVersion`
  * (default head), both resolved at plan time; column pruning still
  * applies, file pruning doesn't (the feed's file set IS the churn —
  * already minimal by construction).
  *
  * Scale shape: planning cost is one manifest read (metadata-sized,
  * delta-chain bounded); the executed scan reads exactly the files
  * the predicates could not exclude. At 10^6 files the same plan
  * holds — pruning is driver-side set arithmetic over the manifest,
  * and the data path is Spark's own vectorized parquet reader.
  */
class GraftLogProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {
  import GraftLogProvider._

  override def shortName(): String = "graftlog"

  /** S33/st35 — streaming READS under the ONE format name (Delta's
    * shape: `readStream.format("delta")` serves both modes): plain =
    * the insert-replay table stream ([[GraftLogStreamSource]] —
    * initial snapshot then appended rows, loud on change commits);
    * `readChangeFeed=true` = the CDF stream ([[GraftLogCdfSource]]
    * with the `_change_type`/`_commit_version` stamps). This is also
    * the provider the table-NAME streaming surface lands on:
    * `readStream.table("graft.db.t")` resolves here through
    * GraftStreamTableRule with the reader options passed through.
    * Head DDL is resolved ONCE per (provider, path+mode) — the same
    * TOCTOU single-resolution rule as the batch side's [[pinned]].
    */
  private val resolvedStreamDdl =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def streamDdlFor(root: String): String =
    resolvedStreamDdl.computeIfAbsent(root, r => {
      val head = TableLog.currentVersion(r)
      require(head >= 0L, s"graftlog stream source needs a committed table at $r")
      TableLog.schemaDdlOf(r, head)
    })

  private def normStream(params: Map[String, String]): Map[String, String] =
    params.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }

  private def isCdfStream(p: Map[String, String]): Boolean =
    p.get("readchangefeed").exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(ctx: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val p = normStream(parameters)
    val root = p.getOrElse("path", throw new IllegalArgumentException(
      "graftlog stream: 'path' option (the table root) is required"))
    val ddl = streamDdlFor(root)
    if (isCdfStream(p)) ("graftlog-cdf", GraftLogCdfSource.cdfSchemaFromDdl(ddl))
    else ("graftlog", StructType.fromDDL(ddl))
  }

  override def createSource(ctx: org.apache.spark.sql.SQLContext,
                            metadataPath: String, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val p = normStream(parameters)
    val root = p("path")
    require(!(p.contains("startingversion") && p.contains("startingtimestamp")),
      "graftlog stream: startingVersion and startingTimestamp are mutually exclusive")
    val maxV = p.get("maxversionsperbatch").map(_.toLong)
    // startingTimestamp (epoch millis, Delta's option): the stream
    // begins at the EARLIEST version committed at or after the
    // instant — a commit before the stream's start was already part
    // of some snapshot the consumer could have batch-read; a
    // timestamp beyond the last commit starts at head+1 (wait for
    // future commits).
    val startV = p.get("startingtimestamp").map { t =>
      GraftLogCdfSource.firstVersionAtOrAfter(root, t.toLong)
    }.orElse(p.get("startingversion").map(_.toLong))
    if (isCdfStream(p))
      new GraftLogCdfSource(ctx, root, startV.getOrElse(0L), maxV,
        Some(streamDdlFor(root)))
    else
      new GraftLogStreamSource(ctx, root, startV,
        skipChangeCommits =
          p.get("skipchangecommits").exists(_.equalsIgnoreCase("true")),
        maxVersionsPerBatch = maxV, boundDdl = Some(streamDdlFor(root)))
  }

  /** S31/st33 — the NATIVE streaming sink: `writeStream
    * .format("graftlog")` with no user code (st26/st30 hand-wired
    * foreachBatch + commitTxn; Delta ships a real Sink for the same
    * reason). Spark's DataStreamWriter routes a StreamSinkProvider to
    * the DSv1 sink path even when the class is also a TableProvider,
    * so batch reads/writes keep the V2 surface. Exactly-once: each
    * micro-batch commits with txnTag `appId:batchId` — the SAME
    * high-water guard st26 certifies — where appId defaults to the
    * streaming query's PERSISTENT id (checkpoint-scoped, Delta's
    * rule), so a recovered query replaying its last batch no-ops
    * while a deliberately fresh checkpoint reprocesses. Append mode
    * appends; Complete mode overwrites the snapshot per trigger (the
    * MV shape). Write
    * options mirror the batch writer: `layout`, `numFiles`,
    * `checkpointInterval`, `appId`.
    */
  override def createSink(ctx: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val p = parameters.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    val root = p.getOrElse("path",
      throw new IllegalArgumentException(
        "graftlog sink: 'path' option (the table root) is required"))
    import org.apache.spark.sql.streaming.OutputMode._
    require(outputMode == Append() || outputMode == Complete(),
      s"graftlog sink supports Append and Complete output modes, got $outputMode")
    // txn identity defaults to the streaming QUERY id (resolved by
    // the sink at addBatch time — it lives in the checkpoint, so a
    // deleted checkpoint mints a fresh id and reprocessing lands;
    // a checkpoint-PATH default survives checkpoint deletion and the
    // high-water guard would silently drop every replayed batch)
    // sink options, then persisted TBLPROPERTIES (R105): a toTable
    // pipe onto a table declaring layout/numFiles needs no options
    val props = TableLog.tableProperties(root)
      .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    def knob(n: String): Option[String] = p.get(n).orElse(props.get(n))
    new GraftLogSink(ctx, root, knob("layout"),
      knob("numfiles").map(_.toInt).getOrElse(8), p.get("appid"),
      knob("checkpointinterval").map(_.toInt).getOrElse(1),
      overwriteEachBatch = outputMode == Complete(),
      // a declared CLUSTER BY key range-buckets each micro-batch
      clusterRange = props.contains("clusterby") && !p.contains("layout"))
  }

  /** Schema always comes from the manifest (never user-supplied):
    * the store is the source of truth, including through evolution.
    */
  override def supportsExternalMetadata(): Boolean = false

  /** SINGLE head resolution per load: Spark instantiates a fresh
    * provider per `DataFrameReader.load` and calls `inferSchema` then
    * `getTable` on it with the same options — previously each call
    * resolved the head independently, so a commit landing in between
    * bound h1's schema to h2's data (a TOCTOU crack in the "resolved
    * at plan time" isolation promise, visible after a schema-evolving
    * concurrent commit). The first resolution is cached keyed by the
    * option map; `getTable` reuses it, so schema and scan always pin
    * the SAME version/window.
    */
  @volatile private var pinned: Option[(String, (Long, Long))] = None

  private def optionsKey(o: CaseInsensitiveStringMap): String =
    Seq("path", "versionasof", "timestampasof", "changefeed",
        "startingversion", "endingversion",
        "startingtimestamp", "endingtimestamp")
      .map(k => s"$k=${Option(o.get(k)).getOrElse("")}").mkString(";")

  /** Resolve (and pin) the version — or CDF window — these options
    * address. For the non-CDF relation the pair is (version, version).
    */
  private def resolve(options: CaseInsensitiveStringMap): (Long, Long) = {
    val key = optionsKey(options)
    pinned match {
      case Some((k, w)) if k == key => w
      case _ =>
        val root = rootOf(options)
        val w =
          if (isCdf(options)) cdfWindow(options, root)
          else { val v = versionOf(options, root); (v, v) }
        pinned = Some((key, w))
        w
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = rootOf(options)
    if (isCdf(options)) {
      val (_, toV) = resolve(options)
      StructType.fromDDL(TableLog.schemaDdlOf(root, toV))
        .add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", LongType)
    } else {
      val v = resolve(options)._2
      // a WRITE target may not exist yet: DataStreamWriter (and the
      // batch writer) resolve the table BEFORE dispatching to the
      // sink/write path, so an empty store must yield an empty schema
      // here — reads of it stay loud at newScanBuilder
      if (v < 0L) new StructType()
      else StructType.fromDDL(TableLog.schemaDdlOf(root, v))
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val root = rootOf(opts)
    if (isCdf(opts)) {
      val (fromV, toV) = resolve(opts)
      new GraftLogCdfTable(root, fromV, toV, schema)
    } else
      new GraftLogTable(root, resolve(opts)._2, schema,
        timeTraveled = opts.containsKey("versionAsOf") ||
          opts.containsKey("timestampAsOf"))
  }
}

object GraftLogProvider {
  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graftlog: 'path' option (the table root) is required")
    p
  }

  /** Version is RESOLVED AT PLAN TIME (head if unspecified), so a
    * concurrent commit after the DataFrame is built cannot shift the
    * snapshot mid-query — the manifest is the isolation boundary.
    * `timestampAsOf` (epoch millis) resolves through the commit
    * timestamps (Delta's option name; latest version at or below the
    * instant) — mutually exclusive with `versionAsOf`, Delta's rule.
    */
  private def versionOf(options: CaseInsensitiveStringMap, root: String): Long = {
    val byV = Option(options.get("versionAsOf")).map(_.toLong)
    val byTs = Option(options.get("timestampAsOf"))
      .map(t => TableLog.versionAtTimestamp(root, t.toLong))
    require(byV.isEmpty || byTs.isEmpty,
      "graftlog: versionAsOf and timestampAsOf are mutually exclusive")
    byV.orElse(byTs).getOrElse(TableLog.currentVersion(root))
  }

  private def isCdf(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("changeFeed", false)

  /** CDF window, plan-time resolved (same isolation rule as
    * [[versionOf]]); bounds validated by readChangeFeed at scan.
    * Timestamp forms (epoch millis, Delta's CDF option names):
    * `startingTimestamp` → the EARLIEST version committed at or after
    * the instant; `endingTimestamp` → the LATEST at or below it —
    * together they bracket exactly the commits inside [t1, t2].
    * Each is mutually exclusive with its version twin.
    */
  private def cdfWindow(options: CaseInsensitiveStringMap,
                        root: String): (Long, Long) = {
    require(!(options.containsKey("startingVersion") &&
        options.containsKey("startingTimestamp")),
      "graftlog: startingVersion and startingTimestamp are mutually exclusive")
    require(!(options.containsKey("endingVersion") &&
        options.containsKey("endingTimestamp")),
      "graftlog: endingVersion and endingTimestamp are mutually exclusive")
    val from = Option(options.get("startingVersion")).map(_.toLong)
      .orElse(Option(options.get("startingTimestamp"))
        .map(t => GraftLogCdfSource.firstVersionAtOrAfter(root, t.toLong)))
      .getOrElse(0L)
    val to = Option(options.get("endingVersion")).map(_.toLong)
      .orElse(Option(options.get("endingTimestamp"))
        .map(t => TableLog.versionAtTimestamp(root, t.toLong)))
      .getOrElse(TableLog.currentVersion(root))
    (from, to)
  }

  /** DML-rule introspection hook ([[org.apache.spark.sql.graftx
    * .GraftDmlRule]]): recognize a graftlog DSv2 table under a
    * MERGE/UPDATE/DELETE target and surface (root, version,
    * timeTraveled) — the pieces the lowered command needs. The CDF
    * relation deliberately does NOT match (a change feed is not a
    * writable target).
    */
  object TableInfo {
    def unapply(t: AnyRef): Option[(String, Long, Boolean)] = t match {
      case g: GraftLogTable => Some((g.root, g.snapVersion, g.timeTraveled))
      case _                => None
    }
  }

  /** A HEAD-pinned twin of a mounted graftlog table, for DML
    * re-resolution: a temp view pins the snapshot current at load, but
    * a mutation statement must act on the table's CURRENT state (the
    * per-statement resolution Delta's catalog tables get for free) —
    * otherwise the second of two consecutive DMLs would compute its
    * change set against the pre-first-statement snapshot and silently
    * resurrect rows. Loud when the head schema drifted from the
    * mounted relation's (the analyzed plan's attributes would
    * mis-bind): remount the view after an evolution.
    */
  def headTable(root: String,
                mounted: StructType): org.apache.spark.sql.connector.catalog.Table = {
    val head = TableLog.currentVersion(root)
    val headSchema = StructType.fromDDL(TableLog.schemaDdlOf(root, head))
    require(headSchema.fields.map(f => (f.name, f.dataType)).sameElements(
        mounted.fields.map(f => (f.name, f.dataType))),
      s"graftlog DML: table schema changed since the relation was mounted " +
        s"([${mounted.toDDL}] vs head [${headSchema.toDDL}]) — remount the view")
    new GraftLogTable(root, head, mounted)
  }

  /** Last planned (selected, total) file plan — spec introspection
    * only (the [[TableLog.planFiles]] return pair of the last SQL scan
    * [[GraftLogScanRule]] replaced; `EXPLAIN` shows the same pair as
    * the parquet scan's `files=`).
    */
  @volatile private[graft] var lastScanPlan: (Int, Int) = (0, 0)
}

private[sources] final class GraftLogTable(val root: String,
                                           val snapVersion: Long,
                                           tableSchema: StructType,
                                           val timeTraveled: Boolean = false,
                                           catalogIdent: Option[
                                             org.apache.spark.sql.catalyst.TableIdentifier] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.graftx.V1FallbackTable {

  /** `TRUNCATE TABLE graft.db.t` — an empty OVERWRITE commit through
    * the one write path: history stays (AS OF below the truncate
    * reads the old rows), the schema and declared properties/
    * constraints survive, and the action is restorable like any
    * other commit. Time-traveled relations reject (a snapshot is
    * immutable).
    */
  override def truncateTable(): Boolean = {
    require(!timeTraveled,
      s"graftlog: cannot TRUNCATE a time-traveled relation (${name()})")
    val spark = org.apache.spark.sql.SparkSession.active
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), tableSchema)
    TableLog.commit(empty, root, org.apache.spark.sql.functions.lit(0L), 1,
      "overwrite")
    true
  }
  override def name(): String = s"graftlog.`$root` VERSION AS OF $snapVersion"

  /** Persisted TBLPROPERTIES (R105) at this snapshot — `SHOW
    * TBLPROPERTIES graft.db.t` reads these, and the DML rule / SQL
    * write path consult them as declared-once defaults (primaryKey,
    * layout, numFiles, dvMaxFrac) under their per-call options.
    * Resolved lazily once per relation: one header line of IO.
    */
  override lazy val properties: java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    if (snapVersion >= 0L)
      TableLog.tableProperties(root, snapVersion).foreach { case (k, v) =>
        m.put(k, v) }
    m.put("provider", "graftlog")
    java.util.Collections.unmodifiableMap(m)
  }

  /** The STREAMING-write bridge (Delta implements the same trait for
    * the same reason): `writeStream.format("graftlog")
    * .toTable("graft.db.t")` finds no STREAMING_WRITE capability here
    * and falls back to this CatalogTable, whose provider + location
    * route the query through the ONE DSv1 sink ([[GraftLogSink]] —
    * exactly-once appId:batchId commits, declared-constraint
    * enforcement, the whole store write contract). Batch reads and
    * writes keep the V2 surface (the fallback is consulted only by
    * the streaming planner).
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    CatalogTable(
      identifier = catalogIdent.getOrElse {
        // catalog-loaded tables carry their real 3-part identity (the
        // engine re-resolves it inside the micro-batch plan); a
        // path-mounted table synthesizes one from the path — display
        // only, since toTable is unreachable without a catalog
        val parts = root.split('/').filter(_.nonEmpty)
        org.apache.spark.sql.catalyst.TableIdentifier(parts.last,
          Some(if (parts.length >= 2) parts(parts.length - 2) else "graft"))
      },
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(root).toUri),
        properties = Map("path" -> root)),
      schema = tableSchema,
      provider = Some("graftlog"))
  }
  override def schema(): StructType = tableSchema
  // BATCH_WRITE gates the planner's dispatch; V1_BATCH_WRITE routes
  // the physical write to the InsertableRelation shim (Spark's own
  // V1 fallback writers declare both)
  // AUTOMATIC_SCHEMA_EVOLUTION opts into Spark 4's `MERGE WITH
  // SCHEMA EVOLUTION` resolution (the analyzer accretes the source's
  // new columns via TableCatalog.alterTable → the R75 metadata-only
  // addColumn commit, then re-resolves this relation widened)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(snapVersion >= 0L,
      s"graftlog: no committed table at $root — nothing to read")
    new GraftLogScanBuilder(root, snapVersion, tableSchema)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // writes always target the HEAD (commit re-resolves it); a
    // relation pinned by versionAsOf/timestampAsOf is a snapshot
    // view — writing "to" it would silently retarget the head, so
    // reject loudly (Delta's rule for time-traveled writes)
    require(!timeTraveled,
      s"graftlog: cannot write to a time-traveled relation (${name()})")
    new GraftLogWriteBuilder(root, info)
  }
}

/** The write half of the SQL surface (round-12 missing-item 3: every
  * mutation was Scala-API-only): `df.write.format("graftlog")` with
  * SaveMode.Append/Overwrite, delegating row IO AND the commit
  * protocol to [[TableLog.commit]] through the official V1 write shim
  * (the InsertableRelation fallback Spark's own JDBC v2 source uses) —
  * ONE write path, so the schema gate, attempt-unique data dirs,
  * footer-stat zoning and the hard-link claim all apply to SQL writes
  * too. Analyzer-side, AppendData.byName has already resolved the
  * incoming frame to the table schema (name-matched, ANSI-cast,
  * missing/extra columns rejected loudly) before insert() runs; the
  * store's own gate re-checks underneath as defense in depth.
  *
  * Write options: `layout` (SQL expression clustering rows into
  * files — e.g. `"k div 500"`; defaults to the first long column,
  * else constant), `numFiles` (default 8).
  */
private[sources] final class GraftLogWriteBuilder(root: String,
                                                  info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwriteFlag: Boolean): Unit = {
          val opts = info.options
          // write options, then persisted TBLPROPERTIES (R105 —
          // declared-once layout/numFiles), then the defaults
          // property keys match case-insensitively, like the option map
          val props = TableLog.tableProperties(root)
            .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
          def knob(n: String): Option[String] =
            Option(opts.get(n))
              .orElse(props.get(n.toLowerCase(java.util.Locale.ROOT)))
          val numFiles = knob("numFiles").map(_.toInt).getOrElse(8)
          // a DECLARED CLUSTER BY key range-buckets per batch (one
          // 1-row agg) so zones prune; an explicit write option wins
          val layout =
            if (props.contains("clusterby") && Option(opts.get("layout")).isEmpty
                && props.contains("layout"))
              TableLog.rangeLayout(data, props("layout"), numFiles)
            else knob("layout").map(expr).getOrElse {
              data.schema.fields.find(_.dataType == LongType)
                .map(f => col(f.name))
                .getOrElse(org.apache.spark.sql.functions.lit(0L))
            }
          TableLog.commit(data, root, layout, numFiles,
            if (overwrite || overwriteFlag) "overwrite" else "append")
        }
      }
  }
}

private[sources] final class GraftLogScanBuilder(root: String, version: Long,
                                                 tableSchema: StructType)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  /** Accept the file-prunable subset as "pushed" (plan visibility);
    * return ALL filters so Spark keeps the row-level Filter above the
    * scan — our pushdown SKIPS FILES, it never claims row exactness.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(TableLog.prunable(_, tableSchema))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GraftLogScan(root, version, required, pushed)
}

/** A graftlog scan that Spark plans no read from: [[GraftLogScanRule]]
  * puts [[read]], a library read of the store, in place of its
  * relation.
  */
private[sources] trait GraftLogRead extends Scan {
  def read(spark: SparkSession): LogicalPlan

  /** The optimized plan of `df` projected to the scan's columns. The
    * splice lands after the optimizer's rewrite batches, so it must be
    * optimized already: an analyzed plan would bring operators only the
    * optimizer replaces (`EXCEPT ALL`) and hints it resolves
    * (`broadcast`) to the physical planner.
    */
  protected def projected(df: DataFrame): LogicalPlan =
    df.select(readSchema().fieldNames.toSeq.map(n => df(s"`$n`")): _*)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.optimizedPlan
}

/** The scan's ONE file selection is planned once by
  * [[TableLog.planFiles]] (metadata-sized IO, never a data scan) and
  * read by the statistics, the EXPLAIN name and the executed read.
  */
private[sources] final class GraftLogScan(root: String, version: Long,
                                          required: StructType,
                                          pushed: Array[Filter])
    extends GraftLogRead {
  override def readSchema(): StructType = required

  /** [[TableLog.readFiles]] over the planned files, projected to the
    * required columns. Its relation carries the selection's exact live
    * rows and on-disk bytes as catalog statistics, so the planner sizes
    * joins by the POST-PRUNE table and auto-broadcasts a filtered
    * dimension under the ordinary threshold, no hint needed. When an
    * ANALYZE artifact exists for this version, its column statistics
    * ride along (the NDV→CBO bridge). The relation's name carries the
    * prune (`files=<kept>/<total>`), so EXPLAIN shows it on the scan.
    */
  override def read(spark: SparkSession): LogicalPlan = {
    val m = TableLog.readManifest(root, version)
    val sel = TableLog.planFiles(m, pushed.toSeq)
    GraftLogProvider.lastScanPlan = (sel.size, m.files.size)
    val df = TableLog.readFiles(spark, root, m, sel)
    val table = CatalogTable(
      identifier = TableIdentifier(
        s"graftlog.`$root` VERSION AS OF $version files=${sel.size}/${m.files.size}"),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = StructType.fromDDL(m.physicalDdl),
      provider = Some("graftlog"),
      stats = Some(CatalogStatistics(
        sizeInBytes = BigInt(math.max(1L, TableLog.dataBytes(root, sel))),
        rowCount = Some(BigInt(sel.map(_.liveRows).sum)),
        colStats = columnStats(spark, m))))
    // the data-file relation only: a deletion-vector side-file scan
    // keeps its own size, so its anti join still broadcasts
    val data = new ManifestFileIndex(root, sel)
    projected(df).transform {
      case l @ LogicalRelation(h: HadoopFsRelation, _, None, _, _) if h.location == data =>
        l.copy(catalogTable = Some(table))
    }
  }

  /** ANALYZE column statistics keyed by PHYSICAL column name (the
    * relation's attribute names); min/max only on integral columns,
    * whose long lanes the artifact fills. Advisory: no artifact, or an
    * unreadable one, leaves rows and bytes only.
    */
  private def columnStats(spark: SparkSession,
                          m: TableLog.Manifest): Map[String, CatalogColumnStat] =
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(f"$root/_stats/v$version%08d"))) Map.empty
    else try {
      val integral = StructType.fromDDL(m.schemaDdl).fields.collect {
        case f if Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType) => f.name
      }.toSet
      TableLog.tableStats(spark, root, Some(version)).collect().toSeq.map { r =>
        val name = r.getString(0)
        def bound(i: Int): Option[String] =
          if (r.isNullAt(i) || !integral(name)) None else Some(r.getLong(i).toString)
        m.physicalOf(name) -> CatalogColumnStat(
          distinctCount = Some(BigInt(r.getLong(7))), min = bound(3), max = bound(4),
          nullCount = Some(BigInt(r.getLong(2))))
      }.toMap
    } catch { case _: Exception => Map.empty }
}

/** CDF mode (`changeFeed=true`): the commit window's row-level
  * inserts/deletes through [[TableLog.readChangeFeed]] — Delta's
  * `table_changes` as a relation. Column pruning flows through; file
  * pruning is meaningless here (the feed scans exactly the churned
  * files by construction), so filters stay row-level above the scan.
  */
private[sources] final class GraftLogCdfTable(root: String, fromV: Long,
                                              toV: Long, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String =
    s"graftlog.`$root` CHANGES FROM $fromV TO $toV"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLogCdfScanBuilder(root, fromV, toV, tableSchema)
}

private[sources] final class GraftLogCdfScanBuilder(root: String, fromV: Long,
                                                    toV: Long,
                                                    tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new GraftLogCdfScan(root, fromV, toV, required)
}

private[sources] final class GraftLogCdfScan(root: String, fromV: Long,
                                             toV: Long, required: StructType)
    extends GraftLogRead {
  override def readSchema(): StructType = required

  /** [[TableLog.readChangeFeed]] over the window. */
  override def read(spark: SparkSession): LogicalPlan =
    projected(TableLog.readChangeFeed(spark, root, fromV, toV))
}

/** Plans every graftlog SQL read as the library read: once scan
  * pushdown has pruned its columns and planned its files, each
  * [[GraftLogRead]] relation becomes the scan's `read` plan under the
  * relation's own output attributes. That read is
  * a parquet file scan over a [[ManifestFileIndex]], so it is planned
  * once, inside the query that reads it. Runs in the user-provided
  * optimizer batch, the first point after `V2ScanRelationPushDown`;
  * `Graft.registerFunctions` registers it. An `ALTER TABLE … ADD
  * CONSTRAINT` plan is left whole: Spark's `DataSourceV2Strategy`
  * plans that command only over a validation query that still ends in
  * the V2 scan relation, and fails with "No plan for
  * AddCheckConstraint" over a spliced one. [[GraftLogScanStrategy]]
  * reads that relation instead.
  */
object GraftLogScanRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: AddCheckConstraint => plan
    case _ => plan.transformUpWithSubqueries {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[GraftLogRead] => splice(r)
    }
  }

  private[sources] def splice(r: DataSourceV2ScanRelation): LogicalPlan = {
    val read = r.scan.asInstanceOf[GraftLogRead].read(SparkSession.active)
    val byName = read.output.map(a => a.name -> a).toMap
    Project(r.output.map(a => Alias(byName(a.name), a.name)(
      exprId = a.exprId, qualifier = a.qualifier, explicitMetadata = Some(a.metadata))), read)
  }
}

/** Plans a graftlog scan relation that reaches physical planning, the
  * validation query of `ALTER TABLE … ADD CONSTRAINT`, as the same
  * splice [[GraftLogScanRule]] makes.
  */
object GraftLogScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // the whole project/filter chain, which Spark's own V2 strategy
    // would otherwise plan over the relation
    case PhysicalOperation(_, _, r: DataSourceV2ScanRelation)
        if r.scan.isInstanceOf[GraftLogRead] =>
      planLater(plan.transformUp {
        case s: DataSourceV2ScanRelation if s eq r => GraftLogScanRule.splice(r)
      }) :: Nil
    case _ => Nil
  }
}
