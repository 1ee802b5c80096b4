package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table loader for the graft engine.
  *
  * Capabilities modeled after SD2E/fcs-etl-reactor (FCS ETL: ingest,
  * per-channel transform, compensation, gating, summary statistics,
  * metadata joins) re-expressed Spark-first; see SURVEY.md.
  */
object Graft {

  /** Build a local session tuned the way we'd tune a cluster job:
    * AQE on (runtime re-plan + skew-join), shuffle partitions sized to
    * the parallelism (not the 200 default), UTC for oracle parity,
    * local checkpoints and data files written without process forks
    * ([[graft.streaming.LocalCheckpointFileManager]],
    * [[graft.sources.NioLocalFileSystem]]), and our custom Catalyst
    * expressions registered for SQL use. The one session factory:
    * every main and the test session build here.
    * `overrides` carries deployment settings only — paths and the app
    * name (e.g. the test warehouse dir) — applied last.
    */
  def session(cores: Int = Runtime.getRuntime.availableProcessors(),
              overrides: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // analyzer-side rules (the SQL DML lowering) can only ride the
      // extensions hook — registerFunctions can retrofit optimizer
      // rules onto a built session, analyzer rules it cannot
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local checkpoints and files through java.nio: Hadoop's local
      // file system forks readlink/chmod per file and directory otherwise
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config(overrides)
      .getOrCreate()
    registerFunctions(s)
    s
  }

  /** Register graft's custom Catalyst expressions in an existing
    * session's function registry so `spark.sql` can call them too.
    * Safe to call repeatedly.
    */
  def registerFunctions(s: SparkSession): Unit =
    org.apache.spark.sql.graftx.GraftExpressions.registerAll(s)

  /** Load one of the driver tables from an sf directory. Plain parquet
    * scan — Catalyst handles column pruning / predicate pushdown.
    *
    * The `events` table's `ts` has shipped as two physical types across
    * testdata generations, both normalized here to a session-zone
    * TIMESTAMP so every downstream operator (watermarks, unix_micros,
    * window()) sees one type:
    *   - TIMESTAMP(NANOS), which Spark's parquet reader rejects: read
    *     nanos as long (legacy conf) and convert with integer division
    *     (`div`, not `/` — double math would lose precision on ~1e18
    *     nanos). Truncation to micros matches DuckDB's read.
    *   - timestamp[us] without timezone (TIMESTAMP_NTZ): cast to
    *     TIMESTAMP. The session is pinned to UTC, so the cast is a
    *     pure reinterpretation — identical wall clock and epoch micros
    *     to DuckDB's naive read of the same file.
    */
  /** In-process memo of INFERRED parquet schemas: every
    * `spark.read.parquet` without a schema runs a 1-task
    * footer-inference job, and the bench pays it per table reference
    * per query per rep. Metadata only — rows are never cached. Keyed
    * by path AND the files' modification time and size, so a table
    * rewritten at the same path (a different schema, in the same JVM)
    * is inferred again instead of read with a stale schema.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  /** Inferred schema of `path`, memoized per (path, newest mtime,
    * total bytes) of the file or of the directory's files.
    */
  def inferredSchema(s: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val files = if (st.isDirectory) fs.listStatus(p).toSeq.filter(_.isFile) else Seq(st)
    val key = (path, (st +: files).map(_.getModificationTime).max, files.map(_.getLen).sum)
    schemaMemo.computeIfAbsent(key, _ => s.read.parquet(path).schema)
  }

  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = s.read.schema(inferredSchema(s, path)).parquet(path)
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
}
