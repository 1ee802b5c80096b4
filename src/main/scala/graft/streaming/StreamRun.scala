package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

/** Drive a stream through the REAL Structured Streaming engine.
  *
  * [[run]] is the one runner: it starts `transform(src)` under
  * MicroBatchExecution with `Trigger.AvailableNow()` (process all
  * input that exists now, then stop) into one of four [[Sink]]s — the
  * memory sink (whose table it hands back as a batch DataFrame), a
  * format sink, a catalog table, or a `foreachBatch` function. Every
  * run gets a fresh checkpoint that is deleted when the run ends,
  * fails or not, and records the executed plan in [[lastPlan]]. This
  * is what lets the driver's DuckDB oracle check the *incremental*
  * execution path — the executed plan is a MicroBatchWrite epoch over
  * StateStoreSave/StreamingDeduplicate/StreamingSymmetricHashJoin
  * operators (see StreamRunSpec). [[onTable]]/[[onEvents]] are the
  * memory-sink runs over one `<dir>/<table>.parquet`.
  *
  * Determinism contract (what makes these oracle-checkable):
  *   - Complete-mode aggregations re-emit the whole state each
  *     trigger, so the final table equals the batch aggregate no
  *     matter how the input was chopped into micro-batches.
  *   - Append-mode *inner* joins emit a match in whichever batch
  *     completes the pair — the final SET of rows is batch-equal
  *     (watermarks only govern state cleanup, not inner-join output).
  *   - Append-mode dropDuplicates emits exactly one row per key; we
  *     only expose the key columns, because WHICH duplicate arrives
  *     at the state store first is arrival-order-dependent.
  * Aggregations whose *row payloads* depend on arrival order (keep-
  * first dedup) or need rank-over-closed-window (sliding top-k) stay
  * batch twins + stateful specs — see StreamQueries' per-query notes.
  *
  * Scale note: the memory sink is the verification harness, not the
  * production path — a real deployment points the same `writeStream`
  * at a parquet/kafka sink with a durable checkpoint dir. All state
  * here is bounded: complete-mode aggregates are O(groups), the
  * interval join's buffer is trimmed by its watermarks.
  */
object StreamRun {

  /** Physical plan of the most recent run — evidence for specs/PERF
    * audits that the incremental engine (MicroBatchScan + StateStore
    * operators) ran, not a batch rewrite. Captured via the public
    * `StreamingQuery.explain()` (prints lastExecution).
    */
  @volatile var lastPlan: String = ""

  /** Sink description of the most recent run — spec evidence that the
    * ENGINE drove the named sink (not a foreachBatch shim).
    */
  @volatile var lastSinkDescription: String = ""

  /** Where a [[run]] delivers its rows. */
  sealed trait Sink
  object Sink {
    /** The engine's memory sink; [[Run.table]] holds its contents. */
    final case class Memory(mode: OutputMode) extends Sink

    /** A format sink (st33's native graftlog sink) with writer options. */
    final case class Format(fmt: String, options: Map[String, String],
                            mode: OutputMode = OutputMode.Append()) extends Sink

    /** A CATALOG TABLE by name (`writeStream.format("graftlog")
      * .toTable(name)` — the fmt is required because Spark's
      * V1-fallback sink path insists the writer's format match the
      * table's provider, Delta's documented shape too).
      */
    final case class Table(name: String, options: Map[String, String] = Map.empty,
                           mode: OutputMode = OutputMode.Append()) extends Sink

    /** `fn` per micro-batch — the Structured Streaming pattern for
      * sinks the built-in writers can't express (MERGE upkeep,
      * multi-table writes, upserts into a store). Each micro-batch's
      * DataFrame is handed to `fn` on the driver with its batch id;
      * the engine guarantees ids are monotonically increasing and,
      * under a checkpoint, that a batch is re-delivered with the SAME
      * id on recovery — so `fn` must be idempotent per id (the
      * commit-version-per-batch discipline st25 uses gets this for
      * free: re-running batch k just re-creates version k's state
      * from the same inputs).
      */
    final case class ForeachBatch(fn: (DataFrame, Long) => Unit) extends Sink
  }

  /** What a [[run]] leaves: the memory sink's table (memory sinks
    * only), the checkpoint location it used — deleted by the time
    * `run` returns; a format sink's default appId input, so callers
    * can replay a batch against the same identity — and the number of
    * micro-batches the engine executed.
    */
  final case class Run(table: Option[DataFrame], checkpoint: Option[String],
                       batches: Long)

  /** Shuffle partitions every stream runs with: fewer than the batch
    * queries use. Each partition keeps its own state stores (the
    * interval join keeps FOUR) and commits a delta and a checksum file
    * per store per trigger. That per-file cost was once large because
    * Hadoop's local file system forked `readlink`/`chmod` for each
    * checkpoint file; [[LocalCheckpointFileManager]] removed the forks,
    * and since then st03 + st07 take the same time at 1, 4 or 8
    * partitions. On a real cluster this is the knob you size to state
    * volume, not to core count.
    */
  private val StreamPartitions = "8"

  /** Checkpoint base (offset WAL + per-partition state snapshots +
    * commit log, written through [[LocalCheckpointFileManager]]):
    * `SPARK_GRAFT_STREAM_CKPT`, else tmpfs when the host has one:
    * these runs are verification runs whose checkpoints are deleted
    * on completion, so durability buys nothing and disk writes are
    * pure fixed cost. With neither, the engine's own temporary
    * checkpoint is used. A production deployment points this at
    * durable storage — that knob is exactly what `checkpointLocation`
    * is.
    */
  private[graft] def checkpointBase: Option[String] =
    sys.env.get("SPARK_GRAFT_STREAM_CKPT").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft-ckpt") else None
    }

  /** Run `transform(src)` into `sink` through the real engine under
    * Trigger.AvailableNow and wait for it to finish. The transform is
    * built under the stream's partition count, which is restored
    * before `run` returns or throws.
    */
  def run(s: SparkSession, src: DataFrame, sink: Sink,
          transform: DataFrame => DataFrame = identity): Run = {
    val name = "graft_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamPartitions)
    val ckptDir = checkpointBase.map(b => s"$b/$name")
    val q = try {
      val w = transform(src).writeStream.queryName(name)
        .trigger(Trigger.AvailableNow())
      ckptDir.foreach(d => w.option("checkpointLocation", d))
      sink match {
        case Sink.Memory(mode) => w.format("memory").outputMode(mode).start()
        case Sink.Format(fmt, options, mode) =>
          w.format(fmt).outputMode(mode).options(options).start()
        case Sink.Table(table, options, mode) =>
          w.format("graftlog").outputMode(mode).options(options).toTable(table)
        case Sink.ForeachBatch(fn) =>
          w.foreachBatch((df: Dataset[Row], id: Long) => fn(df, id)).start()
      }
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    // explicit checkpoint locations are not auto-deleted (unlike the
    // engine's temporary ones) — clean up in finally so tmpfs never
    // accumulates even when the run fails or is killed mid-stream.
    // (The dir name embeds this run's UUID, so a failed run can never
    // be *resumed* by a later one — the finally guards leakage only.)
    try q.awaitTermination()
    finally ckptDir.foreach(d =>
      graft.sources.TidyIO.deleteRecursively(java.nio.file.Path.of(d)))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
      lastPlan = buf.toString
    } catch { case _: Throwable => lastPlan = "" }
    lastSinkDescription =
      Option(q.lastProgress).map(_.sink.description).getOrElse("")
    // a fresh checkpoint numbers batches from 0; idle triggers report
    // progress too, but only executed batches time an addBatch
    val batches = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
      .lastOption.map(_.batchId + 1L).getOrElse(0L)
    // Dataset construction analyzes eagerly, so the memory-sink
    // relation is captured in the plan and the temp view can go.
    val table = sink match {
      case _: Sink.Memory =>
        val out = s.table(name)
        s.catalog.dropTempView(name)
        Some(out)
      case _ => None
    }
    Run(table, ckptDir, batches)
  }

  /** Streamed read of `<dir>/<table>.parquet`: explicit schema from a
    * metadata-only batch read (file streams don't infer); the events
    * table's TIMESTAMP(NANOS) arrives as long and is truncated to
    * micro timestamps exactly like Graft.table does for batch. The
    * driver's tables are single .parquet FILES, and the file stream
    * source only accepts a non-glob path if it is a directory (it
    * force-sets basePath to it) — a glob path skips that check, so
    * the last character becomes a one-char character class.
    */
  def source(s: SparkSession, dir: String, table: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$table.parquet"
    val schema = graft.Graft.inferredSchema(s, path)
    val globPath = path.dropRight(1) + "[" + path.last + "]"
    val raw = s.readStream.schema(schema).parquet(globPath)
    schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // Same normalization as Graft.table: UTC session makes the
        // NTZ→TIMESTAMP cast a pure reinterpretation, and watermarks
        // require TIMESTAMP.
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Memory-sink [[run]] of `transform` over `<dir>/<table>.parquet`. */
  def onTable(s: SparkSession, dir: String, table: String, mode: OutputMode)
             (transform: DataFrame => DataFrame): DataFrame =
    run(s, source(s, dir, table), Sink.Memory(mode), transform).table.get

  def onEvents(s: SparkSession, dir: String, mode: OutputMode)
              (transform: DataFrame => DataFrame): DataFrame =
    onTable(s, dir, "events", mode)(transform)
}
