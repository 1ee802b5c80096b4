package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.BenchBus

import graft.{Graft, SparkEntry}

/** One benchmark run of a workload, in a fresh JVM.
  *
  * A single client thread issues the workload's queries back to back (a
  * closed loop). Each execution builds the query's DataFrame (eager DML,
  * MERGEs and streams run here) and emits it as a parquet table, which
  * computes every output column. Outputs are kept for the caller to check
  * against the DuckDB oracles; this program only times.
  *
  * Usage: Main --data DIR --out DIR --queries q1,q2 --seconds S
  *             [--trace 0|1]
  *        Main --queries q1,q2 --validate 1
  * Writes DIR/results.json; exits 2 on a query name nobody defines
  * (with --validate, checks the names and does nothing else).
  */
object Main {
  final case class Exec(query: String, buildS: Double, execS: Double, error: Option[String], out: String)
  final case class Pass(tag: String, seconds: Double, startMs: Long, endMs: Long, execs: Seq[Exec])

  /** Queries defined only here, for the benchmark's self-tests: one
    * throws while building, one returns rows its oracle disagrees with.
    */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bench_throws" -> ((_, _) => throw new IllegalStateException("bench_throws: deliberate failure")),
    "bench_wrong_rows" -> ((s, _) => s.range(3).toDF("x")))
  val benchOracle: Map[String, String] = Map(
    "bench_throws" -> "SELECT 1 AS x",
    "bench_wrong_rows" -> "SELECT range + 1 AS x FROM range(3)")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val registry = SparkEntry.queries ++ benchOnly
    val unknown = names.filterNot(registry.contains)
    if (names.isEmpty || unknown.nonEmpty) {
      System.err.println(s"[perfbench] unknown queries: ${unknown.mkString(",")} (${names.size} named)")
      sys.exit(2)
    }
    if (opt.get("validate").contains("1")) sys.exit(0)
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()

    def runOne(spark: SparkSession, q: String, path: String): Exec = {
      val t0 = System.nanoTime()
      try {
        val df = registry(q)(spark, data)
        val t1 = System.nanoTime()
        emit(df, path)
        Exec(q, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, None, path)
      } catch {
        case NonFatal(e) =>
          Exec(q, 0, 0, Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"), path)
      } finally spark.catalog.clearCache()
    }

    def runPass(spark: SparkSession, tag: String, k: Int): Pass = {
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val execs = names.map(q => runOne(spark, q, s"$out/$tag$k/$q"))
      Pass(tag, (System.nanoTime() - t0) / 1e9, w0, System.currentTimeMillis(), execs)
    }

    val s0 = System.nanoTime()
    var spark = Graft.session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val w0 = System.nanoTime()
    val warm = runPass(spark, "warmup", 0)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val readyMs = System.currentTimeMillis()

    // A fixed number of passes per run, so every run's samples have the same
    // make-up whatever the machine's speed: a pass of either workload takes
    // 11-15 s, so a run measures about `seconds`.
    val n = math.max(2, (seconds / 12).toInt)
    val timed = Seq.newBuilder[Pass]
    var layers = Map.empty[String, Double]
    if (!trace) timed ++= (0 until n).map(k => runPass(spark, "p", k))
    else {
      // Untraced and traced passes alternate, starting and ending untraced
      // (u t u ...), so the traced passes sit between untraced ones in JIT
      // and cache state; the listeners are attached for the traced ones only.
      val tr = new Trace
      val sc = spark.sparkContext
      val both = (0 until 2 * math.max(1, n / 2) + 1).map { k =>
        if (k % 2 == 0) runPass(spark, "u", k)
        else {
          BenchBus.drain(sc)
          sc.addSparkListener(tr)
          spark.streams.addListener(tr.streams)
          tr.beginPass()
          val p = runPass(spark, "t", k)
          BenchBus.drain(sc)
          tr.endPass()
          spark.streams.removeListener(tr.streams)
          sc.removeSparkListener(tr)
          p
        }
      }
      val diskBytes = scratchBytes()
      spark.stop()
      spark = Graft.session(1)
      spark.sparkContext.setLogLevel("ERROR")
      val single = runPass(spark, "c", 0)
      val (traced, plain) = both.partition(_.tag == "t")
      timed ++= both += single
      layers = Layers.summarize(tr, traced, plain, single, cores, diskBytes, sessionS, warmupS)
    }
    spark.stop()

    Json.write(s"$out/results.json", Json.obj(
      "ready_ms" -> readyMs.toDouble, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "passes" -> (warm +: timed.result()).map(Json.pass),
      "oracle" -> names.map(q => q -> (SparkEntry.oracleSql ++ benchOracle).get(q)).toMap,
      "layers" -> layers))
    sys.exit(0)
  }

  /** The timed emit step: the result becomes a parquet table, so every
    * output column is computed.
    */
  def emit(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  /** Bytes under this JVM's `/tmp/<tag>_<pid>` scratch tables and the
    * graft catalog warehouse: space the store leaves behind.
    */
  def scratchBytes(): Double = {
    val pid = ProcessHandle.current().pid()
    val roots = Option(new java.io.File("/tmp").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.endsWith(s"_$pid")) :+
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft-warehouse")
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()
    roots.map(size).sum.toDouble
  }
}
