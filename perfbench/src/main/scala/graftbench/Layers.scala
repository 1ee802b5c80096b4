package graftbench

/** Per-layer metrics of a traced run, each averaged per traced pass
  * unless it is a ratio, a peak or a setup time.
  */
object Layers {
  val Names: Seq[String] = Seq(
    "Graft.session_s", "Graft.warmup_s", "queries.build_s", "queries.exec_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.task_wait_s", "spark.busy_frac",
    "spark.input_bytes", "spark.input_records", "spark.output_bytes", "spark.result_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.failed_tasks", "spark.failed_jobs", "spark.stage_retries", "spark.core_scaling",
    "attrib.unattributed_frac",
    "store.bytes_written", "store.records_written", "store.bytes_read", "store.disk_bytes",
    "stream.batches", "stream.trigger_s", "stream.addBatch_s", "stream.planning_s",
    "stream.offsets_s", "stream.commit_s", "stream.startup_s", "stream.input_rows",
    "stream.state_rows", "stream.state_commit_s", "stream.state_mem_bytes",
    "stream.dropped_by_watermark",
    "jvm.gc_s", "jvm.heap_peak_mb", "trace.overhead") ++
    Trace.Modules.flatMap(m => Seq(s"jobs.$m", s"job_s.$m"))

  /** Counters that are already a per-run peak, not a sum over passes. */
  private val Peaks = Set("stream.state_mem_bytes")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def summarize(tr: Trace, traced: Seq[Main.Pass], plain: Seq[Main.Pass], single: Main.Pass,
                cores: Int, diskBytes: Double, sessionS: Double,
                warmupS: Double): Map[String, Double] = {
    val n = traced.size.toDouble
    val jvm = tr.jvm()
    val perPass = tr.counts.map { case (k, v) => k -> (if (Peaks(k)) v else v / n) }.toMap
    val execs = traced.flatMap(_.execs)
    val tracedS = traced.map(_.seconds)
    val gaps = traced.map(p => (p.endMs - p.startMs) / 1e3 - covered(tr.jobSpans.toSeq, p) / 1e3)
    val derived = Map(
      "Graft.session_s" -> sessionS,
      "Graft.warmup_s" -> warmupS,
      "queries.build_s" -> execs.map(_.buildS).sum / n,
      "queries.exec_s" -> execs.map(_.execS).sum / n,
      "spark.driver_gap_s" -> gaps.sum / n,
      "spark.busy_frac" -> tr.counts.getOrElse("spark.task_run_s", 0.0) / (cores * tracedS.sum),
      "spark.core_scaling" -> single.seconds / median(plain.map(_.seconds)),
      "attrib.unattributed_frac" -> perPass.getOrElse("jobs.unattributed", 0.0) /
        math.max(perPass.getOrElse("spark.jobs", 0.0), 1.0),
      "store.disk_bytes" -> diskBytes,
      "jvm.gc_s" -> jvm("jvm.gc_s") / n,
      "jvm.heap_peak_mb" -> jvm("jvm.heap_peak_mb"),
      "trace.overhead" -> median(tracedS) / median(plain.map(_.seconds)))
    Names.map(k => k -> derived.getOrElse(k, perPass.getOrElse(k, 0.0))).toMap
  }

  /** Milliseconds of pass `p` during which at least one job ran. */
  private def covered(spans: Seq[(Long, Long)], p: Main.Pass): Long = {
    val clipped = spans.map { case (a, b) => (a max p.startMs, b min p.endMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (b > end) {
        total += b - (a max end)
        end = b
      }
    }
    total
  }
}

/** Just enough JSON writing for results.json. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap

  def pass(p: Main.Pass): Map[String, Any] = obj(
    "tag" -> p.tag, "seconds" -> p.seconds,
    "execs" -> p.execs.map(e => obj("query" -> e.query, "build_s" -> e.buildS,
      "exec_s" -> e.execS, "error" -> e.error, "out" -> e.out)))

  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String =>
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }.mkString("\"", "", "\"")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => encode(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case x => encode(x.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), encode(v))
}
