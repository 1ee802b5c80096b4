package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** Per-job wall-clock profiler for one or more SparkEntry queries:
  * prints every Spark job's duration with its call site, its SQL
  * execution id and the operator scopes its stages ran, so a
  * multi-action operator (DML commits, store lifecycles) can be
  * attributed line-by-line, and the processes the timed run forked,
  * counted by program — a fork costs milliseconds, and Hadoop's local
  * file system shells out for some file operations. Warmup run first
  * (JIT/codegen), then the timed run — mirrors the bench's
  * steady-state methodology. Each timed run ends with one `[prof]
  * jobs` line: its job count, the summed job time, the wall time, and
  * the share of wall time in which no job ran (driver-side planning,
  * metadata IO and commits).
  *
  * Usage: runMain graft.Prof <sfDir> <name>[,<name>...]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = args match {
      case Array(d, n) => (d, n)
      case _ => System.err.println("usage: graft.Prof <sfDir> <name>[,...]"); sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Graft.session(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val epoch = new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
    // (start, end) of every finished job, epoch millis
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the result stage's name is the action's call site
        // ("collect at TableLog.scala:2676") — exact attribution
        val site = js.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse("?")
        val nTasks = js.stageInfos.map(_.numTasks).sum
        // an AQE stage job's call site is a thread-pool frame; its SQL
        // execution and operator scopes say what it ran
        val sql = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .fold("")(id => s" sql=$id")
        val scopes = org.apache.spark.sql.graftx.JobScopes.of(js.stageInfos)
        starts.put(js.jobId, (js.time,
          s"$site tasks=$nTasks$sql ${scopes.mkString(",")}".trim))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, site) =>
          spans.add((t0, je.time))
          val rel0 = (t0 - epoch.get()) / 1000.0
          println(f"[prof] job ${je.jobId}%4d ${(je.time - t0) / 1000.0}%8.3f s  @+$rel0%8.3f  $site")
        }
      }
    })
    // reset the relative-timestamp epoch at each query's timed-run start
    def resetEpoch(): Unit = epoch.set(System.currentTimeMillis())
    names.split(",").foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        System.err.println(s"[prof] warmup $n failed: ${e.getMessage}") }
      spark.catalog.clearCache()
      // let listener-bus drain so warmup jobs don't interleave the header
      Thread.sleep(500)
      println(s"==== $n ====")
      resetEpoch()
      spans.clear()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val forks = forkedCommands { fn(spark, sfDir).count() }
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[prof] TOTAL $n $dt%.3f s")
      val jobs = spans.asScala.toSeq.filter(_._1 >= w0).sortBy(_._1)
      val summed = jobs.map { case (a, b) => b - a }.sum / 1000.0
      // jobs overlap (AQE runs stage jobs side by side): count the
      // wall time covered by at least one job once
      val covered = jobs.foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
      }._1 / 1000.0
      println(f"[prof] jobs $n n=${jobs.size} job_s=$summed%.3f wall_s=$dt%.3f " +
        f"between_jobs=${math.max(0.0, 1.0 - covered / dt)}%.2f")
      val byProgram = forks.groupBy(_.takeWhile(_ != ' ').split('/').last)
        .toSeq.sortBy { case (p, cs) => (-cs.size, p) }
        .map { case (p, cs) => s"$p=${cs.size}" }
      println(s"[prof] forks ${forks.size} ${byProgram.mkString(" ")}".trim)
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** Command lines of the processes this JVM started while `body` ran,
    * from the JFR `jdk.ProcessStart` event.
    */
  def forkedCommands(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      // another recording running in this JVM (-XX:StartFlightRecording)
      // puts its own events in the dump
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(f)
    }
  }
}
