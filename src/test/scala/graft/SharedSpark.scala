package graft

import org.apache.spark.sql.SparkSession

/** One session for the whole forked test JVM. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = Graft.session(4, Map(
      "spark.app.name" -> "graft-test",
      // managed tables (bucketed-join spec) land in a temp warehouse,
      // not ./spark-warehouse inside the repo
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_wh_").toString))
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts on the shared session. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get()
  }
}
