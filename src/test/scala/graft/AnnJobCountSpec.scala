package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job-count ceiling for IVF-ADC serving: one s17 execution (index
  * build, the three table writes, the probe and the emitted result)
  * must stay within a fixed number of Spark jobs. At these input sizes
  * every job is a single small task, so the job count — not per-row
  * scoring — sets the query's time, and a regression shows here as a
  * deterministic number before it shows on any clock.
  */
class AnnJobCountSpec extends AnyFunSuite {
  import SharedSpark.{jobsOf, sfDir, spark}

  test("one s17 execution (build + write) runs at most 20 Spark jobs") {
    val fn = SparkEntry.queries("s17_ivfadc_serve")
    val out = java.nio.file.Files.createTempDirectory("s17jobs").toString
    def once(): Unit = {
      fn(spark, sfDir).write.mode("overwrite").parquet(s"$out/result")
      spark.catalog.clearCache()
    }
    once() // schema inference and first-use costs stay out of the count
    val jobs = jobsOf(once())
    info(s"s17 ran $jobs Spark jobs")
    assert(jobs <= 20, s"s17 ran $jobs Spark jobs")
  }
}
