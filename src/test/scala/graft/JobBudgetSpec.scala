package graft

import org.scalatest.funsuite.AnyFunSuite

/** Exact Spark job counts per execution of the store queries of the
  * `dml_stream` benchmark workload and of the two other MERGE queries
  * (q65, q92), at sf0.001 on the shared session.
  * An execution builds the query (its eager commits, MERGEs and SQL
  * writes) and emits the result as parquet, as the benchmark does; the
  * first execution pays schema inference and first-use costs and is
  * left out. Job counts are deterministic where wall time is not, so
  * a job added to a commit or a scan fails here first. A change that
  * moves a count edits this table and says why.
  */
class JobBudgetSpec extends AnyFunSuite {
  import SharedSpark.{jobsOf, sfDir, spark}

  /** query → jobs per execution. Each data commit runs one job (the
    * write, whose tasks return the files' rows and zones).
    */
  private val budget: Seq[(String, Int)] = Seq(
    "q84_sql_write" -> 8,
    "q95_catalog_tables" -> 11,
    "q97_merge_general" -> 25,
    "q83_string_zones" -> 5,
    "q65_table_log" -> 21,
    "q92_sql_merge" -> 34)

  budget.foreach { case (name, expected) =>
    test(s"one $name execution keeps its job budget") {
      val fn = SparkEntry.queries(name)
      val out = java.nio.file.Files.createTempDirectory(s"${name}_jobs")
      def once(): Unit = {
        fn(spark, sfDir).write.mode("overwrite").parquet(s"$out/result")
        spark.catalog.clearCache()
      }
      val jobs =
        try { once(); jobsOf(once()) }
        finally graft.sources.TidyIO.deleteRecursively(out)
      info(s"$name ran $jobs Spark jobs")
      assert(jobs == expected, s"$name ran $jobs Spark jobs, budget $expected")
    }
  }
}
