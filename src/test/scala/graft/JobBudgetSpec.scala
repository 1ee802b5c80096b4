package graft

import org.scalatest.funsuite.AnyFunSuite

/** Exact Spark job counts per execution of each query in `budget`, at
  * sf0.001 on the shared session.
  * An execution builds the query (its eager commits, MERGEs and SQL
  * writes) and emits the result as parquet, as the benchmark does; the
  * first execution pays schema inference and first-use costs and is
  * left out. Job counts are deterministic where wall time is not, so
  * a job added to a commit or a scan fails here first. A change that
  * moves a count edits its table and says why.
  */
abstract class JobBudgetSuite(budget: Seq[(String, Int)]) extends AnyFunSuite {
  import SharedSpark.{jobsOf, sfDir, spark}

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

/** The `dml_stream` benchmark workload and the two other MERGE queries
  * (q65, q92). Each data commit runs one job (the write, whose tasks
  * return the files' rows and zones).
  */
class JobBudgetSpec extends JobBudgetSuite(Seq(
  "q84_sql_write" -> 8,
  "q95_catalog_tables" -> 11,
  "q97_merge_general" -> 24,
  "q83_string_zones" -> 5,
  "q65_table_log" -> 21,
  "q92_sql_merge" -> 33,
  "st03_session_window" -> 4,
  "st07_interval_join" -> 5))

/** The `fcs_vector` benchmark workload: per-row operators with no
  * store or stream, so a store change must leave these counts alone.
  */
class FcsJobBudgetSpec extends JobBudgetSuite(Seq(
  "f01_arcsinh" -> 3,
  "f03_compensate" -> 3,
  "f08_fcs_roundtrip" -> 5,
  "f10_gate_tree" -> 4,
  "f12_robust_stats" -> 6,
  "f20_ellipse_gate" -> 6,
  "s17_ivfadc_serve" -> 17,
  "d13_edit_pairs" -> 6,
  "t02_quality" -> 3,
  "t21_bpe" -> 8))
