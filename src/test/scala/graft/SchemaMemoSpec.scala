package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Graft.table` memoizes inferred parquet schemas; a table rewritten
  * at the same path with a different schema must not be read with the
  * stale one.
  */
class SchemaMemoSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("a parquet table rewritten at the same path is read with its new schema") {
    val dir = java.nio.file.Files.createTempDirectory("schemamemo").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    assert(Graft.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "name"))
    Seq((2L, 3.5, true)).toDF("id", "score", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Graft.table(spark, dir, "t")
    assert(t.schema.fieldNames.toSeq == Seq("id", "score", "flag"))
    assert(t.collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq ==
      Seq((2L, 3.5, true)))
  }
}
