package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** S33/round-15 missing-item 2 — the table-NAME streaming surface:
  * `spark.readStream.table("graft.db.t")` (plain insert replay and
  * `readChangeFeed=true` CDF mode, reader options passed through),
  * `writeStream.format("graftlog").toTable(...)`, and the
  * `table_changes(table, from[, to])` TVF. Pins: plain-stream
  * semantics (initial snapshot vs startingVersion replay, layout-only
  * commits silent, change commits LOUD unless skipChangeCommits),
  * exactly-once sink identity through toTable, option passthrough by
  * name, and the TVF's name/path resolution + loud failures.
  */
class GraftTableStreamSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import graft.sources.{TableLog, TidyIO}
  import graft.streaming.StreamRun

  private def freshRoot(tag: String): String = {
    val p = s"/tmp/grafttstream_${tag}_${ProcessHandle.current().pid()}"
    TidyIO.deleteRecursively(java.nio.file.Paths.get(p))
    p
  }
  private def mkDf(ks: Seq[Long]) = ks.map(k => (k, k * 10 + 1)).toDF("k", "cents")
  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("k", "cents").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("readStream.table: per-version replay, option passthrough, layout-only silent") {
    spark.sql("DROP TABLE IF EXISTS graft.tsdb.t_plain")
    spark.sql("CREATE TABLE graft.tsdb.t_plain (k BIGINT, cents BIGINT)")
    spark.sql("INSERT INTO graft.tsdb.t_plain SELECT * FROM VALUES (0L, 1L), (1L, 11L) AS v(k, cents)")
    spark.sql("INSERT INTO graft.tsdb.t_plain SELECT * FROM VALUES (2L, 21L) AS v(k, cents)")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val root = cat.tableLocation(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("tsdb"), "t_plain"))
    // a layout-only compact commit must stream NOTHING (dataChange=false)
    spark.sql(s"CALL graft.system.compact(path => '$root', order_col => 'k', target_rows => 1000000, small_rows => 9223372036854775807)")
    spark.sql("INSERT INTO graft.tsdb.t_plain SELECT * FROM VALUES (3L, 31L) AS v(k, cents)")
    // startingVersion=0 + maxVersionsPerBatch=1: paced per-version replay
    val src = spark.readStream
      .option("startingVersion", "0").option("maxVersionsPerBatch", "1")
      .table("graft.tsdb.t_plain")
    val out = StreamRun.run(spark, src, StreamRun.Sink.Memory(OutputMode.Append())).table.get
    assert(rows(out) == Set((0L, 1L), (1L, 11L), (2L, 21L), (3L, 31L)))
    spark.sql("DROP TABLE graft.tsdb.t_plain")
  }

  test("readStream.table: initial-snapshot mode then tail; change commit is LOUD; skipChangeCommits skips") {
    val root = freshRoot("snap")
    TableLog.commit(mkDf(0L until 20L), root, expr("k div 10"), 2, "overwrite")
    TableLog.commit(mkDf(20L until 25L), root, expr("k div 10"), 1, "append")
    // no startingVersion: ONE snapshot batch at the stream-start head
    val snap = StreamRun.run(spark,
      spark.readStream.format("graftlog").option("path", root).load(),
      StreamRun.Sink.Memory(OutputMode.Append())).table.get
    assert(rows(snap) == rows(TableLog.read(spark, root)))
    // a merge-on-read delete makes the next window a change commit:
    // plain stream fails LOUDLY...
    TableLog.mergeMor(spark, root,
      Seq((3L, 1L, "D", 0L)).toDF("k", "ver", "op", "new_cents"),
      "k", expr("k div 10"), 1, valCol = "cents", newValCol = "new_cents")
    TableLog.commit(mkDf(25L until 27L), root, expr("k div 10"), 1, "append")
    val e = intercept[Exception] {
      StreamRun.run(spark,
        spark.readStream.format("graftlog").option("path", root)
          .option("startingVersion", "0").load(),
        StreamRun.Sink.Memory(OutputMode.Append()))
    }
    assert(e.getMessage != null && (e.getMessage.contains("suppresses rows")
      || e.getCause != null), s"unexpected: ${e.getMessage}")
    // ...and skipChangeCommits replays everything EXCEPT the merge
    val skipped = StreamRun.run(spark,
      spark.readStream.format("graftlog").option("path", root)
        .option("startingVersion", "0").option("skipChangeCommits", "true")
        .load(),
      StreamRun.Sink.Memory(OutputMode.Append())).table.get
    assert(rows(skipped) == rows(mkDf(0L until 27L).toDF("k", "cents")))
  }

  test("readStream.table with readChangeFeed=true: CDF stamps by table name") {
    spark.sql("DROP TABLE IF EXISTS graft.tsdb.t_cdf")
    spark.sql("CREATE TABLE graft.tsdb.t_cdf (k BIGINT, cents BIGINT)")
    spark.sql("INSERT INTO graft.tsdb.t_cdf SELECT * FROM VALUES (1L, 10L), (2L, 20L) AS v(k, cents)")
    spark.sql("INSERT INTO graft.tsdb.t_cdf SELECT * FROM VALUES (3L, 30L) AS v(k, cents)")
    val feed = spark.readStream.option("readChangeFeed", "true")
      .option("startingVersion", "1").table("graft.tsdb.t_cdf")
    val out = StreamRun.run(spark, feed, StreamRun.Sink.Memory(OutputMode.Append())).table.get
    val got = out.select("k", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "insert", 1L), (2L, "insert", 1L), (3L, "insert", 2L)))
    spark.sql("DROP TABLE graft.tsdb.t_cdf")
  }

  test("writeStream.toTable: creates/loads the named table, exactly-once sink identity") {
    spark.sql("DROP TABLE IF EXISTS graft.tsdb.t_src")
    spark.sql("DROP TABLE IF EXISTS graft.tsdb.t_dst")
    spark.sql("CREATE TABLE graft.tsdb.t_src (k BIGINT, cents BIGINT)")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graft.tsdb.t_src SELECT * FROM VALUES " +
        s"(${i}L, ${i * 10}L) AS v(k, cents)")
    }
    spark.sql("CREATE TABLE graft.tsdb.t_dst (k BIGINT, cents BIGINT)")
    val src = spark.readStream.option("startingVersion", "0")
      .option("maxVersionsPerBatch", "1").table("graft.tsdb.t_src")
    StreamRun.run(spark, src, StreamRun.Sink.Table("graft.tsdb.t_dst",
      Map("layout" -> "k", "appId" -> "tsdst")))
    assert(rows(spark.table("graft.tsdb.t_dst")) ==
      rows(spark.table("graft.tsdb.t_src")))
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val dstRoot = cat.tableLocation(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("tsdb"), "t_dst"))
    // replay of batch 0 under the same appId must no-op (txn guard)
    val headBefore = TableLog.currentVersion(dstRoot)
    TableLog.commit(Seq((0L, 0L)).toDF("k", "cents"), dstRoot,
      expr("k"), 1, "append", txnTag = Some("tsdst:0"))
    assert(TableLog.currentVersion(dstRoot) == headBefore,
      "replayed batch must be dropped by the high-water guard")
    spark.sql("DROP TABLE graft.tsdb.t_src")
    spark.sql("DROP TABLE graft.tsdb.t_dst")
  }

  test("table_changes TVF: by name and by path, bounded and head-defaulted, loud unknowns") {
    spark.sql("DROP TABLE IF EXISTS graft.tsdb.t_tvf")
    spark.sql("CREATE TABLE graft.tsdb.t_tvf (k BIGINT, cents BIGINT)")
    spark.sql("INSERT INTO graft.tsdb.t_tvf SELECT * FROM VALUES (1L, 10L) AS v(k, cents)")
    spark.sql("INSERT INTO graft.tsdb.t_tvf SELECT * FROM VALUES (2L, 20L) AS v(k, cents)")
    spark.sql("INSERT INTO graft.tsdb.t_tvf SELECT * FROM VALUES (3L, 30L) AS v(k, cents)")
    val byName = spark.sql(
      "SELECT k, _change_type, _commit_version FROM table_changes('graft.tsdb.t_tvf', 1, 2)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(byName == Set((1L, "insert", 1L), (2L, "insert", 2L)))
    // 2-arg form defaults `to` to the head
    val toHead = spark.sql(
      "SELECT count(*) AS n FROM table_changes('graft.tsdb.t_tvf', 2)")
      .head().getLong(0)
    assert(toHead == 2L)
    // raw path addressing hits the same read path
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val root = cat.tableLocation(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("tsdb"), "t_tvf"))
    val byPath = spark.sql(
      s"SELECT count(*) AS n FROM table_changes('$root', 0, 3)").head().getLong(0)
    assert(byPath == 3L)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('graft.tsdb.nope', 0, 1)").collect() }
    assert(e.getMessage.contains("no committed table"), e.getMessage)
    spark.sql("DROP TABLE graft.tsdb.t_tvf")
  }
}
