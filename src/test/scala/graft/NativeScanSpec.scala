package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.{Cross, ExistenceJoin, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join}
import org.apache.spark.sql.execution.{DeserializeToObjectExec, FileSourceScanExec, QueryExecution, RDDScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TableLog

/** The commit log's reads are one native parquet scan: a SQL read, a
  * change-feed read, a SQL MERGE and a library read all run as a
  * `FileSourceScanExec` over the manifest's `ManifestFileIndex`, with
  * no row-based source scan and no `Row` round trip
  * (`DeserializeToObject`). Also pins the hint hygiene of SQL DML: no
  * join the statements plan carries a BROADCAST hint on a side its
  * join type cannot build (Spark drops such a hint with a warning).
  */
class NativeScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SharedSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val p = s"/tmp/graft_native_${tag}_${ProcessHandle.current().pid()}"
    graft.sources.TidyIO.deleteRecursively(java.nio.file.Paths.get(p))
    p
  }

  /** The query executions that `body` runs, reported on success. */
  private def executions(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  private def nodes(qes: Seq[QueryExecution]): Seq[SparkPlan] =
    qes.flatMap(qe => collectWithSubqueries(qe.executedPlan) { case p => p })

  /** Every parquet scan of a store table is a file scan over the
    * manifest, and there is at least one; no row-based source scan,
    * and no `Row` round trip over a store scan. A read has no RDD scan
    * and no `Row` round trip at all; a DML statement (`dml = true`)
    * also plans over its own materialized key blocks (`Materialize`,
    * "Scan ExistingRDD"), which the key prune deserializes.
    */
  private def assertNative(what: String, qes: Seq[QueryExecution],
                           dml: Boolean = false): Unit = {
    val ns = nodes(qes)
    val fileScans = ns.collect { case f: FileSourceScanExec => f }
    val store = fileScans.filter(_.relation.location.getClass.getSimpleName ==
      "ManifestFileIndex")
    assert(store.nonEmpty, s"$what: no ManifestFileIndex scan in\n" +
      qes.map(_.executedPlan.treeString).mkString("\n"))
    assert(fileScans.forall(_.relation.location.getClass.getSimpleName ==
      "ManifestFileIndex"), s"$what: a store scan listed its files\n" +
      fileScans.map(_.relation.location).mkString("\n"))
    def overStore(n: SparkPlan) = collect(n) {
      case f: FileSourceScanExec if store.contains(f) => f }.nonEmpty
    val rowBased = ns.filter {
      case _: RowDataSourceScanExec => true
      case d: DeserializeToObjectExec => !dml || overStore(d)
      case _: RDDScanExec => !dml
      case _ => false
    }
    assert(rowBased.isEmpty, s"$what: row-based nodes ${rowBased.map(_.nodeName)}")
  }

  private def mkDf(ks: Seq[Long]) = ks.map(k => (k, k * 10 + 1)).toDF("k", "cents")

  test("SQL, change-feed, MERGE and library reads plan one parquet scan over the manifest") {
    val root = freshRoot("reads")
    TableLog.commit(mkDf(0L until 400L), root, expr("k div 100"), 4, "overwrite")
    TableLog.commit(mkDf(400L until 500L), root, expr("k div 100"), 1, "append")
    def sqlRead = spark.read.format("graftlog").option("path", root).load()
    assertNative("SQL read", executions {
      assert(sqlRead.filter(col("k") >= 150L).agg(sum("cents")).head().getLong(0) ==
        (150L until 500L).map(_ * 10 + 1).sum)
    })
    assertNative("CDF read", executions {
      assert(spark.read.format("graftlog").option("path", root)
        .option("changeFeed", "true").option("startingVersion", "1")
        .load().count() == 100L)
    })
    assertNative("library read", executions {
      assert(TableLog.read(spark, root).count() == 500L)
    })
    sqlRead.createOrReplaceTempView("native_t")
    Seq((5L, 7L), (1000L, 9L)).toDF("k", "v").createOrReplaceTempView("native_s")
    assertNative("SQL MERGE", executions {
      spark.sql(
        """MERGE INTO native_t t USING native_s s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET cents = s.v
          |WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.v)
          |""".stripMargin)
    }, dml = true)
    assert(TableLog.read(spark, root).filter(col("k").isin(5L, 1000L))
      .as[(Long, Long)].collect().toSet == Set((5L, 7L), (1000L, 9L)))
  }

  test("SQL snapshot and change-feed reads over side-file deletion vectors match the library") {
    val root = freshRoot("dvside")
    // 5% of each file deleted per merge with dvInlineMax = 8: the
    // vectors ride side-files, and the second merge grows them
    TableLog.commit(mkDf(0L until 8000L), root, expr("k div 2000"), 4, "overwrite")
    Seq(0L until 8000L by 20L, 10L until 8000L by 40L).zipWithIndex.foreach { case (ks, i) =>
      TableLog.mergeMor(spark, root,
        ks.map(k => (k, i + 1L, "D", 0L)).toDF("k", "ver", "op", "new_price"),
        "k", expr("k div 2000"), 2, valCol = "cents", dvInlineMax = 8)
    }
    assert(TableLog.readManifest(root, 2L).files.forall(_.dvRef.contains("k")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "cents").as[(Long, Long)].collect().toSet
    val sqlRead = spark.read.format("graftlog").option("path", root).load()
    var sqlPairs = Set.empty[(Long, Long)]
    val qes = executions { sqlPairs = pairs(sqlRead) }
    assert(sqlPairs == pairs(TableLog.read(spark, root)) && sqlPairs.size == 7400)
    // only the data-file relation carries the table's statistics; each
    // side-file scan keeps its own size, so the side frame broadcasts
    val tagged = qes.flatMap(_.optimizedPlan.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          h: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, Some(_), _, _) =>
        h.location.inputFiles.toSeq
    })
    assert(tagged.nonEmpty && tagged.flatten.forall(!_.contains("_dv/")),
      s"relations with the table's statistics: $tagged")
    // the read's own broadcast hint reaches the anti join
    assert(qes.exists(_.optimizedPlan.exists {
      case j: Join => j.joinType == LeftAnti && j.hint.rightHint.exists(_.strategy.contains(BROADCAST))
      case _ => false
    }), "the side-file anti join lost its BROADCAST hint")
    assert(nodes(qes).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "the side-file anti join must broadcast its side")
    // the v2 feed diffs the grown side-files (EXCEPT ALL)
    def feed(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "cents", "_change_type").as[(Long, Long, String)].collect().toSet
    val sqlFeed = spark.read.format("graftlog").option("path", root)
      .option("changeFeed", "true").option("startingVersion", "2").load()
    val libFeed = TableLog.readChangeFeed(spark, root, 2L, 2L)
    assert(feed(sqlFeed) == feed(libFeed))
    assert(feed(sqlFeed).count(_._3 == "delete") == 200)
  }

  test("the V1 bridge and its stats and hint rules are gone; the store reads resolve no paths") {
    def src(p: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8)
    val main = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).map(p => src(p.toString))
      .mkString("\n")
    Seq("GraftLogRelation", "GraftLogCdfRelation", "V1Scan", "V1ScanStatsForwardRule",
        "StatsForwardingV1ScanWrapper", "V1ScanStatsJoinRule").foreach { name =>
      assert(!s"\\b$name\\b".r.findFirstIn(main).isDefined, s"$name is still in src/main")
    }
    // the body of each store read, up to the next member
    val tableLog = src("src/main/scala/graft/sources/TableLog.scala")
    Seq("def readFiles(", "def compact(").foreach { head =>
      val from = tableLog.indexOf(head)
      assert(from >= 0, head)
      val body = tableLog.substring(from, tableLog.indexOf("\n  /**", from))
      assert(!body.contains("spark.read"), s"$head calls spark.read")
    }
  }

  /** BROADCAST hints a join type cannot honour: Spark builds the left
    * side only for inner, cross and right-outer joins, the right side
    * only for inner, cross, left-outer, semi, anti and existence joins.
    */
  private def misplacedHints(qes: Seq[QueryExecution]): Seq[String] = {
    def broadcast(h: Option[HintInfo]) = h.exists(_.strategy.contains(BROADCAST))
    def buildsLeft(t: JoinType) = t match {
      case Inner | Cross | RightOuter => true
      case _ => false
    }
    def buildsRight(t: JoinType) = t match {
      case Inner | Cross | LeftOuter | LeftSemi | LeftAnti | ExistenceJoin(_) => true
      case _ => false
    }
    qes.flatMap(_.optimizedPlan.collectWithSubqueries {
      case j: Join if (broadcast(j.hint.leftHint) && !buildsLeft(j.joinType)) ||
          (broadcast(j.hint.rightHint) && !buildsRight(j.joinType)) =>
        s"${j.joinType} ${j.hint}"
    })
  }

  test("SQL DELETE and a MERGE on a partial-key ON plan no unbuildable BROADCAST hint") {
    val root = freshRoot("hints")
    val base = (0L until 400L).map(i => (i % 40, i, i * 10)).toDF("ck", "ok", "price")
    TableLog.commit(base, root, expr("ok div 100"), 4, "overwrite")
    spark.read.format("graftlog").option("path", root)
      .option("primaryKey", "ck,ok").load().createOrReplaceTempView("hint_t")
    // matched rows only under the ON's price bound, none the DELETE
    // removed: a NOT MATCHED source row must be a new key
    base.filter(col("ok") % 7 === 0L && col("ok") % 5 =!= 0L && col("ok") < 200L)
      .select(col("ck"), col("ok"), (col("price") + 1L).as("new_price"))
      .unionByName(Seq((1L, -1L, 5L)).toDF("ck", "ok", "new_price"))
      .createOrReplaceTempView("hint_s")
    val qes = executions {
      spark.sql("DELETE FROM hint_t WHERE ok % 5 = 0")
      // like q97's: the ON carries a non-key conjunct
      spark.sql(
        """MERGE INTO hint_t t USING hint_s s
          |ON t.ck = s.ck AND t.ok = s.ok AND t.price < 2000
          |WHEN MATCHED THEN UPDATE SET price = s.new_price
          |WHEN NOT MATCHED THEN INSERT (ck, ok, price) VALUES (s.ck, s.ok, s.new_price)
          |""".stripMargin)
    }
    val bad = misplacedHints(qes)
    assert(bad.isEmpty, s"joins with a BROADCAST hint their type cannot build: $bad")
    val after = TableLog.read(spark, root)
    assert(after.filter(col("ok") % 5 === 0L && col("ok") >= 0L).count() == 0L)
    assert(after.filter(col("ok") === -1L).count() == 1L)
    assert(after.filter(col("ok") === 7L).select("price").as[Long].head() == 71L)
  }
}
