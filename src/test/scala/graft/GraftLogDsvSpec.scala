package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftLogProvider, TableLog}

/** Pins the DataSource V2 SQL surface over the commit log (R78):
  * `spark.read.format("graftlog")` equality with the programmatic
  * read (including through deletion vectors and schema evolution),
  * `versionAsOf` time travel, and — the point of the connector —
  * that SQL WHERE clauses actually reach the manifest as FILE
  * pruning: zone ranges, bloom equality probes, IsNotNull on all-NULL
  * chunks, with the pushed filters visible in the executed plan and
  * every pruned result value-equal to the unpruned filter.
  */
class GraftLogDsvSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val p = s"/tmp/graftlog_dsv_${tag}_${ProcessHandle.current().pid()}"
    graft.sources.TidyIO.deleteRecursively(java.nio.file.Paths.get(p))
    p
  }

  private def mkDf(ks: Seq[Long]) =
    ks.map(k => (k, k * 10 + 1)).toDF("k", "cents")

  private def sqlRead(root: String, version: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graftlog").option("path", root)
    version.fold(r)(v => r.option("versionAsOf", v.toString)).load()
  }

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.select(col("k").cast("long"), col("cents").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("format read equals programmatic read; versionAsOf time-travels") {
    val root = freshRoot("basic")
    TableLog.commit(mkDf(0L until 400L), root, expr("k div 100"), 4, "overwrite")
    TableLog.commit(mkDf(400L until 500L), root, expr("k div 100"), 1, "append")
    assert(rows(sqlRead(root)) == rows(TableLog.read(spark, root)))
    assert(rows(sqlRead(root, Some(0L))) == rows(mkDf(0L until 400L)))
    // schema comes from the manifest DDL, not footer roulette
    assert(sqlRead(root).schema.fieldNames.toSeq == Seq("k", "cents"))
    intercept[Exception] { sqlRead(root, Some(9L)).collect() }
  }

  test("range WHERE prunes files through SQL; result equals unpruned filter") {
    val root = freshRoot("zones")
    // 8 files over keys 0..799, clustered by k div 100 → tight zones
    TableLog.commit(mkDf(0L until 800L), root, expr("k div 100"), 8, "overwrite")
    val df = sqlRead(root).filter(col("k").between(150L, 249L))
    val got = rows(df)
    val (selected, total) = GraftLogProvider.lastScanPlan
    assert(total == 8 && selected < total && selected >= 2,
      s"expected a strict zone prune, got $selected/$total")
    assert(got == rows(mkDf(150L to 249L)))
    // pushed filters are visible in the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("GraftLogScan"),
      s"no pushdown evidence in plan:\n$plan")
  }

  test("SQL over a temp view: aggregation + pushdown through spark.sql") {
    val root = freshRoot("sql")
    TableLog.commit(mkDf(0L until 800L), root, expr("k div 100"), 8, "overwrite")
    sqlRead(root).createOrReplaceTempView("glog_t")
    val q = spark.sql(
      "SELECT count(*) AS n, sum(cents) AS s FROM glog_t WHERE k >= 700")
    val n = q.collect()(0)
    assert(n.getLong(0) == 100L)
    assert(n.getLong(1) == (700L until 800L).map(_ * 10 + 1).sum)
    val (selected, total) = GraftLogProvider.lastScanPlan
    assert(total == 8 && selected == 1, s"expected 1/8 files, got $selected/$total")
    // the scan reports its prune where an operator looks: EXPLAIN
    val explained = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode)
    assert(explained.contains("files=1/8"), explained)
  }

  test("bloom equality probe prunes beyond zones on a scattered column") {
    val root = freshRoot("bloom")
    // cluster by cents-bucket so k is SCATTERED: every file's k-zone
    // spans nearly the whole domain → zones alone keep everything
    val df = (0L until 800L).map(k => (k, (k % 16) * 100 + k / 16))
      .toDF("k", "cents")
    TableLog.commit(df, root, expr("cents div 100"), numFiles = 16,
      mode = "overwrite", bloomCols = Seq("k"))
    val hit = sqlRead(root).filter(col("k") === 437L)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(437L))
    val (selected, total) = GraftLogProvider.lastScanPlan
    val (zoneOnly, _) = TableLog.planFiles(root, Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("k", 437L),
      org.apache.spark.sql.sources.LessThanOrEqual("k", 437L)))
    assert(selected < zoneOnly.size,
      s"bloom should out-prune zones: $selected vs ${zoneOnly.size}/$total")
    // guaranteed miss prunes to zero files
    assert(sqlRead(root).filter(col("k") === 100000L).count() == 0L)
    assert(GraftLogProvider.lastScanPlan._1 == 0)
  }

  test("deletion vectors and schema evolution flow through the SQL path") {
    val root = freshRoot("dv")
    TableLog.commit(mkDf(0L until 400L), root, expr("k div 100"), 4, "overwrite")
    // sparse MoR delete: keys ≡ 0 mod 50 deleted, ≡ 25 mod 50 updated
    val changes = spark.range(0, 400).toDF("k")
      .filter(pmod(col("k"), lit(25L)) === 0L)
      .select(col("k"), lit(1L).as("ver"),
        when(pmod(col("k"), lit(50L)) === 0L, "D").otherwise("U").as("op"),
        (col("k") * 10 + 2).as("new_cents"))
    TableLog.mergeMor(spark, root, changes, "k", expr("k div 100"), 2,
      valCol = "cents", newValCol = "new_cents")
    assert(rows(sqlRead(root)) == rows(TableLog.read(spark, root)))
    assert(!rows(sqlRead(root)).exists(_._1 % 50 == 0), "dv keys must be suppressed")
    // evolution: accreted column null-fills old files through SQL too
    TableLog.commit(
      Seq((1000L, 10001L, "new")).toDF("k", "cents", "tag"),
      root, expr("k div 100"), 1, "append", evolve = true)
    val head = sqlRead(root)
    assert(head.schema.fieldNames.toSeq == Seq("k", "cents", "tag"))
    assert(head.filter(col("tag").isNotNull).count() == 1L)
    // count(*) with full column pruning still works (empty projection)
    assert(sqlRead(root).count() == head.count())
  }

  test("changeFeed=true mounts the CDF window; equals the batch feed; options validated") {
    val root = freshRoot("cdf")
    TableLog.commit(mkDf(0L until 100L), root, expr("k div 25"), 4, "overwrite")
    TableLog.commit(mkDf(100L until 160L), root, expr("k div 25"), 2, "append")
    TableLog.commit(mkDf(0L until 40L), root, expr("k div 25"), 2, "overwrite")
    def cdf(from: Long, to: Long) =
      spark.read.format("graftlog").option("path", root)
        .option("changeFeed", "true")
        .option("startingVersion", from.toString)
        .option("endingVersion", to.toString).load()
    val viaSql = cdf(0L, 2L)
      .select("k", "cents", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    val viaApi = TableLog.readChangeFeed(spark, root, 0L, 2L)
      .select("k", "cents", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(viaSql == viaApi && viaSql.nonEmpty)
    // schema carries the CDF stamps; defaults cover the whole history
    assert(cdf(0L, 2L).schema.fieldNames.toSeq ==
      Seq("k", "cents", "_change_type", "_commit_version"))
    val defaults = spark.read.format("graftlog").option("path", root)
      .option("changeFeed", "true").load()
    assert(defaults.count() == cdf(0L, 2L).count())
    // column pruning composes; row-level filters apply above the feed
    assert(cdf(2L, 2L).filter(col("_change_type") === "insert")
      .select("k").distinct().count() == 40L)
    // a window beyond head is loud (readChangeFeed's contract)
    intercept[Exception] { cdf(0L, 9L).count() }
  }

  test("string WHERE prunes files through SQL: equality, range, IN; values stay exact") {
    import graft.sources.GraftLogProvider
    val root = freshRoot("strpush")
    // first bytes d/a/b/c are distinct mod 4: every slot fills, one
    // source per file, tight single-value string zones
    val docs = (0L until 400L).map { i =>
      val src = Seq("docs", "arxiv", "blog", "crawl")((i % 4).toInt)
      (i, src, i * 10 + 1)
    }.toDF("k", "source", "cents")
    TableLog.commit(docs, root, ascii(substring(col("source"), 1, 1)), 4,
      "overwrite")
    def run(where: org.apache.spark.sql.Column): (Long, (Int, Int)) = {
      val df = spark.read.format("graftlog").option("path", root).load()
        .filter(where)
      val n = df.count()
      (n, GraftLogProvider.lastScanPlan)
    }
    // equality: one source lives in one file
    val (nEq, (selEq, totEq)) = run(col("source") === "blog")
    assert(nEq == 100L && totEq == 4 && selEq == 1, s"$nEq $selEq/$totEq")
    // range: arxiv sorts below, docs above — both provably out
    val (nR, (selR, totR)) =
      run(col("source") >= "blog" && col("source") <= "crawl")
    assert(nR == 200L && totR == 4 && selR == 2, s"$nR $selR/$totR")
    // IN: two single-value files
    val (nIn, (selIn, totIn)) = run(col("source").isin("arxiv", "docs"))
    assert(nIn == 200L && totIn == 4 && selIn == 2, s"$nIn $selIn/$totIn")
    // strict bound: > 'crawl' keeps only the docs file (exact on an
    // un-truncated max)
    val (nGt, (selGt, _)) = run(col("source") > "crawl")
    assert(nGt == 100L && selGt == 1, s"$nGt $selGt")
    // pushed filters are visible in the plan (file-prune evidence)
    val planned = spark.read.format("graftlog").option("path", root).load()
      .filter(col("source") === "docs")
    assert(planned.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .contains("PushedFilters"), "string filters must surface as pushed")
    assert(planned.count() == 100L)
  }

  test("SQL write surface: append/overwrite land as commits, drift and time-travel writes loud") {
    val root = freshRoot("sqlwrite")
    TableLog.commit(mkDf(0L until 50L), root, expr("k div 25"), 2, "overwrite")
    // SaveMode.Append through the connector → a new version via the
    // ONE commit path (schema gate, zones, claim protocol included)
    mkDf(50L until 80L).write.format("graftlog").option("path", root)
      .option("layout", "k div 25").option("numFiles", "2")
      .mode("append").save()
    assert(TableLog.currentVersion(root) == 1L)
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 80L)))
    // the SQL-written version carries zones (footer stats ran)
    assert(TableLog.readManifest(root, 1L).files.exists(_.zMin.contains("k")))
    // by-name resolution: reordered columns still land correctly
    mkDf(80L until 90L).select(col("cents"), col("k"))
      .write.format("graftlog").option("path", root)
      .option("layout", "k div 25").mode("append").save()
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 90L)))
    // schema drift rejects LOUDLY through the SQL path, store intact
    val before = rows(TableLog.read(spark, root))
    intercept[Exception] {
      mkDf(90L until 95L).withColumnRenamed("cents", "price")
        .write.format("graftlog").option("path", root)
        .mode("append").save()
    }
    assert(TableLog.currentVersion(root) == 2L &&
      rows(TableLog.read(spark, root)) == before)
    // SaveMode.Overwrite resets the snapshot as a new version;
    // history stays readable AS OF
    mkDf(1000L until 1020L).write.format("graftlog").option("path", root)
      .option("layout", "k div 25").mode("overwrite").save()
    assert(TableLog.currentVersion(root) == 3L)
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(1000L until 1020L)))
    assert(rows(TableLog.read(spark, root, asOf = Some(2L))) == before)
    // writing to a time-traveled relation is loud (Delta's rule)
    intercept[Exception] {
      mkDf(0L until 5L).write.format("graftlog").option("path", root)
        .option("versionAsOf", "1").mode("append").save()
    }
    assert(TableLog.currentVersion(root) == 3L)
  }

  test("CDF timestamp windows: starting/endingTimestamp bracket exactly the in-range commits") {
    val root = freshRoot("cdfts")
    TableLog.commit(mkDf(0L until 30L), root, expr("k div 25"), 2, "overwrite",
      commitTs = Some(1000L))
    TableLog.commit(mkDf(30L until 50L), root, expr("k div 25"), 1, "append",
      commitTs = Some(2000L))
    TableLog.commit(mkDf(50L until 90L), root, expr("k div 25"), 1, "append",
      commitTs = Some(3000L))
    def cdfTs(opts: (String, String)*) = {
      val r = spark.read.format("graftlog").option("path", root)
        .option("changeFeed", "true")
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
    }
    // [1500, 2500] brackets exactly the t=2000 commit (v1)
    val mid = cdfTs("startingTimestamp" -> "1500",
      "endingTimestamp" -> "2500")
    assert(mid.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(mid.count() == 20L)
    // open-ended start: everything at or after t=2000
    val tail = cdfTs("startingTimestamp" -> "2000")
    assert(tail.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // timestamp and version forms of the same bound are exclusive
    intercept[Exception] {
      cdfTs("startingTimestamp" -> "1500", "startingVersion" -> "1").count()
    }
    intercept[Exception] {
      cdfTs("endingTimestamp" -> "2500", "endingVersion" -> "1").count()
    }
  }

  test("DSv2 statistics: post-prune rows/bytes reach the planner, filtered dim auto-broadcasts") {
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    val root = freshRoot("stats")
    TableLog.commit(mkDf(0L until 800L), root, expr("k div 100"), 8, "overwrite")
    // the scan reports exact rows + real on-disk bytes (post-prune);
    // Spark's V1ScanWrapper hides the trait, so read them the way the
    // join rule does — through the wrapper
    def scanStats(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      df.queryExecution.optimizedPlan.collectLeaves().collectFirst {
        case r: DataSourceV2ScanRelation =>
          val s = r.scan.asInstanceOf[V1ScanWrapper]
            .v1Scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
          (s.numRows().getAsLong, s.sizeInBytes().getAsLong)
      }.get
    val (fullRows, fullBytes) = scanStats(sqlRead(root))
    assert(fullRows == 800L && fullBytes > 0L && fullBytes < (10L << 20),
      s"$fullRows/$fullBytes")
    // a pruning WHERE shrinks the REPORTED stats to the survivors
    val pruned = sqlRead(root).filter(col("k") < 100L)
    val (prRows, prBytes) = scanStats(pruned)
    assert(prRows == 100L && prBytes < fullBytes, s"$prRows/$prBytes")
    // the planner USES them: with a threshold only the pruned relation
    // fits under, the join broadcasts WITHOUT any hint — the fact side
    // (parquet, far above the threshold) cannot be the build side
    val factPath = freshRoot("stats_fact")
    mkDf(0L until 50000L).withColumn("k", pmod(col("k"), lit(800L)))
      .write.mode("overwrite").parquet(factPath)
    val fact = spark.read.parquet(factPath)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
    try {
      val dim = pruned.select(col("k"), col("cents").as("dim_cents"))
      val j = fact.join(dim, Seq("k")).groupBy().sum("cents")
      assert(j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        j.queryExecution.executedPlan.toString.take(2000))
      // and the values are right (stats change plans, never results)
      assert(j.collect()(0).getLong(0) ==
        (0L until 50000L).filter(_ % 800L < 100L).map(_ * 10 + 1).sum)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("NDV→CBO bridge: ANALYZE column statistics reach plan-level attributeStats") {
    val root = freshRoot("cbo")
    TableLog.commit(mkDf(0L until 1000L)
      .withColumn("cat", pmod(col("k"), lit(7L))), root,
      expr("k div 250"), 4, "overwrite")
    def attrStats(df: org.apache.spark.sql.DataFrame) = {
      // force CBO's stats visitor (plan-level config read)
      val prev = spark.conf.get("spark.sql.cbo.enabled")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try df.queryExecution.optimizedPlan.stats.attributeStats
      finally spark.conf.set("spark.sql.cbo.enabled", prev)
    }
    // UN-analyzed: the scan reports rows/bytes but no column stats
    val before = attrStats(sqlRead(root))
    assert(before.isEmpty || before.forall(_._2.distinctCount.isEmpty),
      s"no artifact → no NDVs, got $before")
    // ANALYZE, then the SAME SQL read carries distinctCount/min/max —
    // the pre-CBO wrapper swap + columnStats forwarding end to end
    TableLog.analyze(spark, root, Seq("k", "cat"))
    val after = attrStats(sqlRead(root))
    val kStat = after.find(_._1.name == "k").map(_._2)
    val catStat = after.find(_._1.name == "cat").map(_._2)
    assert(kStat.exists(_.distinctCount.exists(_.toLong == 1000L)),
      s"k NDV must reach the plan: $after")
    assert(catStat.exists(_.distinctCount.exists(_.toLong == 7L)),
      s"cat NDV must reach the plan: $after")
    assert(kStat.exists(s => s.min.contains(0L) && s.max.contains(999L)),
      s"k min/max must reach the plan: $kStat")
    // values stay values: the analyzed relation still reads exactly
    assert(sqlRead(root).agg(sum("cents")).head.getLong(0) ==
      (0L until 1000L).map(_ * 10 + 1).sum)
  }

  test("plan-time pin: a commit between schema inference and table construction is invisible") {
    // the round-12 TOCTOU edge: inferSchema and getTable each resolved
    // the head independently, so a commit landing in between bound
    // h1's schema to h2's data. The provider now resolves ONCE per
    // load; replay the race at the connector API level.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val root = freshRoot("pin")
    TableLog.commit(mkDf(0L until 50L), root, expr("k div 25"), 2, "overwrite")
    val props = new java.util.HashMap[String, String](); props.put("path", root)
    val opts = new CaseInsensitiveStringMap(props)
    val p = new GraftLogProvider()
    val schema = p.inferSchema(opts)
    // concurrent writer lands a schema-EVOLVING commit in the gap
    TableLog.commit(mkDf(50L until 60L).withColumn("extra", lit(1L)),
      root, expr("k div 25"), 1, "append", evolve = true)
    val table = p.getTable(schema, Array.empty, props)
    // the table must still pin the PRE-commit head: old schema, old data
    assert(table.name().endsWith("VERSION AS OF 0"),
      s"expected the pinned v0, got ${table.name()}")
    assert(schema.fieldNames.toSeq == Seq("k", "cents"))
    // same rule for the CDF window's default endingVersion
    val cprops = new java.util.HashMap[String, String]()
    cprops.put("path", root); cprops.put("changeFeed", "true")
    val copts = new CaseInsensitiveStringMap(cprops)
    val p2 = new GraftLogProvider()
    val cschema = p2.inferSchema(copts)
    TableLog.commit(mkDf(60L until 70L).withColumn("extra", lit(1L)),
      root, expr("k div 25"), 1, "append", evolve = true)
    val ctable = p2.getTable(cschema, Array.empty, cprops)
    assert(ctable.name().endsWith("CHANGES FROM 0 TO 1"),
      s"expected the pinned [0,1] window, got ${ctable.name()}")
    // a fresh load AFTER the commits sees the new head normally
    assert(sqlRead(root).schema.fieldNames.contains("extra"))
  }
}
