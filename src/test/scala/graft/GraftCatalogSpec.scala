package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** R98 — the SQL maintenance surface: Spark 4 stored procedures
  * (`CALL graft.system.<proc>(...)`) over the registered
  * ProcedureCatalog, each delegating to the SAME TableLog primitive
  * its programmatic twin uses. Pins the end-to-end CALL path for the
  * operational verbs (compact, vacuum incl. dry-run, analyze,
  * restore, history, rename/drop column, clone, sync), value
  * equality with the API, and the loud unknown-procedure error.
  */
class GraftCatalogSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import graft.sources.TableLog

  private def freshRoot(tag: String): String = {
    val p = s"/tmp/graftcat_${tag}_${ProcessHandle.current().pid()}"
    graft.sources.TidyIO.deleteRecursively(java.nio.file.Paths.get(p))
    p
  }
  private def mkDf(ks: Seq[Long]) = ks.map(k => (k, k * 10 + 1)).toDF("k", "cents")
  private def rows(root: String): Set[(Long, Long)] =
    TableLog.read(spark, root).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("CALL compact/vacuum/history: the maintenance loop end to end through SQL") {
    val root = freshRoot("maint")
    TableLog.commit(mkDf(0L until 100L), root, expr("k div 25"), 4, "overwrite")
    TableLog.commit(mkDf(100L until 120L), root, expr("k div 25"), 2, "append")
    // compact through CALL: one new version, content preserved
    val v = spark.sql(
      s"CALL graft.system.compact(path => '$root', order_col => 'k')")
      .head().getLong(0)
    assert(v == 2L && rows(root) == mkDf(0L until 120L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // dry-run vacuum reports without deleting; real vacuum matches it
    val dry = spark.sql(
      s"CALL graft.system.vacuum(path => '$root', keep_from => 2, dry_run => true)")
      .collect().map(_.getString(0)).toSeq
    assert(dry.nonEmpty)
    assert(TableLog.read(spark, root, asOf = Some(0L)).count() == 100L,
      "dry run must not delete")
    val real = spark.sql(
      s"CALL graft.system.vacuum(path => '$root', keep_from => 2)")
      .collect().map(_.getString(0)).toSeq
    assert(real == dry, s"real vacuum must match the dry run: $dry vs $real")
    // history through CALL equals the API frame
    val hist = spark.sql(s"CALL graft.system.history(path => '$root')")
      .orderBy("version").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.map(_._1).toSeq == Seq(2L) && hist.head._2 == "compact")
  }

  test("CALL restore/rename_column/drop_column/analyze: schema + state verbs") {
    val root = freshRoot("schema")
    TableLog.commit(mkDf(0L until 50L), root, expr("k div 25"), 2, "overwrite")
    spark.sql(s"CALL graft.system.rename_column(path => '$root', " +
      "from => 'cents', to => 'price')")
    assert(TableLog.read(spark, root).columns.toSeq == Seq("k", "price"))
    val art = spark.sql(
      s"CALL graft.system.analyze(path => '$root', columns => 'k,price')")
      .head().getString(0)
    assert(art.contains("_stats"))
    assert(TableLog.statsRowCount(spark, root).contains(50L))
    spark.sql(s"CALL graft.system.drop_column(path => '$root', column => 'price')")
    assert(TableLog.read(spark, root).columns.toSeq == Seq("k"))
    // restore below both schema changes brings the old shape back
    val v = spark.sql(
      s"CALL graft.system.restore(path => '$root', version => 0)")
      .head().getLong(0)
    assert(v == 3L && TableLog.read(spark, root).columns.toSeq == Seq("k", "cents"))
  }

  test("named tables: CREATE/INSERT/SELECT/DML/ALTER/RENAME/DROP through the catalog") {
    val ns = s"db${ProcessHandle.current().pid()}"
    spark.sql(s"DROP TABLE IF EXISTS graft.$ns.orders_t")
    // DDL-first create: empty v0 under the declared schema
    spark.sql(s"CREATE TABLE graft.$ns.orders_t (k BIGINT, cents BIGINT)")
    assert(spark.sql(s"SELECT * FROM graft.$ns.orders_t").count() == 0L)
    // INSERT through the catalog hits the one write path (schema gate)
    spark.sql(s"INSERT INTO graft.$ns.orders_t " +
      "SELECT id AS k, id * 2 + 1 AS cents FROM range(100)")
    assert(spark.sql(s"SELECT sum(cents) FROM graft.$ns.orders_t")
      .head().getLong(0) == (0L until 100L).map(_ * 2 + 1).sum)
    // the R96 DML trio works on catalog identifiers (the rule matches
    // the table class, not the resolution route)
    spark.sql(s"DELETE FROM graft.$ns.orders_t WHERE k < 10")
    spark.sql(s"UPDATE graft.$ns.orders_t SET cents = cents + 1000 WHERE k = 50")
    Seq((999L, 1L)).toDF("k", "cents").createOrReplaceTempView("cat_src")
    spark.sql(s"""MERGE INTO graft.$ns.orders_t t USING cat_src s ON t.k = s.k
      |WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)""".stripMargin)
    val got = spark.sql(s"SELECT k, cents FROM graft.$ns.orders_t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 91 && !got.contains(0L) && got(50L) == 1101L &&
      got(999L) == 1L)
    // ALTER TABLE: add (metadata-only, null-fills), rename, drop
    spark.sql(s"ALTER TABLE graft.$ns.orders_t ADD COLUMN note STRING")
    assert(spark.sql(s"SELECT note FROM graft.$ns.orders_t WHERE k = 50")
      .head().isNullAt(0))
    spark.sql(s"ALTER TABLE graft.$ns.orders_t RENAME COLUMN cents TO price")
    assert(spark.sql(s"SELECT price FROM graft.$ns.orders_t WHERE k = 50")
      .head().getLong(0) == 1101L)
    spark.sql(s"ALTER TABLE graft.$ns.orders_t DROP COLUMN note")
    assert(spark.table(s"graft.$ns.orders_t").columns.toSeq == Seq("k", "price"))
    // RENAME + SHOW + DROP
    spark.sql(s"ALTER TABLE graft.$ns.orders_t RENAME TO $ns.orders_r")
    assert(spark.sql(s"SHOW TABLES IN graft.$ns").collect()
      .map(_.getString(1)).toSet == Set("orders_r"))
    assert(spark.sql(s"SELECT count(*) FROM graft.$ns.orders_r")
      .head().getLong(0) == 91L)
    spark.sql(s"DROP TABLE graft.$ns.orders_r")
    intercept[Exception] { spark.table(s"graft.$ns.orders_r").count() }
  }

  test("catalog time travel: VERSION/TIMESTAMP AS OF by name, loud missing version, option exclusivity") {
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.sql("DROP TABLE IF EXISTS graft.ttdb.t_tt")
    spark.sql("CREATE TABLE graft.ttdb.t_tt (k BIGINT, cents BIGINT)") // v0
    Seq((1L, 10L), (2L, 20L)).toDF("k", "cents")
      .createOrReplaceTempView("tt_src1")
    spark.sql("INSERT INTO graft.ttdb.t_tt SELECT * FROM tt_src1") // v1
    Seq((3L, 30L)).toDF("k", "cents").createOrReplaceTempView("tt_src2")
    spark.sql("INSERT INTO graft.ttdb.t_tt SELECT * FROM tt_src2") // v2
    def n(sql: String): Long = spark.sql(sql).head().getLong(0)
    assert(n("SELECT count(*) FROM graft.ttdb.t_tt") == 3L)
    assert(n("SELECT count(*) FROM graft.ttdb.t_tt VERSION AS OF 1") == 2L)
    assert(n("SELECT count(*) FROM graft.ttdb.t_tt VERSION AS OF 0") == 0L)
    // TIMESTAMP AS OF: the instant of v1's commit resolves to v1
    // (latest at or below), an instant past head to the head
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val root = cat.tableLocation(Identifier.of(Array("ttdb"), "t_tt"))
    val ts1 = TableLog.headerTsOf(root, 1L)
    assert(n("SELECT count(*) FROM graft.ttdb.t_tt " +
      s"TIMESTAMP AS OF timestamp_millis(${ts1}L)") == 2L)
    assert(n("SELECT count(*) FROM graft.ttdb.t_tt " +
      s"TIMESTAMP AS OF timestamp_millis(${ts1 + 3600000L}L)") == 3L)
    // a missing (or vacuumed) version fails AT RESOLUTION, naming head
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.ttdb.t_tt VERSION AS OF 99").collect() }
    assert(e.getMessage.contains("does not exist") &&
      e.getMessage.contains("head is 2"), e.getMessage)
    // a non-numeric version is loud too
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft.ttdb.t_tt VERSION AS OF 'abc'").collect() }
    assert(e2.getMessage.contains("numeric"), e2.getMessage)
    // the path-option twin stays mutually exclusive (the SQL grammar
    // admits only one temporal clause; the options path must reject)
    val e3 = intercept[Exception] {
      spark.read.format("graftlog").option("path", root)
        .option("versionAsOf", "1").option("timestampAsOf", ts1.toString)
        .load().collect() }
    assert(e3.getMessage.contains("mutually exclusive"), e3.getMessage)
    // time travel pins a SNAPSHOT: writes to it reject (Delta's rule)
    val e4 = intercept[Exception] {
      Seq((9L, 9L)).toDF("k", "cents").write.format("graftlog")
        .option("path", root).option("versionAsOf", "1")
        .mode("append").save() }
    assert(e4.getMessage != null)
    spark.sql("DROP TABLE graft.ttdb.t_tt")
  }

  test("declared constraints through SQL: ALTER TABLE ADD/DROP CONSTRAINT + CALL procedures") {
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.sql("DROP TABLE IF EXISTS graft.ckdb.t_ck")
    spark.sql("CREATE TABLE graft.ckdb.t_ck (k BIGINT, cents BIGINT)")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "cents")
      .createOrReplaceTempView("ck_src")
    spark.sql("INSERT INTO graft.ckdb.t_ck SELECT * FROM ck_src")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val root = cat.tableLocation(Identifier.of(Array("ckdb"), "t_ck"))
    // Spark 4 ALTER TABLE … ADD CONSTRAINT … CHECK → catalog alterTable
    spark.sql("ALTER TABLE graft.ckdb.t_ck ADD CONSTRAINT c_pos CHECK (cents > 0)")
    assert(TableLog.tableChecks(root).keySet == Set("c_pos"))
    Seq((3L, -1L)).toDF("k", "cents").createOrReplaceTempView("ck_bad")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.ckdb.t_ck SELECT * FROM ck_bad") }
    assert(e.getMessage.contains("c_pos=1"), e.getMessage)
    spark.sql("ALTER TABLE graft.ckdb.t_ck DROP CONSTRAINT c_pos")
    assert(TableLog.tableChecks(root).isEmpty)
    spark.sql("INSERT INTO graft.ckdb.t_ck SELECT * FROM ck_bad") // now fine
    // the procedure twins work path-addressed
    spark.sql(s"CALL graft.system.add_constraint(path => '$root', " +
      "name => 'c_k', check_expr => 'k < 100')")
    assert(TableLog.tableChecks(root).keySet == Set("c_k"))
    spark.sql(s"CALL graft.system.drop_constraint(path => '$root', name => 'c_k')")
    assert(TableLog.tableChecks(root).isEmpty)
    spark.sql("DROP TABLE graft.ckdb.t_ck")
  }

  test("CTAS and CREATE OR REPLACE TABLE AS SELECT through the catalog") {
    spark.sql("DROP TABLE IF EXISTS graft.ctasdb.t1")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "cents")
      .createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE graft.ctasdb.t1 AS SELECT * FROM ctas_src")
    assert(spark.table("graft.ctasdb.t1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 10L), (2L, 20L)))
    spark.sql("CREATE OR REPLACE TABLE graft.ctasdb.t1 " +
      "AS SELECT k, cents * 2 AS cents FROM ctas_src")
    assert(spark.sql("SELECT sum(cents) FROM graft.ctasdb.t1").head().getLong(0) == 60L)
    spark.sql("DROP TABLE graft.ctasdb.t1")
  }

  test("reader-option time travel by name; procedures accept table names") {
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.sql("DROP TABLE IF EXISTS graft.optdb.t_opt")
    spark.sql("CREATE TABLE graft.optdb.t_opt (k BIGINT, cents BIGINT)")
    spark.sql("INSERT INTO graft.optdb.t_opt SELECT * FROM VALUES (1L, 10L) AS v(k, cents)")
    spark.sql("INSERT INTO graft.optdb.t_opt SELECT * FROM VALUES (2L, 20L) AS v(k, cents)")
    // Delta's reader-option form: versionAsOf on .table()
    assert(spark.read.option("versionAsOf", "1")
      .table("graft.optdb.t_opt").count() == 1L)
    assert(spark.read.option("versionAsOf", "2")
      .table("graft.optdb.t_opt").count() == 2L)
    val e = intercept[Exception] {
      spark.read.option("versionAsOf", "1").option("timestampAsOf", "0")
        .table("graft.optdb.t_opt").count() }
    assert(e.getMessage.contains("INVALID_TIME_TRAVEL_SPEC"), e.getMessage)
    // a time-traveled reader-option relation rejects writes
    val e2 = intercept[Exception] {
      spark.read.option("versionAsOf", "1").table("graft.optdb.t_opt")
        .createOrReplaceTempView("t_opt_v1")
      spark.sql("UPDATE t_opt_v1 SET cents = 0 WHERE k = 1") }
    assert(e2.getMessage.contains("time-traveled"), e2.getMessage)
    // procedures address the same table by NAME (path param accepts
    // db.t / catalog.db.t — the Iceberg `table =>` ergonomics)
    assert(spark.sql("CALL graft.system.history(path => 'optdb.t_opt')")
      .count() == 3L)
    val v = spark.sql("CALL graft.system.compact(" +
      "path => 'graft.optdb.t_opt', order_col => 'k')").head().getLong(0)
    assert(v == 3L)
    val e3 = intercept[Exception] {
      spark.sql("CALL graft.system.history(path => 'optdb.nope')").collect() }
    assert(e3.getMessage.contains("no committed table"), e3.getMessage)
    spark.sql("DROP TABLE graft.optdb.t_opt")
  }

  test("TBLPROPERTIES: persisted at CREATE, SET/UNSET, SHOW, DML defaults, carriage") {
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.sql("DROP TABLE IF EXISTS graft.propdb.t_props")
    spark.sql("CREATE TABLE graft.propdb.t_props (v BIGINT, k BIGINT) " +
      "TBLPROPERTIES ('primaryKey'='k', 'layout'='k div 10', 'numFiles'='2')")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val root = cat.tableLocation(Identifier.of(Array("propdb"), "t_props"))
    assert(TableLog.tableProperties(root) ==
      Map("primaryKey" -> "k", "layout" -> "k div 10", "numFiles" -> "2"))
    // SHOW TBLPROPERTIES reads the persisted map through the table
    val shown = spark.sql("SHOW TBLPROPERTIES graft.propdb.t_props")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("primaryKey").contains("k"), shown.toString)
    // v is the FIRST long column — without the declared primaryKey
    // the DML default would key on v (duplicated below) and a merge
    // would suppress every v=1 row; with the property only k=2 moves
    spark.sql("INSERT INTO graft.propdb.t_props SELECT * FROM VALUES " +
      "(1L, 1L), (1L, 2L), (1L, 3L) AS x(v, k)")
    Seq((2L, 99L)).toDF("k", "nv").createOrReplaceTempView("props_src")
    spark.sql(
      """MERGE INTO graft.propdb.t_props t USING props_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    assert(spark.table("graft.propdb.t_props").collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap ==
      Map(1L -> 1L, 2L -> 99L, 3L -> 1L))
    // SET adds/overwrites, UNSET retires exactly the named key
    spark.sql("ALTER TABLE graft.propdb.t_props " +
      "SET TBLPROPERTIES ('dvMaxFrac'='1.0', 'numFiles'='4')")
    assert(TableLog.tableProperties(root).get("dvMaxFrac").contains("1.0") &&
      TableLog.tableProperties(root).get("numFiles").contains("4"))
    spark.sql("ALTER TABLE graft.propdb.t_props UNSET TBLPROPERTIES ('dvMaxFrac')")
    assert(!TableLog.tableProperties(root).contains("dvMaxFrac") &&
      TableLog.tableProperties(root).contains("primaryKey"))
    // CALL twins + carriage through clone and restore
    spark.sql(s"CALL graft.system.set_property(path => '$root', " +
      "key => 'team', value => 'etl')")
    assert(TableLog.tableProperties(root).get("team").contains("etl"))
    val dst = freshRoot("props_clone")
    TableLog.cloneShallow(root, dst)
    assert(TableLog.tableProperties(dst) == TableLog.tableProperties(root))
    val headBefore = TableLog.currentVersion(root)
    TableLog.restore(root, 1L)
    assert(TableLog.tableProperties(root).contains("primaryKey"),
      "restore keeps the head's declared properties")
    TableLog.restore(root, headBefore)
    spark.sql(s"CALL graft.system.unset_property(path => '$root', key => 'team')")
    assert(!TableLog.tableProperties(root).contains("team"))
    spark.sql("DROP TABLE graft.propdb.t_props")
  }

  test("CLUSTER BY: declares the layout property; writes cluster; ALTER re-declares; NONE retires") {
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.sql("DROP TABLE IF EXISTS graft.clusdb.t_clus")
    spark.sql("CREATE TABLE graft.clusdb.t_clus (k BIGINT, cents BIGINT) " +
      "CLUSTER BY (k)")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val root = cat.tableLocation(Identifier.of(Array("clusdb"), "t_clus"))
    assert(TableLog.tableProperties(root) ==
      Map("clusterBy" -> "k", "layout" -> "k"))
    // the INSERT path picks the declared layout: k-ranges of the
    // written files must not overlap (clustered, not round-robin)
    (0L until 400L).map(k => (k, k + 1)).toDF("k", "cents")
      .createOrReplaceTempView("clus_src")
    spark.sql("INSERT INTO graft.clusdb.t_clus SELECT * FROM clus_src")
    val files = TableLog.readManifest(root, TableLog.currentVersion(root)).files
    assert(files.size > 1, "expect several files")
    val ranges = files.map(f => (f.zMin("k"), f.zMax("k"))).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"declared CLUSTER BY must produce disjoint k-ranges: $ranges")
    // ALTER re-declares (two columns → the Morton interleave)
    spark.sql("ALTER TABLE graft.clusdb.t_clus CLUSTER BY (k, cents)")
    assert(TableLog.tableProperties(root) == Map(
      "clusterBy" -> "k,cents", "layout" -> "zorder2(k, cents)"))
    // CLUSTER BY NONE retires both
    spark.sql("ALTER TABLE graft.clusdb.t_clus CLUSTER BY NONE")
    assert(TableLog.tableProperties(root).isEmpty)
    spark.sql("DROP TABLE graft.clusdb.t_clus")
  }

  test("TRUNCATE TABLE by name; CALL detail reports the metadata snapshot") {
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.sql("DROP TABLE IF EXISTS graft.trdb.t_tr")
    spark.sql("CREATE TABLE graft.trdb.t_tr (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('primaryKey'='k')")
    spark.sql("INSERT INTO graft.trdb.t_tr SELECT * FROM VALUES " +
      "(1L, 10L), (2L, 20L), (3L, 30L) AS v(k, cents)")
    val d = spark.sql("CALL graft.system.detail(path => 'trdb.t_tr')").head()
    assert(d.getLong(0) == 1L && d.getLong(2) == 3L &&
      d.getLong(7) == 1L, d.toString) // version, n_rows, n_props
    // TRUNCATE = an empty overwrite commit: head empties, history and
    // declared properties survive, AS OF below still reads
    spark.sql("TRUNCATE TABLE graft.trdb.t_tr")
    assert(spark.table("graft.trdb.t_tr").count() == 0L)
    assert(spark.sql("SELECT count(*) FROM graft.trdb.t_tr VERSION AS OF 1")
      .head().getLong(0) == 3L)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val root = cat.tableLocation(Identifier.of(Array("trdb"), "t_tr"))
    assert(TableLog.tableProperties(root) == Map("primaryKey" -> "k"),
      "TRUNCATE keeps the declared properties")
    spark.sql("DROP TABLE graft.trdb.t_tr")
  }

  test("namespaces: CREATE/SHOW/USE/DROP; age-addressed vacuum through CALL") {
    spark.sql("DROP NAMESPACE IF EXISTS graft.nsdb CASCADE")
    spark.sql("CREATE NAMESPACE graft.nsdb")
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("nsdb"))
    intercept[Exception] { spark.sql("CREATE NAMESPACE graft.nsdb") }
    spark.sql("CREATE TABLE graft.nsdb.t1 (k BIGINT)")
    spark.sql("USE graft.nsdb")
    try {
      spark.sql("INSERT INTO t1 SELECT * FROM VALUES (1L), (2L) AS v(k)")
      assert(spark.sql("SELECT count(*) FROM t1").head().getLong(0) == 2L)
      assert(spark.sql("SHOW TABLES IN graft.nsdb").collect()
        .map(_.getString(1)).contains("t1"))
    } finally spark.sql("USE spark_catalog.default")
    // non-empty DROP needs CASCADE
    intercept[Exception] { spark.sql("DROP NAMESPACE graft.nsdb") }
    spark.sql("DROP NAMESPACE graft.nsdb CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("nsdb"))
    // age-addressed vacuum: CALL with older_than_millis retires the
    // history strictly below the cutoff instant's version
    val root = freshRoot("agevac")
    TableLog.commit(mkDf(0L until 10L), root, expr("k div 5"), 1,
      "overwrite")
    TableLog.commit(mkDf(10L until 20L), root, expr("k div 5"), 1, "append")
    val cutoff = TableLog.headerTsOf(root, 1L)
    spark.sql(s"CALL graft.system.vacuum(path => '$root', " +
      s"older_than_millis => ${cutoff}L)")
    intercept[Exception] { TableLog.read(spark, root, asOf = Some(0L)).collect() }
    assert(TableLog.read(spark, root).count() == 20L)
    // keep_from / older_than_millis are mutually exclusive and one
    // is required
    intercept[Exception] { spark.sql(
      s"CALL graft.system.vacuum(path => '$root', keep_from => 1, " +
        "older_than_millis => 5)").collect() }
    intercept[Exception] { spark.sql(
      s"CALL graft.system.vacuum(path => '$root')").collect() }
  }

  test("CALL clone/sync: replication verbs; unknown procedure is loud") {
    val src = freshRoot("rep_src")
    val dst = freshRoot("rep_dst")
    val dst2 = freshRoot("rep_dst2")
    TableLog.commit(mkDf(0L until 30L), src, expr("k div 25"), 1, "overwrite")
    spark.sql(s"CALL graft.system.clone(source => '$src', target => '$dst')")
    assert(rows(dst) == rows(src))
    TableLog.commit(mkDf(30L until 40L), src, expr("k div 25"), 1, "append")
    val v = spark.sql(
      s"CALL graft.system.sync(source => '$src', target => '$dst2')")
      .head().getLong(0)
    assert(v == 1L && rows(dst2) == rows(src))
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.nope(path => '$src')") }
    assert(e.getMessage.contains("unknown procedure") ||
      e.getMessage.toLowerCase.contains("nope"), e.getMessage)
  }
}
