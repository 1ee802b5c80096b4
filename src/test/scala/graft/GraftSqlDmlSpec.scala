package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL DML over the graftlog relation (R96): MERGE INTO / UPDATE /
  * DELETE lowered onto TableLog's merge-on-read write path. Pins the
  * value semantics of each statement, the clause-order and
  * cardinality rules, the no-rewrite physical claim for sparse hits,
  * and the loud edges (time-traveled target, missing key equality,
  * duplicate-key inserts).
  */
class GraftSqlDmlSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import graft.sources.TableLog

  private def freshTable(n: Int = 100, files: Int = 4): String = {
    val root = java.nio.file.Files.createTempDirectory("sqldml").toString
    val df = (0L until n.toLong).map(k => (k, k * 2 + 1)).toDF("k", "cents")
    TableLog.commit(df, root, expr(s"k div ${n / files}"), files, "overwrite")
    root
  }

  private def mount(root: String, view: String): Unit =
    spark.read.format("graftlog").option("path", root).load()
      .createOrReplaceTempView(view)

  private def state(root: String): Map[Long, Long] =
    TableLog.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("DELETE FROM: predicate rows vanish, sparse delete is DV-only (no data rewrite)") {
    val root = freshTable()
    mount(root, "t_del")
    spark.sql("DELETE FROM t_del WHERE k = 3 OR k = 99")
    val got = state(root)
    assert(got.size == 98 && !got.contains(3L) && !got.contains(99L) &&
      got(5L) == 11L)
    // physical claim: 1 hit per 25-row file is under the 10% DV
    // threshold — the commit must add no data files and remove none
    // (DV manifest entries only)
    val (added, removed) = TableLog.versionDelta(root, 1L)
    assert(removed.isEmpty, s"sparse DELETE must not rewrite: $removed")
    assert(added.forall(_.rows == 0L) || added.isEmpty,
      s"sparse DELETE must not land data rows: $added")
    assert(TableLog.readManifest(root, 1L).files.exists(_.dv.nonEmpty))
    // history records the action
    assert(TableLog.history(spark, root).filter(col("version") === 1)
      .select("action").head().getString(0) == "delete")
  }

  test("UPDATE: assignments apply to matched rows only; key-column updates move the row") {
    val root = freshTable()
    mount(root, "t_upd")
    spark.sql("UPDATE t_upd SET cents = cents * 10 WHERE k BETWEEN 10 AND 12")
    val got = state(root)
    assert(got(10L) == 210L && got(11L) == 230L && got(12L) == 250L)
    assert(got(9L) == 19L && got(13L) == 27L && got.size == 100)
    // updating the KEY moves the row: old key suppressed, new key
    // live. Deliberately NO remount: the command re-resolves the
    // target to the current head per statement (Delta's semantics), so
    // this second statement must see the first one's result
    spark.sql("UPDATE t_upd SET k = 1000 WHERE k = 50")
    val got2 = state(root)
    assert(!got2.contains(50L) && got2(1000L) == 101L && got2.size == 100)
    // and the ×10 from statement 1 must have SURVIVED statement 2
    // (a stale-snapshot recompute would resurrect the old cents)
    assert(got2(10L) == 210L, s"statement 2 resurrected stale state: ${got2(10L)}")
  }

  test("MERGE INTO: update+delete+insert clauses, first-match-wins, clause conditions") {
    val root = freshTable()
    mount(root, "t_mrg")
    // source: k=1 update, k=2 delete, k=500 insert, k=3 untouched by
    // clause conditions (op 'X' matches no action → row unchanged)
    Seq((1L, 111L, "U"), (2L, 0L, "D"), (500L, 555L, "U"), (3L, 999L, "X"))
      .toDF("k", "new_cents", "op").createOrReplaceTempView("s_mrg")
    spark.sql(
      """MERGE INTO t_mrg t USING s_mrg s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET cents = s.new_cents
        |WHEN NOT MATCHED AND s.op = 'U' THEN INSERT (k, cents) VALUES (s.k, s.new_cents)
        |""".stripMargin)
    val got = state(root)
    assert(got(1L) == 111L, "matched-update must apply")
    assert(!got.contains(2L), "matched-delete must remove")
    assert(got(500L) == 555L, "not-matched-insert must land")
    assert(got(3L) == 7L, "clause-condition miss must leave the row")
    assert(got.size == 100, s"99 surviving + 1 insert, got ${got.size}")
  }

  test("MERGE INTO: star clauses, NOT MATCHED BY SOURCE, latest state equals oracle recompute") {
    val root = freshTable(20, 2)
    mount(root, "t_star")
    Seq((5L, 5000L), (21L, 2100L)).toDF("k", "cents")
      .createOrReplaceTempView("s_star")
    spark.sql(
      """MERGE INTO t_star t USING s_star s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.k >= 18 THEN DELETE
        |""".stripMargin)
    val got = state(root)
    assert(got(5L) == 5000L && got(21L) == 2100L)
    assert(!got.contains(18L) && !got.contains(19L))
    assert(got.size == 19, s"18 survivors + update + insert: ${got.size}")
  }

  test("MERGE WITH SCHEMA EVOLUTION: accretes source columns on a catalog table; no-evolve star rejects") {
    spark.sql("DROP TABLE IF EXISTS graft.dmlevo.t_evo")
    spark.sql("CREATE TABLE graft.dmlevo.t_evo (k BIGINT, cents BIGINT)")
    spark.sql("INSERT INTO graft.dmlevo.t_evo SELECT * FROM VALUES " +
      "(1L, 10L), (2L, 20L), (3L, 30L) AS v(k, cents)")
    Seq((2L, 200L, 7L), (9L, 900L, 8L)).toDF("k", "cents", "disc")
      .createOrReplaceTempView("s_evo")
    // WITHOUT the clause: Spark's own star expansion is the contract —
    // the star covers the TARGET schema only, extra source columns do
    // NOT accrete (the schema stays 2 columns; `disc` is dropped)
    spark.sql(
      """MERGE INTO graft.dmlevo.t_evo t USING s_evo s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.dmlevo.t_evo").schema.size == 2,
      "no-evolve star must not accrete source columns")
    // WITH the clause: Spark's analyzer accretes `disc` through the
    // catalog (metadata-only commit), the merge lands under the
    // widened schema, old rows null-fill
    Seq((3L, 333L, 5L), (11L, 1100L, 6L)).toDF("k", "cents", "disc")
      .createOrReplaceTempView("s_evo2")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.dmlevo.t_evo t
        |USING s_evo2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.table("graft.dmlevo.t_evo").collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got == Map(
      1L -> (10L, None), 2L -> (200L, None), 3L -> (333L, Some(5L)),
      9L -> (900L, None), 11L -> (1100L, Some(6L))), got.toString)
    // AS OF below the evolution keeps the OLD 2-column schema
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val root = cat.tableLocation(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("dmlevo"), "t_evo"))
    assert(spark.sql(
      "SELECT * FROM graft.dmlevo.t_evo VERSION AS OF 2").schema.size == 2)
    assert(TableLog.read(spark, root).schema.size == 3)
    spark.sql("DROP TABLE graft.dmlevo.t_evo")
  }

  test("MERGE guards: cardinality violation, duplicate insert keys, insert-existence probes") {
    val root = freshTable(20, 2)
    mount(root, "t_guard")
    // two source rows match target key 1 → ambiguous update
    Seq((1L, 10L), (1L, 20L)).toDF("k", "cents")
      .createOrReplaceTempView("s_dup")
    val e1 = intercept[Exception] { spark.sql(
      """MERGE INTO t_guard t USING s_dup s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET cents = s.cents""".stripMargin) }
    assert(e1.getMessage.contains("multiple source rows matched"), e1.getMessage)
    // duplicate keys inside the INSERT set
    Seq((300L, 1L), (300L, 2L)).toDF("k", "cents")
      .createOrReplaceTempView("s_insdup")
    val e2 = intercept[Exception] { spark.sql(
      """MERGE INTO t_guard t USING s_insdup s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)""".stripMargin) }
    assert(e2.getMessage.contains("duplicate primary key"), e2.getMessage)
    // extra ON conjunct + insert of an EXISTING key breaks the PK
    // contract → loud, not a silent duplicate
    Seq((1L, -1L)).toDF("k", "cents").createOrReplaceTempView("s_exist")
    val e4 = intercept[Exception] { spark.sql(
      """MERGE INTO t_guard t USING s_exist s ON t.k = s.k AND t.cents > 100
        |WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)""".stripMargin) }
    assert(e4.getMessage.contains("already exists"), e4.getMessage)
    // a NON-EQUALITY ON condition inserting an existing key is just
    // as loud (the general path keeps the existence probe on)
    val e5 = intercept[Exception] { spark.sql(
      """MERGE INTO t_guard t USING s_exist s ON t.cents < s.cents
        |WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)""".stripMargin) }
    assert(e5.getMessage.contains("already exists"), e5.getMessage)
    // nothing committed by any failed statement
    assert(TableLog.currentVersion(root) == 0L)
  }

  test("MERGE with an arbitrary ON predicate: no key equality required, matched keys derive from the join") {
    val root = freshTable(20, 2)
    mount(root, "t_free")
    // a pure range ON: every target row with cents above the source
    // row's threshold matches — key 19 (cents 39) is the only one
    // above 37; update it
    Seq((37L, 7777L)).toDF("thr", "new_cents").createOrReplaceTempView("s_free")
    spark.sql(
      """MERGE INTO t_free t USING s_free s ON t.cents > s.thr
        |WHEN MATCHED THEN UPDATE SET cents = s.new_cents""".stripMargin)
    val got = state(root)
    assert(got(19L) == 7777L && got(18L) == 37L && got.size == 20)
    // cardinality guard still holds under the general path: two
    // source rows both matching target key 19 is ambiguous
    Seq((37L, 1L), (38L, 2L)).toDF("thr", "new_cents")
      .createOrReplaceTempView("s_free2")
    val e = intercept[Exception] { spark.sql(
      """MERGE INTO t_free t USING s_free2 s ON t.cents > s.thr
        |WHEN MATCHED THEN UPDATE SET cents = s.new_cents""".stripMargin) }
    assert(e.getMessage.contains("multiple source rows matched"), e.getMessage)
  }

  test("composite primary key: MERGE/UPDATE/DELETE ride the exact copy-on-write carrier") {
    val root = java.nio.file.Files.createTempDirectory("sqldmlc").toString
    // key = (g, k): g in 0..3, k in 0..24 — 100 unique tuples
    val df = (0L until 100L).map(i => (i / 25L, i % 25L, i * 3 + 1))
      .toDF("g", "k", "cents")
    TableLog.commit(df, root, expr("g"), 4, "overwrite")
    spark.read.format("graftlog").option("path", root)
      .option("primaryKey", "g, k").load()
      .createOrReplaceTempView("t_comp")
    // MERGE keyed on the tuple, with a RANGE conjunct on the ON
    Seq((1L, 3L, 900L), (1L, 4L, 901L), (9L, 9L, 999L))
      .toDF("g", "k", "new_cents").createOrReplaceTempView("s_comp")
    spark.sql(
      """MERGE INTO t_comp t USING s_comp s
        |ON t.g = s.g AND t.k = s.k AND t.cents < 200
        |WHEN MATCHED THEN UPDATE SET cents = s.new_cents
        |WHEN NOT MATCHED THEN INSERT (g, k, cents) VALUES (s.g, s.k, s.new_cents)
        |""".stripMargin)
    val got = TableLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (1,3): cents 28*3+1=85 < 200 → updated; (1,4): 88 < 200 → updated
    assert(got((1L, 3L)) == 900L && got((1L, 4L)) == 901L)
    assert(got((9L, 9L)) == 999L, "unmatched tuple must insert")
    assert(got.size == 101 && got((0L, 3L)) == 10L,
      "same k under another g must be untouched (tuple identity)")
    // UPDATE and DELETE by tuple predicate
    spark.sql("UPDATE t_comp SET cents = 0 WHERE g = 2 AND k = 10")
    spark.sql("DELETE FROM t_comp WHERE g = 3 AND k >= 20")
    val got2 = TableLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got2((2L, 10L)) == 0L && got2.size == 96 &&
      !got2.contains((3L, 22L)))
    // the CoW physical claim: the merge rewrote ONLY the hit file
    // (g=1's file) — 3 untouched files carried by reference
    val (added1, removed1) = TableLog.versionDelta(root, 1L)
    assert(removed1.size == 1, s"only g=1's file rewrites: $removed1")
    // a matched-on-range insert of an existing tuple is loud
    Seq((0L, 0L, 1L)).toDF("g", "k", "new_cents")
      .createOrReplaceTempView("s_compdup")
    val e = intercept[Exception] { spark.sql(
      """MERGE INTO t_comp t USING s_compdup s
        |ON t.g = s.g AND t.k = s.k AND t.cents > 1000000
        |WHEN NOT MATCHED THEN INSERT (g, k, cents) VALUES (s.g, s.k, s.new_cents)
        |""".stripMargin) }
    assert(e.getMessage.contains("already exists"), e.getMessage)
  }

  test("an UPDATE whose new rows fail commits nothing, single and composite key") {
    Seq("k", "g, k").foreach { key =>
      val root = java.nio.file.Files.createTempDirectory("sqldmlfail").toString
      val df = (0L until 100L).map(k => (k / 25L, k, k * 3 + 1)).toDF("g", "k", "cents")
      TableLog.commit(df, root, expr("k div 25"), 4, "overwrite")
      spark.read.format("graftlog").option("path", root)
        .option("primaryKey", key).load()
        .createOrReplaceTempView("t_fail")
      val head = TableLog.currentVersion(root)
      def rows = TableLog.read(spark, root).collect().map(_.toSeq).toSet
      val before = rows
      // one hit per file: a single key would take deletion vectors, a
      // composite key rewrites; the new image of k = 42 raises
      val e = intercept[Exception] {
        spark.sql("UPDATE t_fail SET cents = IF(k = 42, " +
          "raise_error('injected update failure'), cents + 1) WHERE k IN (2, 42, 77)")
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected update failure")),
        s"key ($key): $e")
      assert(TableLog.currentVersion(root) == head, s"key ($key) committed")
      assert(rows == before, s"key ($key) changed the head rows")
    }
  }

  test("STRING primary key: DML rides the merge-on-read carrier with rolling-hash deletion vectors") {
    val root = java.nio.file.Files.createTempDirectory("sqldmls").toString
    val df = (0L until 100L).map(i => (f"doc_$i%03d", i * 2 + 1))
      .toDF("doc", "cents")
    TableLog.commit(df, root, expr("cents div 50"), 4, "overwrite")
    spark.read.format("graftlog").option("path", root)
      .option("primaryKey", "doc").load()
      .createOrReplaceTempView("t_str")
    spark.sql("DELETE FROM t_str WHERE doc IN ('doc_003', 'doc_099')")
    val got = TableLog.read(spark, root).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 98 && !got.contains("doc_003") &&
      got("doc_005") == 11L)
    // the sparse delete rode a DELETION VECTOR (no rewrite), and the
    // vector holds the keys' portable rolling hashes
    val (added, removed) = TableLog.versionDelta(root, 1L)
    assert(removed.isEmpty && (added.isEmpty || added.forall(_.rows == 0L)),
      s"sparse string-key DELETE must be DV-only: +$added -$removed")
    val dvs = TableLog.readManifest(root, 1L).files.flatMap(_.dv.get("doc"))
    assert(dvs.flatten.toSet == Set("doc_003", "doc_099")
      .map(s => org.apache.spark.sql.graftx.RollingHash.hash(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))),
      s"dv must hold the portable rolling hashes: ${dvs.map(_.toSeq)}")
    // UPDATE through the same carrier; CDF surfaces the dv delete rows
    spark.sql("UPDATE t_str SET cents = cents + 1000 WHERE doc = 'doc_010'")
    assert(TableLog.read(spark, root).filter(col("doc") === "doc_010")
      .head().getLong(1) == 1021L)
    val feed = TableLog.readChangeFeed(spark, root, 1L, 1L)
      .filter(col("_change_type") === "delete")
      .select("doc").collect().map(_.getString(0)).sorted.toSeq
    assert(feed == Seq("doc_003", "doc_099"), s"string-key CDF: $feed")
  }

  test("key-reassignment guards: duplicate targets and collisions with surviving keys are loud") {
    val root = freshTable(20, 2)
    mount(root, "t_keyre")
    // moving k=1 onto the SURVIVING key 2 would silently break the
    // primary-key invariant the DVs rely on → loud
    val e1 = intercept[Exception] {
      spark.sql("UPDATE t_keyre SET k = 2 WHERE k = 1") }
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    // two matched rows mapped to ONE post-assignment key → loud
    val e2 = intercept[Exception] {
      spark.sql("UPDATE t_keyre SET k = 500 WHERE k <= 1") }
    assert(e2.getMessage.contains("multiple"), e2.getMessage)
    // a swap WITHIN the statement is legal: retired keys don't count
    // as survivors, and the fresh targets are distinct
    spark.sql("UPDATE t_keyre SET k = k + 300 WHERE k >= 18")
    val got = state(root)
    assert(got.contains(318L) && got.contains(319L) && !got.contains(18L))
    // MERGE UPDATE clauses that SET the key get the same guard
    Seq((5L, 6L)).toDF("k", "newk").createOrReplaceTempView("s_keyre")
    val e3 = intercept[Exception] { spark.sql(
      """MERGE INTO t_keyre t USING s_keyre s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET k = s.newk""".stripMargin) }
    assert(e3.getMessage.contains("already exists"), e3.getMessage)
    // only the legal statement committed
    assert(TableLog.currentVersion(root) == 1L)
  }

  test("CDF after a key-column RENAME: dv deletes surface under the LOGICAL name") {
    val root = freshTable()
    TableLog.renameColumn(root, "k", "id") // v1: metadata-only
    mount(root, "t_cdfren")
    spark.sql("DELETE FROM t_cdfren WHERE id = 3 OR id = 77") // v2: sparse → DV
    // the dv vector is keyed by the PHYSICAL name ("k"); the feed's
    // frame carries LOGICAL names — the probe must map back, never
    // fail resolution or probe a wrong column
    val feed = TableLog.readChangeFeed(spark, root, 2L, 2L)
      .filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(feed == Seq(3L, 77L), s"renamed-key CDF deletes: $feed")
    // CROSSED rename: cents→k (the old physical key name!) — a
    // physical-name probe would now silently hit the wrong column
    TableLog.renameColumn(root, "cents", "k") // v3
    mount(root, "t_cdfren")
    spark.sql("DELETE FROM t_cdfren WHERE id = 9") // v4
    val feed2 = TableLog.readChangeFeed(spark, root, 4L, 4L)
      .filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(feed2 == Seq(9L), s"crossed-rename CDF deletes: $feed2")
  }

  test("DML rejects a time-traveled target; CDF relations never match the rule") {
    val root = freshTable()
    spark.read.format("graftlog").option("path", root)
      .option("versionAsOf", "0").load().createOrReplaceTempView("t_tt")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM t_tt WHERE k = 1") }
    assert(e.getMessage.contains("time-traveled"), e.getMessage)
  }
}
