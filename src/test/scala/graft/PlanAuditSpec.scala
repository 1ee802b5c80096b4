package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library-wide scale guard: PLAN every registered batch query and
  * assert no unbounded join shape snuck in. This is the automated
  * form of the per-operator `.explain` audit — a CartesianProduct
  * (or an unexpected non-broadcast nested loop) is the class of plan
  * that silently works at sf0.001 and detonates at 100 TB.
  *
  * Streaming queries (st*) are excluded: constructing them executes a
  * full MicroBatchExecution run; their plan evidence lives in
  * StreamRunSpec/StreamingSpec instead.
  */
class PlanAuditSpec extends AnyFunSuite {
  import SharedSpark.{sfDir, spark}

  // Deliberate broadcast nested loops (tiny broadcast side by
  // construction — seeds/queries/planes/eval grams/1-row bounds or a
  // driver-small dim): every OTHER query must plan pure equi-joins.
  private val bnljAllowed = Set(
    // s01/s20: tiny query side broadcast against the corpus; s27: the
    // recall audit's EXACT arm is s01's shape by design (the audit's
    // deliberate cost; the served arm stays cell-bucketed)
    "s01_ann_brute", "s20_int8_topk", "s27_ann_recall",
    // s12/s16: exhaustive ADC — the query set crossJoins the code
    // table (the codebooks ride in adc_score as plan constants)
    "s12_pq_adc", "s16_pq_serve",
    // s21/s22: stage 1 is the s01 shape (tiny query-side broadcast
    // scanning the prefix/code projection); stage 2 adds only
    // broadcast equi-joins for the shortlist fetch
    "s21_trunc_rerank", "s22_sign_hamming",
    // s25: the s20 shape — tiny encoded query side broadcast against
    // the corpus code table; the dim-sized quantizer rides as
    // literal arrays, not a join at all
    "s25_sq8_topk",
    // t31: the class-skeleton crossJoin broadcasts the ≤C-row model dim
    "t31_trained_classifier",
    "t29_rrf_hybrid", "q47_dq_audit", "t23_bm25",
    // crossJoin(broadcast(<1-row corpus aggregate>)) attachments:
    "t12_vocab", "t13_bigram_lift", "d18_source_profile",
    // t34: the 1-row vocabulary-size broadcast (V) crossJoins the
    // crawl bigram stream; bi/ctx attach as broadcast equi-joins.
    // d38 runs t34's scorer body (the shared lmHeldoutXent), so the
    // same 1-row V broadcast appears in its plan too.
    "t34_heldout_ppl", "d38_ccnet_buckets",
    // f21: groups×bins grid via broadcast of the histogram-sized
    // bin list + the 1-row total — never fact-sized
    "f21_hist_drift",
    // f22: f21's exact grid shape (samples × distinct-value list +
    // the 1-row total, both broadcast)
    "f22_ks_drift")

  // Global (unpartitioned) Window operators sort + stream the WHOLE
  // input through one task — fine iff the relation is provably bounded
  // (bucket-/calendar-/file-count cardinality after aggregation), fatal
  // on a corpus-sized input at 100 TB. Each entry's bound:
  //   q44_date_spine    — one row per calendar day of the order range
  //   q49_open_orders   — ±1 delta per order after groupBy(day)
  //   q50_compaction    — window is PARTITION BY source upstream; the
  //                       global one ranks bin-count rows
  //   t25_vocab_growth  — one row per 50-doc bucket after first-seen agg
  //   t12_vocab         — window input is .limit(100) by construction
  //   t28_source_overlap— window over source-pair rows (≤ sources²)
  //   t29_rrf_hybrid    — window over top-k retrieval arms (≤ 2k rows)
  private val globalWindowAllowed = Set(
    "q44_date_spine", "q49_open_orders", "q50_compaction",
    "t25_vocab_growth", "t12_vocab", "t28_source_overlap",
    "t29_rrf_hybrid")

  test("no CartesianProduct; BNLJ and global Window only where whitelisted") {
    val batch = SparkEntry.queries.filterNot(_._1.startsWith("st"))
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    // the allow-lists validate themselves: every entry names an audited
    // query, and a BNLJ allowance must still be needed
    (bnljAllowed ++ globalWindowAllowed).filterNot(batch.contains).toSeq.sorted
      .foreach(name => offenders += s"$name: allow-listed but not an audited query")
    for ((name, fn) <- batch.toSeq.sortBy(_._1)) {
      val qe =
        try fn(spark, sfDir).queryExecution
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      val plan = qe.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name))
        offenders += s"$name: unexpected BroadcastNestedLoopJoin"
      if (!plan.contains("BroadcastNestedLoopJoin") && bnljAllowed(name))
        offenders += s"$name: BNLJ allow-listed but its plan has none"
      val hasGlobalWindow = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }.nonEmpty
      if (hasGlobalWindow && !globalWindowAllowed(name))
        offenders += s"$name: unpartitioned Window over an unaudited relation"
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      s"scale-unsafe plan shapes:\n${offenders.mkString("\n")}")
  }

  test("filters and column pruning reach the parquet scan (q01 exemplar)") {
    // The scan-side contract the whole relational family relies on:
    // q01's shipdate predicate must appear in PushedFilters and the
    // lineitem ReadSchema must be pruned to the referenced columns,
    // not the full 16-column table.
    val plan = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$plan")
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    val nCols = scanCols.split(",").count(_.nonEmpty)
    assert(nCols > 0 && nCols <= 8, s"lineitem scan not pruned ($nCols cols): $scanCols")
  }

  test("dim joins broadcast: q05 star join plans no shuffle on the dim sides") {
    val plan = SparkEntry.queries("q05_region_revenue")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }
}
