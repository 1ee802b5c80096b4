package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}
import graft.Graft

/** Relational core — SURVEY.md §2.1 (R1–R22).
  *
  * Design notes for 100 TB (local[32] only verifies correctness):
  *  - dim tables (region/nation/supplier/part/customer) join via
  *    `broadcast()` — the fact side never shuffles for them;
  *  - fact⋈fact joins shuffle on the join key AFTER pushed-down
  *    filters (AQE re-plans and handles skew at runtime);
  *  - window functions always partition on a key (no global windows
  *    except explicit top-k, which Spark runs as TakeOrderedAndProject
  *    — a per-partition heap + driver merge, no global sort);
  *  - every computed float is rounded identically in the Spark plan
  *    and the DuckDB oracle; every output is deterministically ordered.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Graft.table(s, dir, name)

  /** The shared q51/q63 oracle text: latest-wins merge of the
    * synthetic changelog over base; `verBound` prefixes the changelog
    * (`ver <= k`) for the time-travel read. One text, two bounds.
    */
  private def cdcMergeSql(verBound: Option[Int]): String = {
    val bound = verBound.map(k => s" AND ver <= $k").getOrElse("")
    s"""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price
       |   FROM orders WHERE o_orderkey % 5 <> 0),
       | cl AS (SELECT o_orderkey AS k, ver,
       |    CASE WHEN (o_orderkey + ver) % 7 = 0 THEN 'D' ELSE 'U' END AS op,
       |    o_totalprice + CAST(ver AS DOUBLE) AS new_price
       |  FROM orders, unnest(generate_series(1, CAST(o_orderkey % 3 + 1 AS BIGINT))) AS t(ver)
       |  WHERE o_orderkey % 2 = 0$bound),
       | latest AS (SELECT k, op, new_price FROM
       |   (SELECT k, op, new_price,
       |      row_number() OVER (PARTITION BY k
       |        ORDER BY ver DESC, op DESC NULLS LAST, new_price DESC NULLS LAST) AS rn FROM cl)
       |   WHERE rn = 1)
       |SELECT coalesce(b.k, l.k) AS k,
       |  coalesce(l.new_price, b.price) AS price,
       |  CASE WHEN l.k IS NULL THEN 'base'
       |       WHEN b.k IS NULL THEN 'inserted'
       |       ELSE 'updated' END AS action
       |FROM base b FULL JOIN latest l ON b.k = l.k
       |WHERE coalesce(l.op, '') <> 'D'
       |ORDER BY k""".stripMargin
  }

  /** q51/q63's shared CDC instance: base snapshot (keys ≢ 0 mod 5,
    * so changelog-only keys exercise the INSERT path) + a synthetic
    * keyed changelog (1–3 versions per even key, (k+ver) ≡ 0 mod 7
    * deletes). ONE body so the merge and its time-travel read cannot
    * drift (mirrored by the shared cdcMergeSql oracle text).
    */
  private def cdcInstance(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders")
    val base = o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
    val changelog = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p0"),
        explode(sequence(lit(1), (col("o_orderkey") % 3 + 1).cast("int")))
          .as("ver"))
      .select(col("k"), col("ver"),
        when((col("k") + col("ver")) % 7 === 0, lit("D")).otherwise(lit("U"))
          .as("op"),
        (col("p0") + col("ver").cast("double")).as("new_price"))
    (base, changelog)
  }

  /** The q45/q60 SCD2 source rows: (o_custkey, prio, ts_us,
    * o_orderkey). o_orderdate is TIMESTAMP_NTZ; the UTC session (set
    * by Verify/Bench) makes the cast a wall-clock identity.
    */
  private def scd2Input(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_custkey"),
      col("o_orderpriority").as("prio"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
      col("o_orderkey"))

  /** q45's SCD2 version build, shared with q60's point-in-time
    * lookup (one body so build and lookup cannot drift): change
    * detection via lag collapses repeat values, [valid_from,
    * valid_to) via lead, version numbers, is_current. Two window
    * passes over dimension-key-partitioned data — one shuffle,
    * linear at any scale.
    */
  private def scd2Versions(o: DataFrame): DataFrame = {
    val w1 = Window.partitionBy("o_custkey").orderBy("ts_us", "o_orderkey")
    val ch = o.withColumn("prev", lag("prio", 1).over(w1))
      .filter(col("prev").isNull || col("prev") =!= col("prio"))
    val w2 = Window.partitionBy("o_custkey").orderBy("ts_us", "o_orderkey")
    ch.withColumn("valid_to_us", lead("ts_us", 1).over(w2))
      .withColumn("version", row_number().over(w2).cast("long"))
      .select(col("o_custkey"), col("prio"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("version"), col("valid_to_us").isNull.as("is_current"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // R1+R2: scan + filter pushdown + multi-measure hash aggregate.
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // R3: broadcast dim join + fact⋈fact shuffle join + grouped top-k.
    "q03_top_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1996-06-30"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    }),

    // R4: 5-table star join; region/nation broadcast, c↔s nation match.
    "q05_region_revenue" -> ((s, dir) => {
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
      val li = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    }),

    // R5: exact distinct aggregate (expand+two-phase agg under the hood).
    "q06_distinct_parts" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // R6: approx distinct (HLL++) — scale path for 100 TB cardinality
    // estimation; rows-only check, exactness bound asserted in spec.
    "q06b_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
        .orderBy("l_returnflag")
    }),

    // R7: ranked top-N per group (window + filter; full tiebreak).
    "q07_topn_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("l_suppkey", "rn", "l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_suppkey", "rn")
    }),

    // R8: running sum per partition key (cumulative frame).
    "q08_running_sum" -> ((s, dir) => {
      // the synthetic generator emits duplicate (orderkey, linenumber)
      // rows at sf0.1 — partkey+price+quantity make the window order
      // total W.R.T. THE SUMMED MEASURE: rows tying on every order key
      // also tie on l_quantity, so either accumulation order yields the
      // same running values in both engines
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber",
          "l_partkey", "l_extendedprice", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .withColumn("running_qty", round(sum("l_quantity").over(w), 2))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),

    // R9: lag/lead — days between consecutive orders per customer.
    "q09_order_gaps" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders")
        .withColumn("prev_date", lag("o_orderdate", 1).over(w))
        .filter(col("prev_date").isNotNull)
        .select(
          col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), col("prev_date")).as("gap_days"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // R10: semi join (EXISTS) — no row multiplication, key-only shuffle.
    "q10_semi_join" -> ((s, dir) => {
      val pend = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      t(s, dir, "customer")
        .join(pend, col("c_custkey") === pend("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // R11: anti join (NOT EXISTS) — customers with no high-value
    // order (the plain every-customer-has-orders variant is vacuously
    // empty on this data, which would make the oracle check trivial).
    "q11_anti_join" -> ((s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // R12: union + distinct.
    "q12_union_keys" -> ((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("custkey"))
      val b = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("custkey"))
      a.union(b).distinct().orderBy("custkey")
    }),

    // R13: ROLLUP hierarchy; grouping nulls normalized to 'ALL'.
    "q13_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus")
    }),

    // R14: CASE bucketing + conditional aggregation.
    "q14_price_buckets" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .withColumn("bucket",
          when(col("l_extendedprice") < 10000, "low")
            .when(col("l_extendedprice") < 50000, "mid")
            .otherwise("high"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n"),
          round(sum(when(col("l_discount") > 0.05, col("l_extendedprice"))), 2).as("discounted_value"))
        .orderBy("bucket")
    }),

    // R15: string functions over a dim table.
    "q15_string_ops" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_type").startsWith("PROMO"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n"),
          min(upper(substring(col("p_name"), 1, 8))).as("min_name8"),
          max(concat(col("p_brand"), lit(":"), col("p_type"))).as("max_bt"))
        .orderBy("p_brand")
    }),

    // R16: date functions (extract year/month).
    "q16_date_ops" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("y", "m")
    }),

    // R17: HAVING — post-aggregation filter.
    "q17_having" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("spend"), count(lit(1)).as("n_orders"))
        .filter(col("spend") > 1500000)
        .orderBy("o_custkey")
    }),

    // R18: global top-k — plans as TakeOrderedAndProject (no full sort).
    "q18_topk_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(20)
    }),

    // R19: pivot — per-day value totals by event type.
    "q19_pivot_events" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyyMMdd").cast("int"))
        .groupBy("day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum("value"), 2))
        .orderBy("day")
    }),

    // R20: correlated scalar subquery, decorrelated into an agg+join.
    "q20_above_avg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val avgByPart = li.groupBy(col("l_partkey").as("ap_partkey"))
        .agg(avg("l_extendedprice").as("avg_price"))
      val part = t(s, dir, "part")
      li.join(avgByPart, li("l_partkey") === avgByPart("ap_partkey"))
        .filter(col("l_extendedprice") > col("avg_price") * 1.2)
        .join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("value"))
        .orderBy("p_brand")
    }),

    // R21: as-of join — latest click at-or-before each purchase, per
    // user, via the generic AsOfJoin operator (tagged union + one
    // window pass: a single shuffle, no correlated per-row lookup).
    "q21_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // Collapse duplicate (user_id, ts) clicks to max event_id so the
      // as-of pick is deterministic (mirrors the oracle's max()).
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("click_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.operators.AsOfJoin.asof(purch, clicks, "user_id", "ts", Seq("click_id"))
        .select(col("event_id"), col("user_id"), col("asof_click_id"))
        .orderBy("event_id")
    }),

    // R13b: CUBE — all grouping combinations.
    "q23_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum("l_extendedprice"), 2).as("total"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("total"), col("n"))
        .orderBy("returnflag", "linestatus")
    }),

    // R13c: GROUPING SETS via SQL (registered temp view).
    "q24_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |  coalesce(o_orderpriority, 'ALL') AS priority,
          |  round(sum(o_totalprice), 2) AS total, count(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, priority""".stripMargin)
    }),

    // R23: semi-structured JSON column (the reference's metadata/
    // manifest parsing step): extract a typed field, bucket, aggregate.
    "q25_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        // from_json with an explicit schema: one parse into a typed
        // struct (no per-row JSONPath evaluation as get_json_object does)
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
        // floor(k/10.0), not `k div 10`: div truncates toward zero in
        // Spark while DuckDB's // floors, so they disagree on negative k.
        .groupBy(col("event_type"), floor(col("k") / 10.0).as("k_bucket"))
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
        .orderBy("event_type", "k_bucket")
    }),

    // R24: explode / flatten — tokenize and count words (the lateral
    // view primitive every text pipeline needs).
    "q26_word_explode" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          explode(graft.operators.Dedup.tokens(col("text"))).as("word"))
        .groupBy("lang", "word")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 100)
        .orderBy("lang", "word")
    }),

    // R25: set operations — INTERSECT / EXCEPT (distinct semantics).
    "q27_set_ops" -> ((s, dir) => {
      val building = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_nationkey").as("nationkey"))
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 8000)
        .select(col("c_nationkey").as("nationkey"))
      building.intersect(rich)
        .withColumn("src", lit("both"))
        .union(building.except(rich).withColumn("src", lit("building_only")))
        .orderBy("src", "nationkey")
    }),

    // R26: full outer join — customers with/without orders union'd
    // with orphan order keys (null-safe aggregation on both sides).
    "q28_full_outer" -> ((s, dir) => {
      val spend = t(s, dir, "orders").groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("spend"))
      t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
        .join(spend, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"),
          coalesce(col("spend"), lit(0.0)).as("spend"))
        .orderBy("custkey")
    }),

    // R27b: rank-family window functions in one pass (shared sort).
    "q29_rank_funcs" -> ((s, dir) => {
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct", round(percent_rank().over(w), 6))
        .filter(col("drnk") <= 10)
        .select("l_returnflag", "drnk", "quartile", "pct", "l_orderkey", "l_linenumber")
        .orderBy("l_returnflag", "drnk", "l_orderkey", "l_linenumber")
    }),

    // R15b: string function battery (pad/translate/regex/position).
    "q30_string_extra" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          lpad(col("p_brand"), 12, "_").as("padded"),
          translate(col("p_type"), "AEIOU", "aeiou").as("xlated"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("novowels"),
          instr(col("p_type"), "BRUSHED").as("brushed_at"),
          reverse(substring(col("p_name"), 1, 6)).as("rev6"))
        .orderBy("p_partkey")
    }),

    // R22: repartition + sortWithinPartitions — the write-clustering
    // primitive (what you'd do before a bucketed/sorted parquet write).
    // Row content deterministic, global order not → rows-only check.
    "q22_cluster_sort" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .repartition(col("l_suppkey"))
        .sortWithinPartitions("l_suppkey", "l_shipdate")
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate")
    }),

    // R36: range join (v in [lo, hi)) against OVERLAPPING price bands,
    // planned as bucket-expansion + equi-join (RangeJoin operator) —
    // no BroadcastNestedLoopJoin anywhere in the plan.
    "q31_range_join" -> ((s, dir) => {
      val bands = s.range(0, 130).select(
        col("id").as("band"),
        (col("id") * 900.0).as("lo"),
        (col("id") * 900.0 + 1800.0).as("hi"))
      graft.operators.RangeJoin
        .byBucket(t(s, dir, "lineitem"), col("l_extendedprice"), bands,
          col("lo"), col("hi"), w = 900.0)
        .groupBy("band")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total"))
        .orderBy("band")
    }),

    // R31 as a checked query: salted skew join ≡ the plain join — the
    // salt spreads each hot key over 8 tasks without changing row
    // multiplicity, so the plain-join oracle verifies it exactly.
    "q32_skew_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.saltedInnerJoin(li, ord, "l_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // R37: bloom-filter runtime join pruning — a ~1%-selective orders
    // predicate builds a bloom over the surviving o_orderkey set; the
    // lineitem side drops non-matching rows at scan time, BEFORE its
    // shuffle. Bloom false positives die in the join, so the plain-join
    // oracle verifies the result exactly.
    "q33_bloom_join" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1997-01-01"))
        .select("o_orderkey", "o_orderdate")
      graft.operators.BloomJoin
        .prunedJoin(t(s, dir, "lineitem"), ord, "l_orderkey", "o_orderkey",
          expectedItems = 100000L)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("month")
    }),

    // R39: theta sketch set algebra — customer-set overlap between two
    // order-priority populations, one pass over orders building both
    // sketches as conditional aggregates. At lgK=16 the sketches stay
    // exact for every distinct count below 65536 (all test SFs), so
    // the exact-distinct oracle verifies the full update/merge/
    // serialize/intersect chain; ThetaSpec covers estimation mode.
    "q36_theta_overlap" -> ((s, dir) => {
      import graft.functions.GraftFunctions._
      t(s, dir, "orders")
        .agg(
          theta_sketch(when(col("o_orderpriority") === "1-URGENT", col("o_custkey")), 16).as("sa"),
          theta_sketch(when(col("o_orderpriority") === "5-LOW", col("o_custkey")), 16).as("sb"))
        .select(
          theta_estimate(col("sa")).cast("long").as("n_urgent"),
          theta_estimate(col("sb")).cast("long").as("n_low"),
          theta_intersect_estimate(col("sa"), col("sb")).cast("long").as("n_both"),
          theta_a_not_b_estimate(col("sa"), col("sb")).cast("long").as("n_urgent_only"))
    }),

    // R44: retention cohorts — users bucketed by first-seen day,
    // distinct actives per (cohort, weeks-since). The cohort frame is
    // user-cardinality (NOT broadcast — it scales with the fact side);
    // the join shuffles on user_id, then one keyed distinct-agg.
    // Pure integer date arithmetic → exact.
    // R45: running DISTINCT count over a window — Spark has no
    // COUNT(DISTINCT) window function; the canonical plan is
    // size(collect_set() OVER w), which keeps the distinct set as
    // window state. Fine when the distinct domain per partition is
    // small (priorities: ≤5 here); for wide domains the scalable
    // rewrite is a dense_rank-over-first-occurrence self-maintaining
    // form. Explicit ROWS frame + unique tiebreak so both engines
    // see identical frames.
    // R49: time-RANGE window frame — 30-day trailing spend per
    // customer (RANGE BETWEEN 29 PRECEDING AND CURRENT ROW over epoch
    // days). Unlike the ROWS frames elsewhere (q08/q42), the frame is
    // defined by the ORDER-BY VALUE, so same-day peer rows always
    // share a frame and tie order cannot matter. Money as integer
    // cents → frame sums exact; one shuffle on the partition key.
    // R50: data-quality audit gate (Deequ-style) — the validation
    // pass a pipeline runs before training: null/range/uniqueness
    // constraints in ONE scan (multi-measure aggregate + one distinct)
    // plus referential integrity via a single anti-join, unpivoted
    // into a (check, violations, pass) report. At 100 TB this is one
    // fact scan + one key-shuffle; the report is 6 rows.
    // R51: exact grouped quantiles by rank selection — the EXACT
    // counterpart of the KLL sketch path (F11): per (group, measure),
    // lower median and p90 picked by integer rank over a sorted
    // window. Rank targets are pure integer arithmetic ((n+1) div 2,
    // (9n+9) div 10 = ceil(9n/10)) — a float 0.9·n would ceil apart
    // across engines on exact multiples. Measures unpivot first, so
    // ONE shuffle/sort on (group, measure) covers every measure —
    // the generic shape for "exact p50/p90/p99 per key" reports. At
    // 100 TB the sort cost is per-(group,measure) partition; for
    // global or skew-heavy quantiles the KLL aggregate is the scale
    // path, this is the exact one.
    "q48_group_quantiles" -> ((s, dir) => {
      val m = t(s, dir, "lineitem").selectExpr(
        "l_returnflag", "l_linestatus",
        """stack(2,
          |  'price_cents', CAST(round(l_extendedprice * 100) AS BIGINT),
          |  'quantity',    CAST(l_quantity AS BIGINT)) AS (measure, v)"""
          .stripMargin)
      // Since round 8 the exact selection is sort-free: the ranked
      // window sorted every (group, measure) inside ONE task — the
      // d24 failure class at corpus scale — while the bracketed form
      // (ExactQuantiles.groupedExactSelect) is two linear map-side-
      // combined aggregations + a broadcast, with the SAME exact
      // multiset order statistics (same oracle; spec pins equality
      // with the ranked-window form incl. tie/tiny-group corpora).
      graft.operators.ExactQuantiles.groupedExactSelect(m,
          Seq("l_returnflag", "l_linestatus", "measure"), "v",
          Seq(
            ("median_v", 0.5,
              (n: org.apache.spark.sql.Column) =>
                floor((n + lit(1L)).cast("double") / 2.0).cast("long")),
            ("p90_v", 0.9,
              (n: org.apache.spark.sql.Column) =>
                floor((n * lit(9L) + lit(9L)).cast("double") / 10.0).cast("long"))))
        .orderBy("l_returnflag", "l_linestatus", "measure")
    }),

    // R52: interval sweep-line concurrency — how many orders are
    // "open" on each calendar day (open = [o_orderdate, +(key%30+1)
    // days), a deterministic synthetic duration since the schema has
    // no close date). The classic +1/−1 delta sweep: explode each
    // interval to two endpoint deltas (narrow), ONE linear shuffle to
    // per-day sums, then a running sum over the DAY table — date-
    // cardinality rows (thousands), a deliberately driver-small
    // global window, never the fact table. All integer/date math →
    // hash-exact.
    "q49_open_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders").selectExpr(
        "CAST(o_orderdate AS DATE) AS s",
        "date_add(CAST(o_orderdate AS DATE), CAST(o_orderkey % 30 + 1 AS INT)) AS e")
      o.select(explode(array(
          struct(col("s").as("d"), lit(1L).as("delta")),
          struct(col("e").as("d"), lit(-1L).as("delta")))).as("x"))
        .select(col("x.d").as("d"), col("x.delta").as("delta"))
        .groupBy("d").agg(sum("delta").as("delta"))
        .withColumn("open", sum("delta").over(Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("d"), col("open"))
        .orderBy("d")
    }),

    // R53: compaction planner (OPTIMIZE bin-packing) — the
    // table-maintenance op: given a file inventory (documents stand
    // in as files: partition = source, bytes = n_chars), assign
    // files to target-size output bins by START OFFSET (cumulative
    // size before the file, div target) within each partition, and
    // emit the per-bin write manifest plus before/after file counts.
    // One window per partition key over the inventory (file-count
    // cardinality, not data) — the plan an engine's OPTIMIZE would
    // hand its rewrite tasks. All integer math → hash-exact.
    "q50_compaction" -> ((s, dir) => {
      val target = 4000L
      // Total order: a generated inventory may carry duplicate doc_id
      // within a source (the q08 lesson) — tie-break on bytes, after
      // which any remaining ties are FULLY identical (source, doc_id,
      // bytes) rows, so every ordering yields the same output multiset.
      // Inputs are cast to explicit types on BOTH sides so a drifted
      // physical parquet schema (int32 ids, double sizes) can't change
      // the arithmetic.
      val w = Window.partitionBy("source")
        .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("bytes"))
      val inv = t(s, dir, "documents")
        .select(col("source").cast("string").as("source"),
          col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("bytes"))
        .withColumn("start_off",
          coalesce(sum("bytes").over(w.rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("bin", expr(s"start_off div $target"))
        .withColumn("small", (col("bytes") < target).cast("long"))
      inv.groupBy("source", "bin")
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("bytes"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
          sum("small").as("n_small_files"))
        .orderBy("source", "bin")
    }),

    // R54: CDC latest-wins merge (the MERGE INTO / SCD1 apply): a
    // versioned changelog (deterministically derived: every even
    // orderkey carries versions 1..(key%3+1); op is DELETE when
    // (key+ver)%7=0, else UPSERT with price+ver) collapses to its
    // highest version per key — ONE window over the changelog, which
    // at scale is the small delta side — then full-outer-merges onto
    // the base snapshot (odd keys excluded-from-delta remain
    // untouched): delete tombstones drop the row, upserts replace,
    // base rows pass through. Exactly Delta/Iceberg MERGE semantics
    // composed from window + full outer join.
    // R55: RECURSIVE CTE — hierarchy walk on Spark 4's native
    // WITH RECURSIVE (UnionLoopExec: seed materialized, step re-joined
    // per level, loop ends when a level is empty — the engine-managed
    // form of the iterate-and-persist loops ConnectedComponents hand-
    // rolls). The hierarchy is the implicit binary tree parent(k) =
    // k div 2 over supplier keys; each node walks to the root, so
    // depth/root are pure integer facts both engines must agree on.
    // Levels here are log2(|supplier|) and each level is a narrow
    // projection — at 100 TB the same plan walks a real parts/org
    // hierarchy with dim-sized levels.
    // R30+: Avro round-trip DRIVER-VERIFIED (the f08 FCS pattern
    // applied to AvroIO): lineitem → avro container files (one per
    // partition, deflate, timestamp-micros) → read back → aggregate.
    // The ORACLE computes the same aggregates from the PARQUET table,
    // so DuckDB certifies the whole encode→decode path value-for-
    // value — any header/codec/timestamp bug changes the sums. All
    // aggregated quantities are integer-exact (cents as BIGINT,
    // micros div 1e6 as seconds), so partial-aggregation order can't
    // drift them.
    "q53_avro_roundtrip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_shipdate"))
      // pid-suffixed path via scratchDir: contended Bench/Verify
      // processes must not interleave each other's container files,
      // and dead runs' leftovers are swept here instead of
      // accumulating in /tmp.
      val tmp = graft.sources.TidyIO.scratchDir("graft_avro_rt")
      graft.sources.AvroIO.write(li, tmp)
      graft.sources.AvroIO.read(s, tmp)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("sum_cents"),
          // NTZ-or-TIMESTAMP robust: UTC session makes the cast a pure
          // reinterpretation on either physical arrival
          sum(expr("unix_micros(cast(l_shipdate as timestamp)) div 1000000"))
            .as("sum_ship_s"))
        .orderBy("l_returnflag")
    }),

    "q52_recursive_tree" -> ((s, dir) => {
      val view = s"supplier_rec_${java.util.UUID.randomUUID.toString.take(8)}"
      t(s, dir, "supplier").select(col("s_suppkey").cast("long").as("s_suppkey"))
        .createOrReplaceTempView(view)
      val out = s.sql(
        s"""WITH RECURSIVE chain(node, a) AS (
           |  SELECT s_suppkey, s_suppkey FROM $view
           |  UNION ALL
           |  SELECT node, a div 2 FROM chain WHERE a >= 2
           |)
           |SELECT node, count(*) AS depth, min(a) AS root
           |FROM chain GROUP BY node ORDER BY node""".stripMargin)
      s.catalog.dropTempView(view)
      out
    }),

    "q51_cdc_merge" -> ((s, dir) =>
      cdcInstance(s, dir) match { case (base, changelog) =>
        graft.operators.ChangeLog.latestState(base, changelog).orderBy("k")
      }),

    // R65/q63: snapshot TIME-TRAVEL read — the consumption twin of
    // q51's latest-wins collapse: rebuild the table state AS OF
    // version 2 from the SAME base + changelog (shared cdcInstance
    // body, shared ChangeLog operator — asOfVersion is latestState
    // over the `ver <= k` prefix), the Delta/Iceberg "SELECT ... AS
    // OF" read users run against CDC stores. Keys whose only ops are
    // beyond version 2 revert to their base row; a key deleted at
    // ver ≤ 2 but re-upserted later stays deleted in this snapshot.
    // The oracle replays q51's text with the same prefix bound
    // (shared cdcMergeSql). Same scale shape as q51: one changelog
    // window + one keyed full-outer join, both linear — the version
    // filter PRUNES changelog partitions when stored ver-partitioned.
    "q63_time_travel" -> ((s, dir) =>
      cdcInstance(s, dir) match { case (base, changelog) =>
        graft.operators.ChangeLog.asOfVersion(base, changelog, 2L).orderBy("k")
      }),

    // R66/q64: PERMISSIVE-ingest quarantine (the DQ story's INGEST
    // half, next to q47's post-ingest audit): orders synthesized as
    // JSONL with keys ≡ 0 (mod 7) truncated mid-record — the classic
    // partial-write corruption — written as real text files and read
    // back through TidyIO.readJsonl's PERMISSIVE + _corrupt_record
    // path. Malformed lines land in the quarantine group with every
    // data column NULL; the rollup certifies the reader's error
    // routing value-for-value (the oracle replays the corruption
    // rule — it never parses JSON). At 100 TB this is THE ingest
    // posture: a corrupt shard must quarantine rows, not kill the
    // job; FAILFAST is the alternative documented in readJsonl.
    "q64_jsonl_quarantine" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
          .as("cents"),
        coalesce(col("o_orderpriority").cast("string"), lit("")).as("prio"))
      val line = concat(lit("{\"k\":"), col("k"),
        lit(",\"cents\":"), col("cents"),
        lit(",\"prio\":\""), col("prio"), lit("\"}"))
      // 15-char prefix can never close the object → always malformed
      val written = when(pmod(col("k"), lit(7)) === 0,
        substring(line, 1, 15)).otherwise(line)
      val tmp = graft.sources.TidyIO.scratchDir("graft_jsonl_q")
      o.select(written.as("value")).write.mode("overwrite").text(tmp)
      graft.sources.TidyIO
        .readJsonl(s, tmp, Some("k BIGINT, cents BIGINT, prio STRING"))
        .groupBy(coalesce(col("prio"), lit("__quarantine__")).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("_corrupt_record")).as("n_bad"),
          sum(col("cents")).as("sum_cents"))
        .orderBy("bucket")
    }),

    // R73/q71: DESCRIBE HISTORY — the audit surface every lakehouse
    // exposes (Delta's DESCRIBE HISTORY / Iceberg's snapshots table):
    // one row per LIVE version with action, resolved manifest kind,
    // and EXACT row count. Driven over the q67 lifecycle (overwrite →
    // delta append → delta compact → delta append → vacuum to v2):
    // after vacuum only v2/v3 are live, v2 resolves through its
    // materialized checkpoint (kind full), v3 stays a delta; row
    // counts certify the manifests' footer-stat bookkeeping against
    // the oracle's raw recompute. n_files is shown by the API but
    // not emitted here — file counts depend on binning, not content.
    "q71_table_history" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q71_history")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 0L), root,
        layout, 8, "overwrite", checkpointInterval = 10)
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 1L), root,
        layout, 4, "append", checkpointInterval = 10)
      TableLog.compact(s, root, "k", targetRows = 20000L,
        smallRows = Long.MaxValue, checkpointInterval = 10)
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 2L), root,
        layout, 4, "append", checkpointInterval = 10)
      TableLog.vacuum(root, keepFrom = 2L)
      TableLog.history(s, root)
        .select(col("version"), col("action"), col("kind"), col("n_rows"))
        .orderBy("version")
    }),

    // R75/q73: SCHEMA EVOLUTION through the commit log — q57's
    // certified column-accretion convention moved INSIDE the store
    // (Delta's mergeSchema/ALTER TABLE ADD COLUMN shape): odd/null-
    // key orders commit as v0 with (k, cents); the even-key batch
    // arrives accreted with prio. The drifted append is attempted
    // WITHOUT evolve and must reject loudly with the store left
    // bit-identical (the q69 reject-before-IO posture — a silent
    // accept here was round 11's missing-item 1: whichever file
    // footer won the read decided whether prio existed). The same
    // batch with evolve=true lands, the head read resolves the
    // MANIFEST's accreted DDL and null-fills the pre-evolution
    // files (schema-on-read from store metadata, never footer
    // order), while AS-OF v0 keeps the old 2-column schema —
    // emitted as n_v0_cols. Oracle replays q57's old-batch →
    // 'missing' convention from raw orders. Scale shape: evolution
    // is METADATA-ONLY (no rewrite of old files — they null-fill at
    // scan time forever), exactly how Delta/Iceberg make ADD COLUMN
    // O(1) on a 100 TB table.
    "q73_schema_evolution" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q73_evolve")
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
          .as("cents"),
        col("o_orderpriority").cast("string").as("prio"))
      val isNew = coalesce(pmod(col("k"), lit(2)) === 0, lit(false))
      val accreted = o.filter(isNew).select("k", "cents", "prio")
      TableLog.commit(o.filter(!isNew).select("k", "cents"), root,
        expr("k div 500"), 8, "overwrite")
      val rejected =
        try { TableLog.commit(accreted, root, expr("k div 500"), 8, "append"); 0L }
        catch { case _: IllegalArgumentException => 1L }
      TableLog.commit(accreted, root, expr("k div 500"), 8, "append",
        evolve = true)
      val nV0Cols = TableLog.read(s, root, asOf = Some(0L)).schema.size.toLong
      TableLog.read(s, root)
        .select(coalesce(col("prio"), lit("missing")).as("prio"), col("cents"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .withColumn("rejected", lit(rejected))
        .withColumn("n_v0_cols", lit(nV0Cols))
        .orderBy("prio")
    }),

    // R76/q74: CHANGE DATA FEED read — the consumption twin of the
    // commit log's write path (Delta's table_changes / Iceberg's
    // incremental read, the round-11 missing-item 2: everything
    // streamed INTO the store, nothing read incrementally OUT of
    // it): the feed replays each commit's file-level delta from the
    // manifests alone — version 0's initial snapshot and the two
    // appends surface as row-exact inserts, and a final snapshot
    // RESET (overwrite back to subset A) surfaces as delete-all +
    // insert-A, stamped with _commit_version/_change_type. The
    // oracle reconstructs the whole feed from raw orders by set
    // algebra, so a wrong delta diff, version stamp, or a feed that
    // rescans the snapshot instead of the churned files shows up
    // value-for-value. Scale shape: metadata-resolved file diffs +
    // two scans over exactly the churned files — never O(snapshot);
    // the downstream-pipeline primitive that makes incremental
    // recrawl processing (d25) possible off the store itself.
    "q74_change_feed" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q74_cdf")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 0L), root,
        layout, 8, "overwrite") // v0: initial snapshot
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 1L), root,
        layout, 4, "append") // v1
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 2L), root,
        layout, 4, "append") // v2
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 0L), root,
        layout, 8, "overwrite") // v3: snapshot reset → delete-all + insert-A
      TableLog.readChangeFeed(s, root, 0L, 3L)
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("price").as("sum_price"))
        .orderBy("version", "change_type")
    }),

    // R77/q75: MERGE-ON-READ deletion vectors — the sparse-delete
    // shape copy-on-write can't afford (round-11 missing-item 3; a
    // ~2%-density change batch under q65's CoW merge rewrites every
    // zone-hit file): mergeMor keeps hit files byte-identical and
    // rides their freshly deleted KEYS on the manifest as deletion
    // vectors, writing only the new state (updates) as data files.
    // Certified value-for-value three ways in one row: the head
    // merge-on-read READ equals the q51 latest-wins recompute (dv
    // suppression exact), the change feed surfaces the dv growth as
    // row-exact deletes + the new files as inserts (old values and
    // new values separately summed), and n_rewritten = 0 proves the
    // physical claim THROUGH the oracle — a threshold bug that
    // silently falls back to rewrite flips it via versionDelta's
    // remove count. Scale: the merge writes one manifest + update-
    // sized files for a sparse batch over any table size; readers
    // pay a codegen'd array probe until compact/recluster
    // materializes the vectors away (TableLogSpec pins that half).
    "q75_dv_merge" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q75_dv")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      TableLog.commit(o, root, layout, 16, "overwrite")
      val r = pmod(col("k"), lit(97L))
      val changes = o.filter(r.isin(0L, 1L))
        .select(col("k"), lit(1L).as("ver"),
          when(r === 0L, "D").otherwise("U").as("op"),
          (col("price") + lit(100L)).as("new_price"))
      TableLog.mergeMor(s, root, changes, "k", layout, 4)
      val feed = TableLog.readChangeFeed(s, root, 1L, 1L)
      // 1-row bounded driver aggregates (the q72 probe pattern)
      val d = feed.filter(col("_change_type") === "delete")
        .agg(count(lit(1)), sum("price")).collect()(0)
      val i = feed.filter(col("_change_type") === "insert")
        .agg(count(lit(1)), sum("price")).collect()(0)
      val nRewritten = TableLog.versionDelta(root, 1L)._2.size.toLong
      TableLog.read(s, root)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("price").as("sum_price"))
        .select(col("n_rows"), col("n_keys"), col("sum_price"),
          lit(d.getLong(0)).as("n_cdf_del"),
          lit(d.getLong(1)).as("sum_cdf_del"),
          lit(i.getLong(0)).as("n_cdf_ins"),
          lit(i.getLong(1)).as("sum_cdf_ins"),
          lit(nRewritten).as("n_rewritten"))
    }),

    // R78/q76: the SQL SURFACE for the commit log — a DSv2
    // TableProvider (`spark.read.format("graftlog")`, the Delta
    // `format("delta")` shape; round-11 missing-item 4: the store
    // was API-only) whose scan hands row IO back to the store's one
    // DV-/evolution-aware read path through the official V1Scan
    // shim, with WHERE clauses pushed down as FILE pruning (zone
    // ranges + bloom equality; every filter still re-applied
    // row-level, so a false-positive file costs IO never
    // correctness). The query mounts the store twice — head and
    // `versionAsOf` 0 — as temp views and runs plain spark.sql over
    // them: a grouped range aggregate on the head plus a scalar
    // subquery counting the SAME range at v0, so schema resolution,
    // version pinning, pushdown, and the time-travel option are all
    // certified through the SQL entry point against a raw-orders
    // oracle. File-count prune assertions live in GraftLogDsvSpec
    // (the parquet scan nests inside the relation, invisible to the
    // outer plan). Scale: plan cost is one manifest read; the scan
    // reads exactly the files the range could not exclude.
    "q76_sql_store" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q76_dsv2")
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
          .as("cents"),
        col("o_orderpriority").cast("string").as("prio"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      val even = pmod(col("k"), lit(2L)) === 0L
      TableLog.commit(o.filter(even), root, layout, 8, "overwrite") // v0
      TableLog.commit(o.filter(!even), root, layout, 8, "append") // v1 = head
      s.read.format("graftlog").option("path", root).load()
        .createOrReplaceTempView("graft_store")
      s.read.format("graftlog").option("path", root)
        .option("versionAsOf", "0").load()
        .createOrReplaceTempView("graft_store_v0")
      s.sql(
        """SELECT prio, count(*) AS n, sum(cents) AS sum_cents,
          |  (SELECT count(*) FROM graft_store_v0
          |   WHERE k BETWEEN 500 AND 2500) AS n_v0_range
          |FROM graft_store WHERE k BETWEEN 500 AND 2500
          |GROUP BY prio ORDER BY prio""".stripMargin)
    }),

    // R84/q81: HILBERT-curve layout through the commit log — the
    // better-locality alternative to q68's Morton tiles (Hilbert
    // 1891; the curve consecutive-index property: each step moves
    // one cell in exactly ONE axis, so the curve never teleports
    // across the grid the way Morton does at power-of-two
    // boundaries — equal key ranges cover tighter 2-D tiles, the
    // reason Databricks added liquid/Hilbert clustering over
    // ZORDER). Same drama as q68: orders bucketed to a 256×256
    // (price, key) grid, committed through the store with layout =
    // Hilbert tile id (16 contiguous curve segments), then a 2-D
    // range read through conjunctive zone pruning; the oracle
    // recomputes the range aggregate from raw orders — layout can
    // never change CONTENT, so a curve bug surfaces as a value diff
    // through wrongly-pruned files. Curve properties (bijectivity,
    // unit-step adjacency — exhaustive) and the codegen'd SQL
    // surface are pinned in ZOrderSpec.
    "q81_hilbert_log" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q81_hlog")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("k").isNotNull)
        .withColumn("xb", expr("least(cents div 100000, CAST(255 AS BIGINT))"))
        .withColumn("yb", pmod(col("k"), lit(256L)))
      // layout = Hilbert tile id: d < 65536 on the 8-bit grid,
      // div 4096 → 16 contiguous curve segments
      TableLog.commit(o, root,
        (graft.operators.ZOrder.hkey(col("xb"), col("yb"), 8) / lit(4096))
          .cast("long"),
        numFiles = 16, mode = "overwrite")
      TableLog.read(s, root, Seq(
          GreaterThanOrEqual("xb", 30L), LessThanOrEqual("xb", 70L),
          GreaterThanOrEqual("yb", 32L), LessThanOrEqual("yb", 159L)))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("cents").as("sum_cents"))
    }),

    // R83/q80: ANALYZE — column statistics as a versioned store
    // artifact (Iceberg's puffin NDV-sketch files / Delta's ANALYZE
    // extended stats): one column-pruned pass over the snapshot
    // writes per-(file, column) row/null counts, min/max, and a
    // theta NDV sketch under _stats/v<k>; the stats READ then costs
    // zero data IO — tableStats union-merges the file sketches per
    // column (the q37 rollup move; exact below the 2^16 capacity,
    // mergeable above it — the reason the STORED form is a sketch
    // and not a number: any future file grouping re-aggregates).
    // The oracle recomputes every statistic exactly from raw orders,
    // so a wrong sketch merge, a lost file, or an estimate that left
    // exact mode is a value diff. TableLogSpec pins the
    // artifact-only consumption (no data files in the stats plan).
    "q80_analyze" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q80_stats")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("cust"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      val even = pmod(col("k"), lit(2L)) === 0L
      TableLog.commit(o.filter(even), root, layout, 8, "overwrite")
      TableLog.commit(o.filter(!even), root, layout, 8, "append")
      TableLog.analyze(s, root, Seq("k", "cust", "cents"), lgK = 16)
      // numeric surface only — the string lanes are q90's query
      TableLog.tableStats(s, root)
        .select("col_name", "n_rows", "n_nulls", "zmin", "zmax", "ndv")
        .orderBy("col_name")
    }),

    // R82/q79: the change feed through the SQL surface — Delta's
    // `table_changes(...)` shape on the R78 provider: `changeFeed=
    // true` mounts q74's row-level feed as a relation with
    // `startingVersion`/`endingVersion` window options, and plain
    // spark.sql consumes it — HERE with a row-level predicate
    // (k even) applied ABOVE the feed scan, certifying that filters
    // compose with the CDF relation (no file pruning claimed: the
    // feed's file set is already exactly the churn). Same store
    // drama as q74 (snapshot → two appends → overwrite reset); the
    // oracle replays the even-key half of the feed by set algebra.
    "q79_sql_changes" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q79_sqlcdf")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 0L), root,
        layout, 8, "overwrite") // v0
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 1L), root,
        layout, 4, "append") // v1
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 2L), root,
        layout, 4, "append") // v2
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 0L), root,
        layout, 8, "overwrite") // v3: reset
      s.read.format("graftlog").option("path", root)
        .option("changeFeed", "true")
        .option("startingVersion", "0").option("endingVersion", "3")
        .load().createOrReplaceTempView("graft_changes")
      s.sql(
        """SELECT _commit_version AS version, _change_type AS change_type,
          |  count(*) AS n_rows, sum(price) AS sum_price
          |FROM graft_changes WHERE k % 2 = 0
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }),

    // R80/q77: RESTORE — Delta's `RESTORE TABLE … TO VERSION AS OF`
    // through the commit log: a bad deploy appends two batches on
    // top of the blessed snapshot, restore rolls the HEAD back as a
    // NEW commit (pure metadata — the old version's immutable files
    // are re-listed, zero data IO), and history keeps every version
    // readable AS OF. Certified value-for-value four ways in one
    // pass: the post-restore head read equals the blessed subset
    // (plus the post-restore append — life goes on after a
    // rollback), the change feed surfaces the restore as row-exact
    // DELETES of exactly the rolled-back batches with zero inserts
    // (v3's file list IS v0's, so the diff is pure removes — a
    // restore that rewrote data would show up as inserts), the as-of
    // read ABOVE the restore still sees the pre-restore world (time
    // travel intact), and the history row count + restore-action
    // count pin the audit surface. Scale: restore cost is one
    // manifest read + one manifest write regardless of table size.
    "q77_restore" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q77_restore")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      val m = pmod(col("k"), lit(3L))
      TableLog.commit(o.filter(m === 0L), root, layout, 8, "overwrite") // v0
      TableLog.commit(o.filter(m === 1L), root, layout, 4, "append") // v1
      TableLog.commit(o.filter(m === 2L), root, layout, 4, "append") // v2
      TableLog.restore(root, 0L) // v3: head == v0 again
      TableLog.commit(o.filter(m === 1L), root, layout, 4, "append") // v4
      val feed = TableLog.readChangeFeed(s, root, 3L, 3L)
      // 1-row bounded driver aggregates (the q75 probe pattern)
      val d = feed.filter(col("_change_type") === "delete")
        .agg(count(lit(1)), sum("price")).collect()(0)
      val nIns = feed.filter(col("_change_type") === "insert").count()
      val nAsOfV2 = TableLog.read(s, root, asOf = Some(2L)).count()
      val hist = TableLog.history(s, root)
        .agg(count(lit(1)),
          sum(when(col("action").startsWith("restore="), 1L).otherwise(0L)))
        .collect()(0)
      TableLog.read(s, root)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("price").as("sum_price"))
        .select(col("n_rows"), col("n_keys"), col("sum_price"),
          lit(d.getLong(0)).as("n_cdf_del"),
          lit(d.getLong(1)).as("sum_cdf_del"),
          lit(nIns).as("n_cdf_ins"),
          lit(nAsOfV2).as("n_asof_v2"),
          lit(hist.getLong(0)).as("n_versions"),
          lit(hist.getLong(1)).as("n_restores"))
    }),

    // R85/q82: TIMESTAMP AS OF + AGE-based retention — the way users
    // actually address a lakehouse (Delta's `timestampAsOf` /
    // `VACUUM … RETAIN n HOURS`; round-12 missing-item 1: every
    // time-travel/CDF/vacuum surface was VERSION-addressed only).
    // Three commits land with explicit, deterministic clock stamps
    // (1000/2000/3000 ms — the injected-clock discipline; production
    // writers omit commitTs and get the wall clock, clamped
    // non-decreasing against the parent). Certified in one row: the
    // TIMESTAMP-AS-OF 2500 read equals the v1 snapshot recomputed
    // from raw orders (between-commits resolves DOWN to what was
    // current), the exact-stamp boundary (2000 → v1) and the
    // after-head boundary (→ head) pin Delta's resolution rule
    // through the SQL surface's `timestampAsOf` option as well, and
    // vacuumOlderThan(2500) retires exactly the pre-boundary history
    // (v0 dies — its as-of read now fails loudly; the boundary
    // version v1 survives BY CONSTRUCTION because a cutoff-instant
    // read resolves to it). before-first is a loud error, pinned in
    // TableLogSpec. Scale: resolution is one header line per live
    // version — never a manifest resolve, never data IO.
    "q82_timestamp_travel" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q82_tsasof")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      val m = pmod(col("k"), lit(3L))
      TableLog.commit(o.filter(m === 0L), root, layout, 8, "overwrite",
        commitTs = Some(1000L)) // v0 @ t=1000
      TableLog.commit(o.filter(m === 1L), root, layout, 4, "append",
        commitTs = Some(2000L)) // v1 @ t=2000
      TableLog.commit(o.filter(m === 2L), root, layout, 4, "append",
        commitTs = Some(3000L)) // v2 @ t=3000
      val vMid = TableLog.versionAtTimestamp(root, 2500L) // between → v1
      val vExact = TableLog.versionAtTimestamp(root, 2000L) // exact → v1
      val vLate = TableLog.versionAtTimestamp(root, 999999L) // beyond → head
      // the SQL surface resolves the same instant to the same snapshot
      val nSql = s.read.format("graftlog").option("path", root)
        .option("timestampAsOf", "2500").load().count()
      // age-based retention: drop history strictly older than the
      // cutoff instant — v0's MANIFEST dies (its files survive,
      // shared with the live v1 snapshot — append carries them
      // forward), the boundary v1 stays readable
      TableLog.vacuumOlderThan(root, 2500L)
      val nLive = TableLog.history(s, root).count()
      val v0Gone =
        try { TableLog.read(s, root, asOf = Some(0L)).count(); 0L }
        catch { case _: IllegalArgumentException => 1L }
      TableLog.readAsOfTimestamp(s, root, 2500L)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("price").as("sum_price"))
        .select(col("n_rows"), col("n_keys"), col("sum_price"),
          lit(nSql).as("n_sql_rows"),
          lit(vMid).as("v_mid"), lit(vExact).as("v_exact"),
          lit(vLate).as("v_head"),
          lit(nLive).as("n_live_versions"),
          lit(v0Gone).as("v0_gone"))
    }),

    // R86/q83: STRING zone maps — zones existed only for integral
    // columns (round-12 missing-item 2), so a WHERE on the columns a
    // TEXT corpus actually filters by (source, lang, priority, url
    // domain — all strings) scanned every file. footerStats now keeps
    // a truncated (16-byte, codepoint-safe) bytewise min/max per
    // string column, Delta's truncated-stats shape, with the
    // truncation-safe comparison rule: a truncated max is a PREFIX of
    // the true max, so only a probe whose own prefix sorts above it
    // can exclude. Drama: orders clustered by priority's first byte →
    // per-file prio zones are tight; a string RANGE read through the
    // API and a string EQUALITY through the DSv2 SQL surface both
    // prune files (pruned=1 is the planFiles claim; exact file
    // counts live in TableLogSpec/GraftLogDsvSpec) and both equal the
    // raw-orders recompute — bytewise order is what Spark's
    // UTF8String AND DuckDB's collation-free VARCHAR use, so the
    // oracle is exact. Scale: same manifest-only set arithmetic as
    // long zones; the manifest grows ≤16 bytes × string columns per
    // file.
    "q83_string_zones" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q83_strz")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"),
          col("o_orderpriority").cast("string").as("prio"))
        .filter(col("k").isNotNull && col("prio").isNotNull)
      // numFiles=5: the five priority first bytes ('1'..'5' = 49..53)
      // are distinct mod 5, so every slot fills — one priority per
      // file, tight single-value string zones, no phantom empty files
      TableLog.commit(o, root, ascii(substring(col("prio"), 1, 1)),
        5, "overwrite")
      val prioRange = Seq(GreaterThanOrEqual("prio", "2-HIGH"),
        LessThanOrEqual("prio", "3-MEDIUM"))
      val (sel, total) = TableLog.planFiles(root, prioRange)
      val pruned = if (sel.size < total) 1L else 0L
      val range = TableLog.read(s, root, prioRange)
        .agg(count(lit(1)).as("n"), sum("cents").as("sc")).collect()(0)
      s.read.format("graftlog").option("path", root).load()
        .createOrReplaceTempView("graft_strz")
      s.sql("""SELECT count(*) AS n_eq, sum(cents) AS sum_eq
              |FROM graft_strz WHERE prio = '1-URGENT'""".stripMargin)
        .select(lit(range.getLong(0)).as("n_range"),
          lit(range.getLong(1)).as("sum_range"),
          col("n_eq"), col("sum_eq"), lit(pruned).as("pruned"))
    }),

    // R87/q84: the SQL WRITE surface — `df.write.format("graftlog")`
    // with SaveMode.Append/Overwrite (round-12 missing-item 3: reads
    // mounted via SQL since q76 but every mutation was
    // Scala-API-only). The connector routes through the official V1
    // write shim into TableLog.commit — ONE write path, so the schema
    // gate, footer-stat zoning and the hard-link claim all apply to
    // SQL writes. Certified in one row: v0 lands via the API (even
    // keys), v1 via SQL append (odd keys — the as-of v1 aggregate
    // equals the full key set), a DRIFTED SQL append rejects loudly
    // with the store bit-identical (head_after_reject pins that no
    // version landed), and a SQL overwrite resets the snapshot to the
    // mod-3 subset as v2 (the head aggregate). Oracle recomputes all
    // of it from raw orders. Scale: identical to the API path by
    // construction — the SQL surface adds zero IO.
    "q84_sql_write" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q84_sqlw")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("k").isNotNull)
      val even = pmod(col("k"), lit(2L)) === 0L
      TableLog.commit(o.filter(even), root, expr("k div 500"), 8, "overwrite")
      o.filter(!even).write.format("graftlog").option("path", root)
        .option("layout", "k div 500").option("numFiles", "4")
        .mode("append").save() // v1 via SQL
      val v1 = TableLog.read(s, root, asOf = Some(1L))
        .agg(count(lit(1)), sum("cents")).collect()(0)
      val rejected =
        try {
          o.filter(!even).withColumnRenamed("cents", "price")
            .write.format("graftlog").option("path", root)
            .mode("append").save(); 0L
        } catch { case _: Exception => 1L }
      val headAfterReject = TableLog.currentVersion(root)
      o.filter(pmod(col("k"), lit(3L)) === 0L).write.format("graftlog")
        .option("path", root).option("layout", "k div 500")
        .mode("overwrite").save() // v2 via SQL: snapshot reset
      TableLog.read(s, root)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("cents").as("sum_cents"))
        .select(col("n_rows"), col("n_keys"), col("sum_cents"),
          lit(v1.getLong(0)).as("n_v1"), lit(v1.getLong(1)).as("sum_v1"),
          lit(rejected).as("rejected"),
          lit(headAfterReject).as("head_after_reject"),
          lit(TableLog.currentVersion(root)).as("head_version"))
    }),

    // R88/q85: the first STATISTICS CONSUMER — q80's ANALYZE
    // artifacts existed but nothing read them for planning (round-12
    // missing-item 6): readWithJoinHint broadcasts a store-resident
    // dimension when its ANALYZED row count sits under the threshold,
    // flipping the orders⋈customer-dim join from shuffle-both-sides
    // to a broadcast hash join WITHOUT the caller hard-coding which
    // side is small — the decision follows the data, re-made per
    // version as the table grows. The query certifies the hinted
    // path value-for-value against a plain SQL join oracle (a hint
    // can change the PLAN, never a value); the plan-flip assertion
    // (BroadcastHashJoin with the hint, SortMergeJoin without, under
    // autoBroadcastJoinThreshold=-1) lives in TableLogSpec. 100 TB:
    // this is the decision that removes the largest single shuffle
    // from a fact-dim join; the stats read is one artifact scan,
    // zero data IO.
    "q85_stats_join" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q85_cbo")
      val c = t(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("cust"),
          col("c_mktsegment").cast("string").as("segment"))
        .filter(col("cust").isNotNull)
      TableLog.commit(c, root, expr("cust div 500"), 4, "overwrite")
      TableLog.analyze(s, root, Seq("cust"))
      val dim = TableLog.readWithJoinHint(s, root,
        maxBroadcastRows = 10000000L)
      val o = t(s, dir, "orders")
        .select(col("o_custkey").cast("long").as("cust"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("cust").isNotNull)
      o.join(dim, Seq("cust"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
        .orderBy("segment")
    }),

    // R89/q86: TYPE-WIDENING schema evolution (Delta's type-widening
    // table feature — the OTHER evolution users hit after ADD COLUMN:
    // an id column ingested as INT overflows its range, or a late
    // producer still emits the narrow type): `evolve=true` now admits
    // widening-compatible retypes in EITHER direction along the
    // parquet-reader-safe lattice (TINYINT<SMALLINT<INT<BIGINT,
    // FLOAT→DOUBLE) — a WIDER batch accretes the manifest DDL to the
    // wider type and old narrow files upcast at scan time (the
    // vectorized reader resolves an int32 file under a BIGINT read
    // schema — metadata-only migration, zero rewrite), a NARROWER
    // batch lands as-is under the table's wide DDL, and an
    // incompatible retype (string) stays loud. Drama: v0 ingests INT
    // keys/cents, v1 arrives BIGINT + an accreted prio (widen + add
    // in one commit), v2 is a narrow INT straggler with prio; the
    // final grouped read must equal the raw recompute over ALL
    // segments with v0's rows bucketed 'missing' — a widening bug is
    // a lost segment or a broken sum; k_type pins the accreted DDL,
    // rejected the loud incompatible path. Scale: widening is O(1)
    // metadata on a 100 TB table, exactly Delta's shape.
    "q86_type_widening" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q86_widen")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"),
          col("o_orderpriority").cast("string").as("prio"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      val m = pmod(col("k"), lit(3L))
      TableLog.commit(o.filter(m === 0L)
        .select(col("k").cast("int").as("k"),
          col("cents").cast("int").as("cents")),
        root, layout, 8, "overwrite") // v0: narrow INT schema
      TableLog.commit(o.filter(m === 1L).select("k", "cents", "prio"),
        root, layout, 4, "append", evolve = true) // v1: widen + accrete
      TableLog.commit(o.filter(m === 2L)
        .select(col("k").cast("int").as("k"),
          col("cents").cast("int").as("cents"), col("prio")),
        root, layout, 4, "append", evolve = true) // v2: narrow straggler
      val rejected =
        try {
          TableLog.commit(o.limit(5)
            .select(col("k").cast("string").as("k"), col("cents"),
              col("prio")),
            root, layout, 1, "append", evolve = true); 0L
        } catch { case _: IllegalArgumentException => 1L }
      val head = TableLog.read(s, root)
      val kType = head.schema("k").dataType.sql
      head.groupBy(coalesce(col("prio"), lit("missing")).as("prio"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .withColumn("rejected", lit(rejected))
        .withColumn("k_type", lit(kType))
        .orderBy("prio")
    }),

    // R90/q87: ZONE-BOUNDED compaction (Delta's `OPTIMIZE … WHERE` /
    // partition-scoped rewrite_data_files): on a 100 TB table the
    // maintenance loop compacts the HOT INGEST RANGE — today's
    // partition — not the whole small tail; `compact(range=…)` folds
    // only files whose key zone intersects the bound, leaving
    // out-of-range files byte-untouched. Drama: four single-file
    // commits land on disjoint 500-wide key ranges (kk = k mod 2000,
    // clustered so each commit IS one zone-tight file); a compaction
    // bounded to [0,999] must fold EXACTLY the two in-range files
    // into one (n_removed/n_added pin the physical claim through
    // versionDelta — a sweep that ignored the bound folds all four)
    // while the grouped content aggregate stays equal to the raw
    // recompute (compaction may move bytes, never values). Scale:
    // the bounded sweep reads/writes only the hot range's tail —
    // maintenance cost tracks ingest rate, not table size.
    "q87_bounded_compact" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q87_optwhere")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("k").isNotNull)
        .withColumn("kk", pmod(col("k"), lit(2000L)))
      val layout = expr("kk div 500")
      val seg = col("kk") / lit(500)
      TableLog.commit(o.filter(seg.cast("int") === 0), root, layout, 1,
        "overwrite") // v0: kk ∈ [0,500)
      TableLog.commit(o.filter(seg.cast("int") === 1), root, layout, 1,
        "append") // v1: [500,1000)
      TableLog.commit(o.filter(seg.cast("int") === 2), root, layout, 1,
        "append") // v2: [1000,1500)
      TableLog.commit(o.filter(seg.cast("int") === 3), root, layout, 1,
        "append") // v3: [1500,2000)
      val cv = TableLog.compact(s, root, "kk",
        targetRows = Long.MaxValue / 2, smallRows = Long.MaxValue / 2,
        range = Some((0L, 999L)))
      val (added, removed) = TableLog.versionDelta(root, cv)
      TableLog.read(s, root)
        .groupBy((col("kk") / lit(500)).cast("long").as("segment"))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
        .withColumn("n_removed", lit(removed.size.toLong))
        .withColumn("n_added", lit(added.size.toLong))
        .orderBy("segment")
    }),

    // R91/q88: CDF UPDATE IMAGES — Delta's four-way `table_changes`
    // typing (insert / delete / update_preimage / update_postimage):
    // the raw feed is file-/row-level, so a MERGE's update surfaces
    // as delete+insert of the same key at one version;
    // ChangeLog.updateImages reclassifies exactly those pairs, which
    // is what a downstream CDC consumer needs to distinguish "row
    // changed" (apply new state) from "row left" (retract) without
    // re-deriving it per pipeline. Drama: one merge-on-read commit
    // carrying pure deletes (keys ≡ 0 mod 97) AND updates (≡ 1,
    // price+100); the typed feed must show the deletes untouched,
    // every updated key EXACTLY once per image side, preimages at the
    // OLD price and postimages at the new one — the oracle recomputes
    // all three groups from raw orders, so a mis-paired key, a
    // leaked pure-delete into the update class, or an image carrying
    // the wrong side's price is a value diff. Scale: one grouped agg
    // + join on (version, key) over the churn-sized feed.
    "q88_cdf_updates" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q88_updimg")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      TableLog.commit(o, root, layout, 16, "overwrite")
      val r = pmod(col("k"), lit(97L))
      val changes = o.filter(r.isin(0L, 1L))
        .select(col("k"), lit(1L).as("ver"),
          when(r === 0L, "D").otherwise("U").as("op"),
          (col("price") + lit(100L)).as("new_price"))
      TableLog.mergeMor(s, root, changes, "k", layout, 4, dvMaxFrac = 1.0)
      graft.operators.ChangeLog
        .updateImages(TableLog.readChangeFeed(s, root, 1L, 1L), "k")
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("price").as("sum_price"))
        .orderBy("change_type")
    }),

    // R93/q89: STRING bloom index — equality skipping on a
    // high-cardinality TEXT key (the "find this URL / doc id in
    // 100 TB" lookup): R86's truncated string zones separate RANGES,
    // but a point probe on a key the layout scattered (here 'u'||k
    // under a k-div layout — lexicographic order ≠ numeric order, so
    // every file's string zone is wide) still reads every
    // zone-overlapping file; commit(bloomStrCols=…) hashes
    // each value through the portable rolling hash into the SAME
    // 4-bit double-hashed bloom pipeline long columns use (one
    // manifest format, one probe, no false negatives by
    // construction). Certified: the unique max-key probe through the
    // API AND the SQL surface both return the one true row
    // (bloom+zone pruning can never lose it), and an in-zone miss
    // returns structurally zero rows; file-prune counts live in
    // TableLogSpec (binning-dependent). Scale: probe cost is a
    // manifest pass + the (few) bloom-positive files.
    "q89_string_bloom" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q89_strbloom")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("k").isNotNull)
        // 50k-distinct key space: every file's bitset stays well
        // under saturation at ANY SF — the ~7·distinct-per-file
        // sizing rule the bloom docs prescribe, honored by the
        // query's own instance
        .withColumn("sk", concat(lit("u"), pmod(col("k"), lit(50000L))))
      TableLog.commit(o, root, expr("k div 500"), 16, "overwrite",
        bloomStrCols = Seq("sk"))
      val probe = "u" + (o.agg(max("k")).collect()(0).getLong(0) % 50000L)
      val hit = TableLog.read(s, root, Seq(EqualTo("sk", probe)))
        .agg(count(lit(1)), sum("cents")).collect()(0)
      // an in-zone miss ('u33a' sorts between real keys): zero rows
      // through the pruned read, structurally
      val nMiss = TableLog.read(s, root, Seq(EqualTo("sk", "u33a"))).count()
      val nSql = s.read.format("graftlog").option("path", root).load()
        .filter(col("sk") === probe).count()
      s.range(1).select(
        lit(hit.getLong(0)).as("n_hit"),
        lit(hit.getLong(1)).as("hit_cents"),
        lit(nSql).as("n_sql"),
        lit(nMiss).as("n_miss"))
    }),

    // R94/q90: ANALYZE over STRING columns (ANALYZE previously
    // assumed long-castable columns — `analyze(…, "source")` silently
    // produced all-NULL stats for exactly the text columns a corpus
    // profiles by; the type-dispatched lanes fix that): string
    // columns take bytewise min/max in zmin_str/zmax_str and sketch
    // NDV over the portable rolling hash (exact below capacity —
    // distinct strings hash to distinct longs modulo a negligible
    // 2⁻⁶⁴-scale collision, so count(DISTINCT) is still the oracle),
    // numeric columns keep the long lanes, each NULLing the other
    // kind's. One column-pruned pass; tableStats merges the string
    // lanes bytewise. Certified over orders' (k BIGINT, prio STRING):
    // every lane against exact raw recomputation — a lane mix-up, a
    // hash-NDV drift, or a collation-dependent min/max is a value
    // diff.
    "q90_analyze_strings" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q90_strstats")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_orderpriority").cast("string").as("prio"))
        .filter(col("k").isNotNull)
      TableLog.commit(o, root, expr("k div 500"), 8, "overwrite")
      TableLog.analyze(s, root, Seq("k", "prio"))
      TableLog.tableStats(s, root)
        .select("col_name", "n_rows", "n_nulls", "zmin", "zmax",
          "zmin_str", "zmax_str", "ndv")
        .orderBy("col_name")
    }),

    // R95/q91: INCREMENTAL SHALLOW SYNC — the replication/DR
    // primitive (Delta's incremental clone sync): a replica table
    // follows an upstream one for O(manifest) per commit, zero bytes
    // moved, by replaying each unseen upstream version as one
    // foreign-referencing replica commit — so the replica mirrors the
    // upstream's whole HISTORY (time travel, CDF, zones/blooms work
    // immediately) and each replica commit PRESERVES the upstream
    // commit's timestamp, keeping TIMESTAMP-AS-OF answers aligned
    // across the pair. Exactly-once via the txn high-water map (the
    // upstream version number IS the txn), so re-sync is a no-op and
    // an upstream that advanced syncs exactly the delta. Certified in
    // one row: the replica head equals the upstream's post-reset
    // state, as-of v1 equals the pre-reset prefix, re-sync is a
    // version-count no-op, the second sync adds EXACTLY the one new
    // upstream version, the replica resolves the upstream's
    // mid-history instant to the same version, and every synced entry
    // is foreign (the zero-copy claim read from the manifest).
    "q91_shallow_sync" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val src = TidyIO.scratchDir("q91_src")
      val dst = TidyIO.scratchDir("q91_dst")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      val m = pmod(col("k"), lit(3L))
      TableLog.commit(o.filter(m === 0L), src, layout, 8, "overwrite",
        commitTs = Some(1000L))
      TableLog.commit(o.filter(m === 1L), src, layout, 4, "append",
        commitTs = Some(2000L))
      TableLog.commit(o.filter(m === 2L), src, layout, 4, "append",
        commitTs = Some(3000L))
      TableLog.syncShallow(src, dst)
      val nAfterFirst = TableLog.currentVersion(dst) + 1
      val headBefore = TableLog.currentVersion(dst)
      TableLog.syncShallow(src, dst) // fully synced: must be a no-op
      val noop = if (TableLog.currentVersion(dst) == headBefore) 1L else 0L
      val nV1 = TableLog.read(s, dst, asOf = Some(1L)).count()
      TableLog.commit(o.filter(m === 0L), src, layout, 8, "overwrite",
        commitTs = Some(4000L)) // upstream reset
      TableLog.syncShallow(src, dst) // syncs exactly the delta
      val nAfterSecond = TableLog.currentVersion(dst) + 1
      val vAt = TableLog.versionAtTimestamp(dst, 2500L)
      val allForeign = if (TableLog.readManifest(dst,
          TableLog.currentVersion(dst)).files.forall(_.path.startsWith("/")))
        1L else 0L
      TableLog.read(s, dst)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("cents").as("sum_cents"))
        .select(col("n_rows"), col("n_keys"), col("sum_cents"),
          lit(nV1).as("n_v1"), lit(noop).as("resync_noop"),
          lit(nAfterFirst).as("n_after_first"),
          lit(nAfterSecond).as("n_after_second"),
          lit(vAt).as("v_at_2500"),
          lit(allForeign).as("all_foreign"))
    }),

    // R96/q92: SQL DML — MERGE INTO / UPDATE / DELETE on the graftlog
    // relation (the round-13 top-next: reads and INSERT mounted via
    // SQL since R78/R87, but every mutation beyond insert was
    // Scala-API-only; Delta's headline mutation surface is this
    // trio). GraftDmlRule lowers the analyzed statements onto
    // TableLog.applyDml — the SAME merge-on-read carrier mergeMor
    // uses (ONE write path, SQL and API can never drift): sparse hits
    // ride deletion vectors, dense files rewrite, inserts only
    // append. The statement sequence certifies all three statements
    // AND per-statement head re-resolution (statements 2 and 3 run
    // against the same un-remounted view and must see their
    // predecessors' results): MERGE with delete+update+insert clauses
    // (r=0 delete, r=1 price+100, provably-new negative keys insert
    // at 2×price), then UPDATE price+7 on r=3, then DELETE r=4. The
    // oracle replays the whole recipe from raw orders; the physical
    // claims ride as literals — the MERGE commit rewrote ZERO files
    // (2/97 ≈ 2% density per file, under the 10% DV threshold) and
    // the head sits at exactly 3 (one commit per statement). Scale:
    // each statement's work is churn-sized (probe scan + DV manifest
    // entries + insert-file writes), never a table rewrite.
    "q92_sql_merge" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q92_dml")
      // the DML contract is a PRIMARY-KEYED table — collapse duplicate
      // orderkeys (the fuzz row-duplicate instances) to max(price).
      // The keyed batch feeds the base commit AND both branches of the
      // MERGE source below — materialize it once, with the commit's
      // write as the materializing job (guide §5: cache on reuse).
      val (o, _) = org.apache.spark.sql.graftx.Materialize.cleanWith(
        t(s, dir, "orders")
          .select(col("o_orderkey").cast("long").as("k"),
            expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
              .as("price"))
          .filter(col("k").isNotNull)
          .groupBy("k").agg(max("price").as("price")))(
        c => TableLog.commit(c, root, expr("k div 500"), 16, "overwrite"))
      s.read.format("graftlog").option("path", root).load()
        .createOrReplaceTempView("q92_t")
      val r = pmod(col("k"), lit(97L))
      o.filter(r.isin(0L, 1L))
        .select(col("k"), when(r === 0L, "D").otherwise("U").as("op"),
          (col("price") + lit(100L)).as("new_price"))
        .unionByName(o.filter(r === 2L)
          .select((-col("k")).as("k"), lit("I").as("op"),
            (col("price") * 2L).as("new_price")))
        .createOrReplaceTempView("q92_s")
      s.sql(
        """MERGE INTO q92_t t USING q92_s s ON t.k = s.k
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET price = s.new_price
          |WHEN NOT MATCHED THEN INSERT (k, price) VALUES (s.k, s.new_price)
          |""".stripMargin)
      val nRewritten = TableLog.versionDelta(root, 1L)._2.size.toLong
      s.sql("UPDATE q92_t SET price = price + 7 WHERE k % 97 = 3")
      s.sql("DELETE FROM q92_t WHERE k % 97 = 4")
      TableLog.read(s, root)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("price").as("sum_price"))
        .select(col("n_rows"), col("n_keys"), col("sum_price"),
          lit(nRewritten).as("n_rewritten"),
          lit(TableLog.currentVersion(root)).as("head_version"))
    }),

    // R101/q97: MERGE GENERALITY — composite primary keys + arbitrary
    // ON predicates (the round-14 top-next after the catalog: Delta
    // accepts any ON shape and any key; the R96 trio required a
    // single long key pinned by an ON equality). The table keys on
    // the TUPLE (ck, ok) via the multi-column primaryKey option and
    // rides the exact COPY-ON-WRITE carrier (tuple identity can't sit
    // in a single-column deletion vector; hashed-tuple DVs are the
    // documented evolution sharing this write path); the MERGE's ON
    // carries a RANGE conjunct (t.price < THR), so matched-but-
    // over-threshold rows take no action and the insert path keeps
    // its key-existence probe on. Physical claims ride as literals:
    // the CoW rewrite touched a strict subset of the files (the
    // change hull prunes on the ok zone — hits concentrate in the
    // low-ok quarter) and the statement was ONE commit. The oracle
    // replays the clause semantics tuple-for-tuple from raw orders.
    "q97_merge_general" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q97_dml")
      // keyed batch reused by the commit, the max(ok) scalar and both
      // MERGE source branches — one materialization, the commit's
      // write as the materializing job
      val (o, _) = org.apache.spark.sql.graftx.Materialize.cleanWith(
        t(s, dir, "orders")
          .select(col("o_custkey").cast("long").as("ck"),
            col("o_orderkey").cast("long").as("ok"),
            expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
              .as("price"))
          .filter(col("ck").isNotNull && col("ok").isNotNull)
          .groupBy("ck", "ok").agg(max("price").as("price")))(
        c => TableLog.commit(c, root, expr("ok div 500"), 16, "overwrite"))
      s.read.format("graftlog").option("path", root)
        .option("primaryKey", "ck,ok").load()
        .createOrReplaceTempView("q97_t")
      val thr = 20000000L
      val maxOk = o.agg(max("ok")).head().getLong(0)
      val lim = maxOk / 4 // concentrate hits in the low-ok quarter
      val r = pmod(col("ok"), lit(101L))
      o.filter(r.isin(0L, 1L) && col("ok") <= lim)
        .select(col("ck"), col("ok"),
          when(r === 0L, "D").otherwise("U").as("op"),
          (col("price") + lit(100L)).as("new_price"))
        .unionByName(o.filter(r === 2L && col("ok") <= lim)
          .select(col("ck"), (-col("ok")).as("ok"), lit("I").as("op"),
            (col("price") * 2L).as("new_price")))
        .createOrReplaceTempView("q97_s")
      s.sql(
        s"""MERGE INTO q97_t t USING q97_s s
           |ON t.ck = s.ck AND t.ok = s.ok AND t.price < $thr
           |WHEN MATCHED AND s.op = 'D' THEN DELETE
           |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET price = s.new_price
           |WHEN NOT MATCHED AND s.op = 'I' THEN
           |  INSERT (ck, ok, price) VALUES (s.ck, s.ok, s.new_price)
           |""".stripMargin)
      val nRewritten = TableLog.versionDelta(root, 1L)._2.size.toLong
      val nTotal = TableLog.readManifest(root, 0L).files.size.toLong
      TableLog.read(s, root)
        .agg(count(lit(1)).as("n_rows"),
          sum("price").as("sum_price"),
          sum("ok").as("sum_ok"))
        .select(col("n_rows"), col("sum_price"), col("sum_ok"),
          lit(if (nRewritten > 0L && nRewritten < nTotal) 1L else 0L)
            .as("cow_pruned"),
          lit(TableLog.currentVersion(root)).as("head_version"))
    }),

    // R102/q98: DECLARED CHECK constraints — Delta's `ALTER TABLE …
    // ADD CONSTRAINT c CHECK (…)`, declared ONCE through Spark 4's
    // constraint TableChange (the catalog advertises
    // SUPPORT_TABLE_CONSTRAINT) or the CALL twin, persisted in the
    // manifest header, carried forward by every commit, and enforced
    // on EVERY write path (commit's per-call `checks`, the R71 shape,
    // cover one call only — the round-14 missing-item 4). The query
    // certifies: declaration validates existing rows, a violating MERGE and a
    // violating streaming-sink batch both reject LOUDLY naming the
    // constraint and count, clean DML and sink batches land
    // unaffected, and the declaration survives the whole sequence.
    // Scale: enforcement is ONE aggregate pass over each batch's new
    // rows (never the table), carriage is one header field.
    "q98_declared_constraints" -> ((s, dir) => {
      import graft.sources.TableLog
      import org.apache.spark.sql.connector.catalog.Identifier
      val ns = "q98db"
      s.sql(s"DROP TABLE IF EXISTS graft.$ns.orders_q98")
      s.sql(s"CREATE TABLE graft.$ns.orders_q98 (k BIGINT, price BIGINT)")
      // the keyed source view feeds the INSERT, the violating MERGE
      // source, both sink batches and the final read — materialize the
      // derivation once instead of re-running the orders scan+groupBy
      // per consuming statement
      org.apache.spark.sql.graftx.Materialize.clean(
        t(s, dir, "orders")
          .select(col("o_orderkey").cast("long").as("k"),
            expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
              .as("price"))
          .filter(col("k").isNotNull && col("price").isNotNull &&
            col("price") > 0L)
          .groupBy("k").agg(max("price").as("price")))
        .createOrReplaceTempView("q98_src")
      s.sql(s"INSERT INTO graft.$ns.orders_q98 SELECT k, price FROM q98_src")
      s.sql(s"ALTER TABLE graft.$ns.orders_q98 " +
        "ADD CONSTRAINT c_pos CHECK (price > 0)")
      val cat = s.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sources.GraftCatalog]
      val root = cat.tableLocation(Identifier.of(Array(ns), "orders_q98"))
      // violating MERGE: rejected loudly, NAMING the constraint+count
      s.sql("SELECT k FROM q98_src WHERE k % 17 = 0")
        .createOrReplaceTempView("q98_bad")
      val mergeRejected =
        try { s.sql(
          s"""MERGE INTO graft.$ns.orders_q98 t USING q98_bad s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET price = -1""".stripMargin); 0L }
        catch { case e: Exception if e.getMessage.contains("c_pos=") => 1L }
      // violating SINK batch: the engine sink's addBatch runs the
      // same gate (commit underneath) — rejected before any IO
      val sink = new graft.sources.GraftLogProvider().createSink(
        s.sqlContext, Map("path" -> root, "layout" -> "k div 500",
          "appid" -> "q98sink"), Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
      val sinkRejected =
        try { sink.addBatch(0L,
          s.sql("SELECT k + 3000000000 AS k, CAST(-5 AS BIGINT) AS price " +
            "FROM q98_src LIMIT 3"))
          0L }
        catch { case e: Exception if e.getMessage.contains("c_pos=") => 1L }
      val headAfterRejects = TableLog.currentVersion(root)
      // clean paths land unaffected: a DML update and a sink batch
      s.sql(s"UPDATE graft.$ns.orders_q98 SET price = price + 7 " +
        "WHERE k % 13 = 0")
      sink.addBatch(1L, s.sql(
        "SELECT k + 2000000000 AS k, CAST(999 AS BIGINT) AS price " +
          "FROM q98_src WHERE k % 7 = 0"))
      s.sql(
        s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(price) AS BIGINT) AS sum_price,
           |  CAST($mergeRejected AS BIGINT) AS merge_rejected,
           |  CAST($sinkRejected AS BIGINT) AS sink_rejected,
           |  CAST(${if (headAfterRejects == 2L) 1L else 0L} AS BIGINT)
           |    AS rejects_committed_nothing,
           |  CAST(${TableLog.tableChecks(root).size} AS BIGINT) AS n_checks
           |FROM graft.$ns.orders_q98""".stripMargin)
    }),

    // R105/q101: TABLE PROPERTIES — Delta's TBLPROPERTIES as
    // declared-once table configuration: `CREATE TABLE …
    // TBLPROPERTIES('primaryKey'='k','layout'='…')` persists the map
    // in the manifest header (carried forward like the txn map and
    // the declared constraints), `ALTER TABLE SET/UNSET
    // TBLPROPERTIES` and the CALL twins mutate it metadata-only,
    // `SHOW TBLPROPERTIES` reads it back, and the DML rule + SQL
    // write path + streaming sink consult it as defaults under their
    // per-call options. The query's table puts a DECOY long column
    // first — without the declared primaryKey the DML default would
    // key on it and suppress whole duplicate-value classes, so the
    // value equality IS the proof the property drove the merge.
    // Scale: properties are one header field; every consumer reads
    // one header line.
    "q101_table_properties" -> ((s, dir) => {
      val ns = "q101db"
      s.sql(s"DROP TABLE IF EXISTS graft.$ns.orders_props")
      s.sql(s"CREATE TABLE graft.$ns.orders_props (price BIGINT, k BIGINT) " +
        "TBLPROPERTIES ('primaryKey'='k', 'layout'='k div 500', " +
        "'numFiles'='4')")
      // q101_src feeds the INSERT and the MERGE source — materialize
      // once
      org.apache.spark.sql.graftx.Materialize.clean(
        t(s, dir, "orders")
          .select(col("o_orderkey").cast("long").as("k"),
            expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
              .as("price"))
          .filter(col("k").isNotNull)
          .groupBy("k").agg(max("price").as("price")))
        .createOrReplaceTempView("q101_src")
      s.sql(s"INSERT INTO graft.$ns.orders_props " +
        "SELECT price, k FROM q101_src")
      s.sql("SELECT k, price + 7 AS np FROM q101_src WHERE k % 11 = 0")
        .createOrReplaceTempView("q101_chg")
      s.sql(
        s"""MERGE INTO graft.$ns.orders_props t USING q101_chg s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET price = s.np""".stripMargin)
      s.sql(s"UPDATE graft.$ns.orders_props SET price = price + 1 " +
        "WHERE k % 19 = 0")
      val cat = s.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sources.GraftCatalog]
      val root = cat.tableLocation(
        org.apache.spark.sql.connector.catalog.Identifier
          .of(Array(ns), "orders_props"))
      val nProps = graft.sources.TableLog.tableProperties(root).size.toLong
      s.sql(
        s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
           |  CAST(sum(price) AS BIGINT) AS sum_price,
           |  CAST($nProps AS BIGINT) AS n_props
           |FROM graft.$ns.orders_props""".stripMargin)
    }),

    // R104/q99: DML SCHEMA EVOLUTION — `MERGE WITH SCHEMA EVOLUTION`
    // (Delta's autoMerge/evolve-on-MERGE; round-14 missing-item 6:
    // evolve=true existed only on commit/append): the table
    // advertises AUTOMATIC_SCHEMA_EVOLUTION, so Spark 4's
    // ResolveMergeIntoSchemaEvolution accretes the source's new
    // columns through TableCatalog.alterTable (the R75 metadata-only
    // addColumn commit) and re-resolves the target widened — the
    // star clauses then carry the new column, matched rows take the
    // source's value, untouched rows null-fill through the ordinary
    // evolution read path, and AS OF below the boundary keeps the
    // old schema. Without the clause the star covers the TARGET
    // schema only (Spark's own expansion — no silent accretion).
    // Scale: the widen is one delta manifest; the merge itself is
    // churn-sized on the same one write path as q92/q97.
    "q99_dml_evolve" -> ((s, dir) => {
      val ns = "q99db"
      s.sql(s"DROP TABLE IF EXISTS graft.$ns.orders_evo")
      s.sql(s"CREATE TABLE graft.$ns.orders_evo (k BIGINT, price BIGINT)")
      // q99_src feeds the INSERT and both UNION branches of the
      // evolution MERGE source — materialize once
      org.apache.spark.sql.graftx.Materialize.clean(
        t(s, dir, "orders")
          .select(col("o_orderkey").cast("long").as("k"),
            expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
              .as("price"))
          .filter(col("k").isNotNull)
          .groupBy("k").agg(max("price").as("price")))
        .createOrReplaceTempView("q99_src")
      s.sql(s"INSERT INTO graft.$ns.orders_evo SELECT k, price FROM q99_src")
      s.sql(
        """SELECT k, price + 5 AS price, k % 7 AS disc FROM q99_src
          |WHERE k % 11 = 0
          |UNION ALL
          |SELECT k + 4000000000 AS k, price, k % 5 AS disc FROM q99_src
          |WHERE k % 13 = 0""".stripMargin)
        .createOrReplaceTempView("q99_chg")
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO graft.$ns.orders_evo t
           |USING q99_chg s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val nColsV1 = s.sql(
        s"SELECT * FROM graft.$ns.orders_evo VERSION AS OF 1").schema.size.toLong
      val nColsHead = s.table(s"graft.$ns.orders_evo").schema.size.toLong
      s.sql(
        s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
           |  CAST(sum(price) AS BIGINT) AS sum_price,
           |  CAST(sum(disc) AS BIGINT) AS sum_disc,
           |  CAST(sum(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null_disc,
           |  CAST($nColsV1 AS BIGINT) AS n_cols_asof,
           |  CAST($nColsHead AS BIGINT) AS n_cols_head
           |FROM graft.$ns.orders_evo""".stripMargin)
    }),

    // R103/q100: the table_changes TVF — Delta's SQL change-feed
    // surface by table NAME (`SELECT … FROM table_changes('graft.db
    // .t', a, b)`), registered session-wide via injectTableFunction
    // and resolving through the graft catalog onto the ONE batch CDF
    // read path (q74's set-algebra semantics, now name-addressed; the
    // round-14 missing-item 2 SQL half). The table is built entirely
    // through SQL — CREATE, three INSERT slices, one INSERT OVERWRITE
    // reset — and the window [1, 4] must replay: three insert
    // versions, then the reset as delete-all + re-insert of slice 0.
    // Scale: the TVF is resolved at analysis into the same
    // manifest-planned feed scan — only churned files are read.
    "q100_table_changes" -> ((s, dir) => {
      val ns = "q100db"
      s.sql(s"DROP TABLE IF EXISTS graft.$ns.orders_cdf")
      s.sql(s"CREATE TABLE graft.$ns.orders_cdf (k BIGINT, price BIGINT)")
      t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
        .createOrReplaceTempView("q100_src")
      (0 to 2).foreach(i => s.sql(
        s"INSERT INTO graft.$ns.orders_cdf SELECT k, price FROM q100_src " +
          s"WHERE (k % 3 + 3) % 3 = $i"))
      s.sql(s"INSERT OVERWRITE graft.$ns.orders_cdf " +
        "SELECT k, price FROM q100_src WHERE (k % 3 + 3) % 3 = 0")
      s.sql(
        s"""SELECT CAST(_commit_version AS BIGINT) AS version,
           |  _change_type AS change_type,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
           |  CAST(sum(price) AS BIGINT) AS sum_price
           |FROM table_changes('graft.$ns.orders_cdf', 1, 4)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }),

    // R97/q93: COLUMN MAPPING — RENAME/DROP COLUMN as metadata-only
    // commits (Delta's columnMapping=name mode; round-13 missing-item
    // 3: evolution admitted ADD + type-widen only, and users rename
    // columns). The manifest DDL names columns LOGICALLY while files,
    // zones, blooms and DVs keep the stable PHYSICAL name fixed at
    // creation, so a rename moves ZERO bytes on a 100 TB table, old
    // files keep resolving, probes translate logical→physical, and
    // AS-OF reads below the boundary surface the OLD names. The query
    // drives rename → append-under-the-new-name → drop and certifies
    // the head under the new names, the v0 snapshot under the old,
    // the zone-prune claim through the renamed column, and the loud
    // drift gate for an append still using the old name.
    "q93_column_mapping" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q93_cmap")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"),
          coalesce(col("o_orderpriority").cast("string"), lit("?")).as("prio"))
        .filter(col("k").isNotNull)
      TableLog.commit(o, root, expr("k div 500"), 8, "overwrite")
      TableLog.renameColumn(root, "cents", "price")
      // drift gate: the OLD logical name must reject loudly
      val rejected =
        try { TableLog.commit(o.limit(1), root, expr("k div 500"), 1,
          "append"); 0L }
        catch { case _: IllegalArgumentException => 1L }
      TableLog.commit(
        o.filter(pmod(col("k"), lit(5L)) === 0L)
          .select((col("k") + lit(1000000000L)).as("k"),
            (col("cents") + lit(17L)).as("price"), col("prio")),
        root, expr("k div 500"), 4, "append")
      TableLog.dropColumn(root, "prio")
      // zone probes translate through the mapping: a range on the
      // RENAMED column still prunes files zoned under the old name
      val (sel, total) = TableLog.planFiles(root,
        Seq(GreaterThanOrEqual("k", 1L), LessThanOrEqual("k", 400L)))
      val v0 = TableLog.read(s, root, asOf = Some(0L))
        .agg(sum("cents")).collect()(0)
      TableLog.read(s, root)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("price").as("sum_price"))
        .select(col("n_rows"), col("n_keys"), col("sum_price"),
          lit(v0.getLong(0)).as("sum_cents_v0"),
          lit(if (sel.size < total) 1L else 0L).as("pruned"),
          lit(rejected).as("rejected"),
          lit(TableLog.currentVersion(root)).as("head_version"))
    }),

    // R98/q94: the SQL MAINTENANCE surface — Spark 4 stored
    // procedures (`CALL graft.system.<verb>(...)` over the registered
    // ProcedureCatalog; Iceberg's CALL rewrite_data_files / Delta's
    // OPTIMIZE-VACUUM SQL shape). A SQL-first operator runs the whole
    // operational loop without the Scala API: compact folds the
    // 17-file layout (value-preserving — the aggregate equals the raw
    // recompute), vacuum DRY RUN reports the exact retirable set with
    // zero mutation, real vacuum deletes exactly that set, ANALYZE
    // writes the stats artifact (row count certified through
    // statsRowCount), history surfaces the audit trail, and restore
    // rolls the snapshot back — every verb delegating to the SAME
    // TableLog primitive its API twin uses. Physical claims ride as
    // literals; the oracle recomputes the values from raw orders.
    "q94_sql_maintenance" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q94_maint")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      TableLog.commit(o, root, expr("k div 500"), 16, "overwrite")
      TableLog.commit(o.select(col("k") + lit(1000000000L), col("price"))
        .toDF("k", "price").filter(pmod(col("k"), lit(7L)) === 0L),
        root, expr("k div 500"), 4, "append")
      val vCompact = s.sql(
        s"CALL graft.system.compact(path => '$root', order_col => 'k')")
        .head().getLong(0)
      val dry = s.sql(s"CALL graft.system.vacuum(path => '$root', " +
        s"keep_from => $vCompact, dry_run => true)").count()
      val headBeforeVacuum = TableLog.currentVersion(root)
      val real = s.sql(s"CALL graft.system.vacuum(path => '$root', " +
        s"keep_from => $vCompact)").count()
      s.sql(s"CALL graft.system.analyze(path => '$root', columns => 'k,price')")
      val statsN = TableLog.statsRowCount(s, root).getOrElse(-1L)
      val histN = s.sql(s"CALL graft.system.history(path => '$root')").count()
      TableLog.read(s, root)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("price").as("sum_price"))
        .select(col("n_rows"), col("n_keys"), col("sum_price"),
          lit(vCompact).as("v_compact"),
          lit(if (dry == real && dry > 0L) 1L else 0L).as("dry_matches_real"),
          lit(if (TableLog.currentVersion(root) == headBeforeVacuum) 1L
            else 0L).as("vacuum_metadata_only"),
          lit(if (statsN == TableLog.read(s, root).count()) 1L else 0L)
            .as("stats_exact"),
          lit(histN).as("n_live_versions"))
    }),

    // R99/q95: NAMED TABLES — the TableCatalog half of the graft
    // catalog (R98 added procedures): `CREATE TABLE graft.db.t`,
    // INSERT/SELECT/the R96 DML trio and ALTER TABLE
    // ADD/RENAME/DROP COLUMN all resolve through catalog identifiers
    // onto the SAME GraftLogTable the path-based reader builds — the
    // DML rule matches the table class, not the resolution route, so
    // catalog tables inherit every store behavior (schema gate,
    // zones, column mapping, statistics) with zero extra code. The
    // query drives the full lifecycle SQL-only: CREATE → INSERT from
    // raw orders → DELETE a residue class → ALTER ADD (null-fills) →
    // ALTER RENAME (metadata-only) → final aggregate under the new
    // names, against a raw-orders oracle replay.
    "q95_catalog_tables" -> ((s, dir) => {
      val ns = "q95db"
      s.sql(s"DROP TABLE IF EXISTS graft.$ns.orders_q95")
      s.sql(s"CREATE TABLE graft.$ns.orders_q95 (k BIGINT, price BIGINT)")
      t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
        .groupBy("k").agg(max("price").as("price")) // PK-safe on fuzz dups
        .createOrReplaceTempView("q95_src")
      s.sql(s"INSERT INTO graft.$ns.orders_q95 SELECT k, price FROM q95_src")
      s.sql(s"DELETE FROM graft.$ns.orders_q95 WHERE k % 11 = 0")
      s.sql(s"ALTER TABLE graft.$ns.orders_q95 ADD COLUMN note STRING")
      s.sql(s"ALTER TABLE graft.$ns.orders_q95 RENAME COLUMN price TO cents")
      s.sql(
        s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents,
           |  CAST(count(note) AS BIGINT) AS n_notes
           |FROM graft.$ns.orders_q95""".stripMargin)
    }),

    // R100/q96: SQL TIME TRAVEL by table NAME — Spark's native
    // `SELECT … FROM graft.db.t VERSION AS OF k` / `TIMESTAMP AS OF
    // ts` syntax resolving through the catalog's
    // loadTable(ident, version|timestamp) overloads (the round-14
    // top-next: the catalog landed but version-addressed reads were
    // path-option-only — a catalog user hits this the day after
    // CREATE TABLE). The query certifies: head vs VERSION AS OF 1
    // (the even-key prefix), TIMESTAMP AS OF at v1's commit instant
    // resolving to the same snapshot (latest-at-or-below), at-head
    // instants resolving to head, the loud missing-version error at
    // RESOLUTION time, and the write rejection on a time-traveled
    // relation. Scale: resolution is two header lines of text IO;
    // the snapshot read is the ordinary manifest-pruned scan.
    "q96_catalog_travel" -> ((s, dir) => {
      import graft.sources.TableLog
      import org.apache.spark.sql.connector.catalog.Identifier
      val ns = "q96db"
      s.sql(s"DROP TABLE IF EXISTS graft.$ns.orders_q96")
      s.sql(s"CREATE TABLE graft.$ns.orders_q96 (k BIGINT, price BIGINT)")
      t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
        .groupBy("k").agg(max("price").as("price")) // PK-safe on fuzz dups
        .createOrReplaceTempView("q96_src")
      s.sql(s"INSERT INTO graft.$ns.orders_q96 " +
        "SELECT k, price FROM q96_src WHERE k % 2 = 0") // v1
      Thread.sleep(2L) // commit stamps are millis; keep v1 < v2 strict
      s.sql(s"INSERT INTO graft.$ns.orders_q96 " +
        "SELECT k, price FROM q96_src WHERE k % 2 <> 0") // v2
      val cat = s.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sources.GraftCatalog]
      val root = cat.tableLocation(Identifier.of(Array(ns), "orders_q96"))
      val ts1 = TableLog.headerTsOf(root, 1L)
      val rejected =
        try { s.sql(s"SELECT * FROM graft.$ns.orders_q96 VERSION AS OF 99")
          .collect(); 0L }
        catch { case e: Exception
            if e.getMessage.contains("does not exist") => 1L }
      s.sql(
        s"""SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM graft.$ns.orders_q96)
           |    AS n_head,
           |  (SELECT CAST(sum(price) AS BIGINT) FROM graft.$ns.orders_q96)
           |    AS sum_head,
           |  (SELECT CAST(count(*) AS BIGINT)
           |     FROM graft.$ns.orders_q96 VERSION AS OF 1) AS n_v1,
           |  (SELECT CAST(sum(price) AS BIGINT)
           |     FROM graft.$ns.orders_q96 VERSION AS OF 1) AS sum_v1,
           |  (SELECT CAST(count(*) AS BIGINT) FROM graft.$ns.orders_q96
           |     TIMESTAMP AS OF timestamp_millis(${ts1}L)) AS n_at_ts1,
           |  (SELECT CAST(count(*) AS BIGINT) FROM graft.$ns.orders_q96
           |     TIMESTAMP AS OF timestamp_millis(${ts1 + 86400000L}L))
           |    AS n_at_late_ts,
           |  CAST($rejected AS BIGINT) AS missing_version_loud""".stripMargin)
    }),

    // R81/q78: SHALLOW CLONE — Delta's `CREATE TABLE … SHALLOW CLONE
    // src`: a dev/staging copy of a production table for O(manifest)
    // cost, zero bytes moved (the clone's v0 manifest references the
    // source's files by absolute path), after which the two
    // histories diverge freely. Certified value-for-value both
    // directions plus the physical claim: the clone's head equals
    // source-at-clone-time ∪ the clone's own append (shifted keys,
    // so a leaked row is a value diff), the SOURCE's post-clone
    // append is invisible to the clone AND counted on the source
    // (isolation both ways), every clone-v0 manifest entry is
    // foreign with zero local files (all_foreign/n_local_v0 — the
    // zero-copy claim read from the manifest itself), and vacuuming
    // the clone deletes NOTHING (its only dead version shares every
    // file with the head, and foreign files are never the clone's to
    // delete) while the source stays fully readable. Scale: cloning
    // a 10^6-file table is one manifest read + one write; compact/
    // recluster later materializes foreign → local (TableLogSpec
    // pins that half).
    "q78_shallow_clone" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val src = TidyIO.scratchDir("q78_src")
      val dst = TidyIO.scratchDir("q78_dst")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      val even = pmod(col("k"), lit(2L)) === 0L
      TableLog.commit(o.filter(even), src, layout, 8, "overwrite") // src v0
      TableLog.commit(o.filter(!even), src, layout, 8, "append") // src v1
      TableLog.cloneShallow(src, dst) // dst v0 == src v1, zero copy
      // clone diverges: shifted keys so any cross-leak is a value diff
      TableLog.commit(
        o.filter(pmod(col("k"), lit(7L)) === 0L)
          .select((col("k") + lit(1000000000L)).as("k"),
            (col("price") + lit(17L)).as("price")),
        dst, layout, 4, "append") // dst v1
      // source diverges AFTER the clone: must stay invisible to dst
      TableLog.commit(
        o.filter(pmod(col("k"), lit(11L)) === 0L)
          .select((col("k") + lit(2000000000L)).as("k"),
            (col("price") + lit(23L)).as("price")),
        src, layout, 4, "append") // src v2
      val v0Files = TableLog.readManifest(dst, 0L).files
      val nLocalV0 = v0Files.count(!_.path.startsWith("/")).toLong
      val allForeign = if (v0Files.nonEmpty && nLocalV0 == 0L) 1L else 0L
      val nVacDeleted = TableLog.vacuum(dst, 1L).size.toLong
      val nSrcRows = TableLog.read(s, src).count()
      TableLog.read(s, dst)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("price").as("sum_price"))
        .select(col("n_rows"), col("n_keys"), col("sum_price"),
          lit(nSrcRows).as("n_src_rows"),
          lit(allForeign).as("all_foreign"),
          lit(nLocalV0).as("n_local_v0"),
          lit(nVacDeleted).as("n_vac_deleted"))
    }),

    // R74/q72: per-file BLOOM INDEX — equality skipping on a column
    // the layout SCATTERED (Delta's bloom filter index; the skipping
    // class zones can't provide: orders cluster by k, so every
    // file's o_orderkey zone is tight but a CUSTKEY-clustered layout
    // leaves k scattered — here we cluster by custkey and point-
    // probe k, which is unique per row, so exactly ONE file truly
    // contains it and the bloom prunes the rest minus false
    // positives). Certifies BOTH probe outcomes value-for-value: the
    // hit (max k — deterministic and instance-proof) returns its one
    // row's sum, and the guaranteed miss (max k + 1) returns zero
    // rows THROUGH the pruned read. File-count claims live in
    // TableLogSpec.
    "q72_bloom_skip" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q72_bloom")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_custkey").cast("long").as("cust"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("k").isNotNull)
      TableLog.commit(o, root, expr("cust div 100"), numFiles = 16,
        mode = "overwrite", bloomCols = Seq("k"))
      // bounded driver lookup: the probe key (1 row)
      val maxK = o.agg(max("k")).collect()(0).getLong(0)
      val hit = TableLog.read(s, root, Seq(EqualTo("k", maxK)))
        .agg(count(lit(1)).as("n_hit"), sum("cents").as("hit_cents"))
      val nMiss = TableLog.read(s, root, Seq(EqualTo("k", maxK + 1L))).count()
      hit.select(col("n_hit"), col("hit_cents"), lit(nMiss).as("n_miss"))
    }),

    // R72/q70: OPTIMIZE/RECLUSTER — online layout migration through
    // the commit log (Databricks OPTIMIZE ZORDER BY): orders first
    // land HASH-SCATTERED (a Knuth-multiplicative slot — every file's
    // zones span the whole domain, so zone pruning keeps everything;
    // the layout a query pattern outgrows), then one recluster
    // commit rewrites the snapshot under q68's Morton-tile layout.
    // The certification reads the SAME 2-D range from BOTH versions
    // — the scattered parent (correct but prune-less) and the
    // z-ordered child (correct and multiplicatively pruned) — and
    // both must equal the oracle's raw recompute: recluster is
    // content-preserving AND history stays readable (online,
    // reversible). The file-count claim (scattered plan keeps ~all
    // files, z plan strictly fewer) is pinned in TableLogSpec.
    "q70_recluster" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q70_recluster")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("k").isNotNull)
        .withColumn("xb", expr("least(cents div 100000, CAST(255 AS BIGINT))"))
        .withColumn("yb", pmod(col("k"), lit(256L)))
      TableLog.commit(o, root, pmod(col("k") * lit(2654435761L), lit(16L)),
        numFiles = 16, mode = "overwrite")
      TableLog.recluster(s, root,
        (graft.operators.ZOrder.zkey(col("xb"), col("yb"), 8) / lit(4096))
          .cast("long"), numFiles = 16)
      Seq(("v0_scattered", 0L), ("v1_zordered", 1L)).map { case (nm, v) =>
        TableLog.read(s, root, Seq(
            GreaterThanOrEqual("xb", 40L), LessThanOrEqual("xb", 90L),
            GreaterThanOrEqual("yb", 64L), LessThanOrEqual("yb", 191L)),
          asOf = Some(v))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("k")).as("n_keys"),
            sum("cents").as("sum_cents"))
          .select(lit(nm).as("step"), col("n_rows"), col("n_keys"),
            col("sum_cents"))
      }.reduce(_.unionByName(_)).orderBy("step")
    }),

    // R71/q69: commit-time CHECK constraints + quarantine routing —
    // the declarative half of the ingest posture (q64/q66 quarantine
    // malformed RECORDS; constraints quarantine well-formed rows
    // that violate declared BUSINESS rules, Delta's ALTER TABLE ADD
    // CONSTRAINT): orders are split on the declared rule (cents in
    // (0, 2·10⁷] — high-value orders violate deterministically), the
    // clean subset commits through commit's CHECK gate, the violating rows
    // land in a quarantine relation, and a commit of the UNSPLIT
    // batch is attempted and must be REJECTED with the store left
    // bit-identical (zero data/manifest IO before validation). The
    // emitted row certifies all of it value-for-value: rejected
    // flag, version count still 1, clean/quarantine counts and the
    // clean sum — a broken validator either commits the dirty batch
    // (n_versions 2, sums off) or mis-splits.
    "q69_constraints" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q69_checked")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("k").isNotNull)
      val checks = Seq(
        "cents_positive" -> "cents > 0",
        "cents_bounded" -> "cents <= 20000000")
      val ok = col("cents") > 0L && col("cents") <= 20000000L
      val clean = o.filter(ok)
      val quarantined = o.filter(!ok)
      TableLog.commit(clean, root, expr("k div 500"), 4,
        "overwrite", checks = checks)
      // the dirty batch carries a sentinel violator (k=-1, cents=-5)
      // so the rejection is certified on EVERY corpus instance, even
      // one whose natural rows all satisfy the rule
      val dirty = o.unionByName(
        s.range(1).select(lit(-1L).as("k"), lit(-5L).as("cents")))
      val rejected =
        try { TableLog.commit(dirty, root, expr("k div 500"), 4,
          "append", checks = checks); 0L }
        catch { case _: IllegalArgumentException => 1L }
      TableLog.read(s, root)
        .agg(count(lit(1)).as("n_clean"), sum("cents").as("sum_clean"))
        .select(lit(rejected).as("rejected"),
          lit(TableLog.currentVersion(root) + 1).as("n_versions"),
          col("n_clean"), col("sum_clean"),
          lit(quarantined.count()).as("n_quarantined"))
    }),

    // R70/q68: Z-ORDER layout THROUGH the commit log + conjunctive
    // multi-column zone pruning — why a 2-D range query wants Morton
    // tiles, executed through the R67 store: orders carry two
    // bounded bucket columns (price k$-bucket × key bucket, 0..255
    // each), the commit's layout column is ZOrder.zkey(xb, yb) div
    // 4096 — 16 files, each a Morton TILE whose per-file zones are
    // tight in BOTH dimensions (a single-key layout is tight in one,
    // 0..255-wide in the other) — and the read resolves a 2-D range
    // via planFiles' conjunctive zone intersect BEFORE any
    // scan. Oracle recomputes the filtered aggregate from raw
    // orders, so a zone that wrongly drops a file surfaces as a
    // value diff; the file-count claims (multi-dim prune strictly
    // beats both single dimensions) are pinned in TableLogSpec.
    "q68_zorder_log" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q68_zlog")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("cents"))
        .filter(col("k").isNotNull)
        .withColumn("xb", expr("least(cents div 100000, CAST(255 AS BIGINT))"))
        .withColumn("yb", pmod(col("k"), lit(256L)))
      // layout = Morton tile id: z interleaves 8 bits of each bucket
      // (z < 65536), div 4096 → 16 contiguous z-range tiles (integer
      // floor via double division is exact here: z < 2^53)
      TableLog.commit(o, root,
        (graft.operators.ZOrder.zkey(col("xb"), col("yb"), 8) / lit(4096))
          .cast("long"),
        numFiles = 16, mode = "overwrite")
      TableLog.read(s, root, Seq(
          GreaterThanOrEqual("xb", 40L), LessThanOrEqual("xb", 90L),
          GreaterThanOrEqual("yb", 64L), LessThanOrEqual("yb", 191L)))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"),
          sum("cents").as("sum_cents"))
    }),

    // R69/q67: DELTA manifests + checkpoint materialization — the
    // documented evolution of R67's full-snapshot log (Delta Lake's
    // _delta_log JSON + checkpoint.parquet shape): with
    // checkpointInterval > 1, an append/compact/merge commits only
    // its ADD/REMOVE lines (delta-sized metadata, the thing that
    // matters past ~10^6 live files where a full listing per commit
    // is O(files) IO), and a reader RESOLVES a version by replaying
    // the delta chain down to the nearest full manifest/checkpoint.
    // The certification drives both resolution paths in one query:
    // the head read is constructed BEFORE vacuum (pure delta replay
    // v3→v2→v1→v0), the AS-OF read AFTER vacuum (v2 through the
    // checkpoint vacuum materialized when it dropped v0/v1 history —
    // metadata-only, never a data rewrite). Oracle recomputes both
    // snapshots from raw orders. TableLogSpec pins the physical
    // claims: delta manifests carry no full listing, replay equals a
    // full-manifest twin version-for-version, vacuum's checkpoint
    // keeps surviving deltas resolvable while below-retention reads
    // fail loudly.
    "q67_delta_log" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q67_deltalog")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      val layout = expr("k div 500")
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 0L), root,
        layout, 8, "overwrite", checkpointInterval = 10) // v0: full by rule
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 1L), root,
        layout, 4, "append", checkpointInterval = 10) // v1: add-only delta
      TableLog.compact(s, root, "k", targetRows = 20000L,
        smallRows = Long.MaxValue, checkpointInterval = 10) // v2: remove+add delta
      TableLog.commit(o.filter(pmod(col("k"), lit(3L)) === 2L), root,
        layout, 4, "append", checkpointInterval = 10) // v3: add-only delta
      val headReplay = TableLog.read(s, root, asOf = Some(3L)) // delta replay to v0
      TableLog.vacuum(root, keepFrom = 2L) // checkpoint v2, drop v0/v1
      val asofCkpt = TableLog.read(s, root, asOf = Some(2L)) // via the checkpoint
      Seq(("asof_checkpoint", asofCkpt), ("head_replay", headReplay))
        .map { case (nm, df) =>
          df.agg(count(lit(1)).as("n_rows"),
            countDistinct(col("k")).as("n_keys"),
            sum("price").as("sum_price"),
            min("k").as("min_k"), max("k").as("max_k"))
            .select(lit(nm).as("step"), col("n_rows"), col("n_keys"),
              col("sum_price"), col("min_k"), col("max_k"))
        }.reduce(_.unionByName(_)).orderBy("step")
    }),

    // R68/q66: q64's corruption certification through the CSV
    // PERMISSIVE path — the other ingest format a 100 TB corpus
    // arrives in. Orders synthesized as CSV lines with keys ≡ 0
    // (mod 7) truncated to their FIRST TOKEN (the partial-write /
    // split-shard corruption), written as real text files and read
    // back through TidyIO.readCsvQuarantine. The CSV semantics that
    // DIFFER from q64's JSON are exactly what the rollup certifies:
    // the parser PARTIALLY RECOVERS a malformed record — the leading
    // key still parses and contributes to the quarantine bucket's
    // sum_k, while cents/prio are NULL — where a broken JSON line
    // loses every field. prio is sanitized and 'p'-prefixed on write
    // because an EMPTY CSV field reads back as NULL (not '' like
    // JSON), which would smear legit rows into the quarantine group.
    "q66_csv_quarantine" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
          .as("cents"),
        concat(lit("p"), regexp_replace(
          coalesce(col("o_orderpriority").cast("string"), lit("")),
          "[^a-zA-Z0-9-]", "")).as("prio"))
      val line = concat(col("k"), lit(","), col("cents"), lit(","), col("prio"))
      val written = when(pmod(col("k"), lit(7)) === 0,
        col("k").cast("string")).otherwise(line)
      val tmp = graft.sources.TidyIO.scratchDir("graft_csv_q")
      o.select(written.as("value")).write.mode("overwrite").text(tmp)
      graft.sources.TidyIO
        .readCsvQuarantine(s, tmp, "k BIGINT, cents BIGINT, prio STRING")
        .groupBy(when(col("_corrupt_record").isNotNull, lit("__quarantine__"))
          .otherwise(col("prio")).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("_corrupt_record")).as("n_bad"),
          sum(col("cents")).as("sum_cents"),
          sum(col("k")).as("sum_k"))
        .orderBy("bucket")
    }),

    // R67/q65: the versioned table-format COMMIT LOG certified
    // end-to-end THROUGH the store (the q53/d29 real-IO pattern):
    // orders subset A committed as v0, subset B appended as v1, the
    // whole snapshot compacted as v2 (content-preserving, the q50
    // planner executed), a CDC batch (deletes ≡0 mod 10, updates ≡5
    // mod 10, inserts from the mod-3≡2 subset) merged COPY-ON-WRITE
    // as v3 — only zone-affected files rewritten. Each step is then
    // read back AS OF its version from the manifest store and
    // aggregated; the oracle recomputes all four snapshots from raw
    // orders by set algebra + the q51 latest-wins merge, so any
    // corruption in commit, footer stats, manifest resolution,
    // compaction binning, zone-based rewrite selection, or the
    // as-of read shows up value-for-value. TableLogSpec separately
    // pins the physical claims (zone file pruning before the scan,
    // carried-by-reference files, OCC commit point, vacuum).
    "q65_table_log" -> ((s, dir) => {
      import graft.sources.{TableLog, TidyIO}
      val root = TidyIO.scratchDir("q65_tablelog")
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price"))
        .filter(col("k").isNotNull)
      val a = o.filter(pmod(col("k"), lit(3L)) === 0L)
      val b = o.filter(pmod(col("k"), lit(3L)) === 1L)
      val layout = expr("k div 500")
      val v0 = TableLog.commit(a, root, layout, 8, "overwrite")
      val v1 = TableLog.commit(b, root, layout, 4, "append")
      val v2 = TableLog.compact(s, root, "k",
        targetRows = 20000L, smallRows = Long.MaxValue)
      val changes = o
        .filter(pmod(col("k"), lit(3L)) === 0L &&
          pmod(col("k"), lit(10L)).isin(0L, 5L))
        .select(col("k"), lit(1L).as("ver"),
          when(pmod(col("k"), lit(10L)) === 0L, "D").otherwise("U").as("op"),
          (col("price") + lit(100L)).as("new_price"))
        .unionByName(o
          .filter(pmod(col("k"), lit(3L)) === 2L && pmod(col("k"), lit(2L)) === 0L)
          .select(col("k"), lit(1L).as("ver"), lit("U").as("op"),
            (col("price") + lit(7L)).as("new_price")))
      val v3 = TableLog.merge(root, changes, "k", layout, 4)
      Seq(("initial", v0), ("append", v1), ("compact", v2), ("merge", v3))
        .map { case (nm, v) =>
          TableLog.read(s, root, asOf = Some(v)).agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("k")).as("n_keys"),
            sum("price").as("sum_price"),
            min("k").as("min_k"), max("k").as("max_k"))
            .select(lit(nm).as("step"), col("n_rows"), col("n_keys"),
              col("sum_price"), col("min_k"), col("max_k"))
        }.reduce(_.unionByName(_)).orderBy("step")
    }),

    // R56/q54: one-pass column profiler (the warehouse DQ primitive
    // next to q47's threshold gate): per column row/null/distinct
    // counts + typed min/max, one Expand pass + one keyed aggregate.
    // Dates profile through their ISO string; the exact-distinct form
    // is the oracle contract (production flips exact=false for HLL at
    // corpus scale — ProfileSpec pins the approx twin within 5%).
    "q54_profile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("l_shipdate", col("l_shipdate").cast("date"))
      graft.operators.Profile.profile(li,
          numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
            "l_linenumber", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax"),
          strCols = Seq("l_returnflag", "l_linestatus", "l_shipdate"))
        .orderBy("col_name")
    }),

    // R60/q58: exact INTERPOLATED grouped quantiles — the
    // percentile_cont contract (R-7: v[⌊h⌋] + (v[⌈h⌉]−v[⌊h⌋])·frac at
    // h=(n−1)p) on q48's sort-free selection machinery: two bracketing
    // order statistics per quantile from the same two-shuffle plan,
    // combined with fixed-op-order double arithmetic the oracle
    // replays verbatim. Non-null key/value contract enforced with
    // coalesce/filter on BOTH sides.
    "q58_interp_quantiles" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        coalesce(col("o_orderpriority").cast("string"), lit("?")).as("prio"),
        expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
          .as("cents"))
        .filter(col("cents").isNotNull)
      graft.operators.ExactQuantiles.groupedInterpolated(o, Seq("prio"), "cents",
          Seq(("p25_cents", 0.25), ("p50_cents", 0.5), ("p90_cents", 0.9)))
        .orderBy("prio")
    }),

    // R61/q59: exact grouped MODE (most-frequent value; the
    // categorical twin of q48's order statistics): tie-collapsed
    // (keys, v) counts — one map-side-combined shuffle — then a
    // per-group struct-max argmax with a DETERMINISTIC tie rule
    // (highest count, then smallest value, encoded as max(struct(cnt,
    // −v))). No window anywhere: the d28/d20 aggregate discipline —
    // a hot group reduces per-partition before it travels. The
    // negation is overflow-safe here (quantities are small positive
    // integers; a general library caller would use a (cnt, v)
    // struct-ordering UDAF instead — TopKPairsAgg's k=1 case).
    "q59_group_mode" -> ((s, dir) => {
      val vc = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        .filter(col("qty").isNotNull)
        .groupBy("l_returnflag", "qty").agg(count(lit(1)).as("cnt"))
      vc.groupBy("l_returnflag")
        .agg(max(struct(col("cnt"), (-col("qty")).as("negq"))).as("m"),
          count(lit(1)).as("n_distinct_v"))
        .select(col("l_returnflag"), (-col("m.negq")).as("mode_qty"),
          col("m.cnt").as("mode_cnt"), col("n_distinct_v"))
        .orderBy("l_returnflag")
    }),

    // R63/q61: zone-map data-skipping report — the lakehouse
    // min/max-statistics audit (what fraction of file IO a predicate
    // saves — the ROI dashboard behind q34's z-order clustering and
    // q50's compaction): the file inventory (documents chunked as
    // files: 50-doc groups per source) reduces to per-file zones
    // (min/max n_chars), a file is HIT iff its zone overlaps the
    // predicate range [60, 100], and the per-source report counts
    // files hit, rows scanned vs skipped, and rows actually matched
    // (provably all inside hit files — the zone-map guarantee). At
    // scale zones are parquet footer metadata and this report is
    // file-count cardinality; the skip decision is exactly what the
    // reader's pushdown applies at scan time. All integer.
    "q61_zone_skip" -> ((s, dir) => {
      val (loP, hiP) = (60L, 100L)
      val zones = t(s, dir, "documents")
        .select(coalesce(col("source"), lit("?")).as("source"),
          expr("coalesce(CAST(doc_id AS BIGINT), -1) div 50").as("file_id"),
          col("n_chars").cast("long").as("nc"))
        .filter(col("nc").isNotNull)
        .groupBy("source", "file_id")
        .agg(min("nc").as("zlo"), max("nc").as("zhi"),
          count(lit(1)).as("n_rows"),
          sum(when(col("nc").between(loP, hiP), 1L).otherwise(0L)).as("n_match"))
      zones.withColumn("hit", col("zlo") <= hiP && col("zhi") >= loP)
        .groupBy("source")
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_files_hit"),
          sum(when(col("hit"), col("n_rows")).otherwise(0L)).as("rows_scanned"),
          sum(when(!col("hit"), col("n_rows")).otherwise(0L)).as("rows_skipped"),
          sum("n_match").as("rows_matched"))
        .orderBy("source")
    }),

    // R64/q62: bucketed-layout join, DRIVER-VERIFIED (the q53/d29
    // certification applied to R30's bucketed tables: PipelineSpec
    // proves the Exchange-free PLAN, this proves the VALUES through
    // the store): lineitem and orders written once as external
    // tables bucketed on the join key, the join+aggregate read from
    // STORAGE — the oracle computes the same aggregate from the raw
    // parquet, so a bucket-assignment or bucketed-read bug changes
    // the sums. At scale this is the co-located fact⋈fact layout:
    // both sides pay their key shuffle ONCE at write, every
    // downstream join is Exchange-free. Integer-cent sums.
    "q62_bucketed_join" -> ((s, dir) => {
      val pth = graft.sources.TidyIO.scratchDir("g_bkj")
      val sfx = pth.stripPrefix("/tmp/")
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").cast("long").as("k"),
        expr("CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)")
          .as("cents"))
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority").cast("string").as("prio"))
      graft.sources.TidyIO.writeBucketedCols(li, s"li_$sfx", Seq("k"), 8,
        path = Some(pth + "/li"))
      graft.sources.TidyIO.writeBucketedCols(o, s"o_$sfx", Seq("k"), 8,
        path = Some(pth + "/o"))
      s.table(s"li_$sfx").join(s.table(s"o_$sfx"), Seq("k"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .orderBy("prio")
    }),

    // R58/q56: incremental aggregate maintenance — the materialized-
    // view refresh pattern (operators/IncrementalAgg): the base half
    // of orders is reduced ONCE to per-customer partial state
    // (count / sum / min / max over integer cents) and PERSISTED as a
    // parquet table; the refresh aggregates only the DELTA half and
    // merges on the |keys|-sized state. The oracle recomputes from
    // ALL of orders, so DuckDB certifies merge(stored-partial,
    // delta-partial) == full recompute value-for-value THROUGH a real
    // write→read of the state table (the q53/d29 persisted-state
    // certification pattern). avg is DERIVED at read (sum/cnt —
    // exact-integer division in double), the classic non-stored
    // measure; exact-distinct/quantile measures take the sketch-state
    // road instead (q37's theta rollup). Split membership is
    // null-safe (coalesce(pred, false)) so every dirty-instance row
    // lands exactly one side; the split date never reaches the
    // oracle — correctness is split-invariant by construction.
    "q56_incr_mv" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_custkey").cast("long").as("o_custkey"),
        expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
          .as("cents"),
        col("o_orderdate").cast("date").as("od"))
      val isBase = coalesce(col("od") < lit("1996-01-01").cast("date"),
        lit(false))
      val keys = Seq("o_custkey"); val ms = Seq("cents")
      val tmp = graft.sources.TidyIO.scratchDir("graft_incr_mv")
      graft.operators.IncrementalAgg.partial(o.filter(isBase), keys, ms)
        .write.mode("overwrite").parquet(tmp)
      val stored = s.read.parquet(tmp)
      val deltaPart =
        graft.operators.IncrementalAgg.partial(o.filter(!isBase), keys, ms)
      graft.operators.IncrementalAgg.merge(Seq(stored, deltaPart), keys, ms)
        .select(col("o_custkey"), col("cnt").as("n_orders"),
          col("sum_cents"), col("min_cents"), col("max_cents"),
          // AVG divides by the stored NON-NULL count (cnt_cents ==
          // cnt here, cents is non-null) so the derived average
          // equals SQL AVG even on NULL-bearing measures.
          (col("sum_cents").cast("double") / col("cnt_cents")).as("avg_cents"))
        .orderBy("o_custkey")
    }),

    // R59/q57: schema-evolution parquet read (schema-on-read over a
    // column-accreting corpus — years of crawl batches where later
    // batches carry columns earlier ones lack): batch 1 is written
    // WITHOUT the priority column, batch 2 WITH it; the mergeSchema
    // read unions the footers' schemas and nulls the missing column
    // for old files, and the aggregate over the merged relation is
    // certified value-for-value by an oracle that recomputes from the
    // source table with the same old-batch→'missing' convention. At
    // scale mergeSchema is a distributed footer-read job (metadata,
    // not data); production declares the evolved schema in a catalog
    // and gets the same null-fill from the reader for free — the
    // certified behavior here is that read path itself.
    "q57_schema_merge" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        expr("CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)")
          .as("cents"),
        col("o_orderpriority").cast("string").as("prio"))
      val isNew = coalesce(pmod(col("k"), lit(2)) === 0, lit(false))
      val tmp = graft.sources.TidyIO.scratchDir("graft_schema_merge")
      o.filter(!isNew).select("k", "cents")
        .write.mode("overwrite").parquet(tmp + "/b1")
      o.filter(isNew).select("k", "cents", "prio")
        .write.mode("overwrite").parquet(tmp + "/b2")
      s.read.option("mergeSchema", "true").parquet(tmp + "/b1", tmp + "/b2")
        .select(coalesce(col("prio"), lit("missing")).as("prio"), col("cents"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .orderBy("prio")
    }),

    "q47_dq_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val agg = li.agg(
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("c_null_key"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("c_qty_range"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("c_disc_range"),
        sum(when(col("l_extendedprice") < 0, 1L).otherwise(0L)).as("c_neg_price"),
        // uniqueness over NON-NULL keys only, in BOTH engines: Spark's
        // countDistinct skips null tuples while DuckDB's
        // count(DISTINCT (a,b)) counts them (the row-struct is
        // non-null), so an unguarded count(*) − countDistinct
        // disagrees by exactly the null rows — on the dirty data a DQ
        // gate exists for. Null keys are the not_null check's job.
        (sum(when(col("l_orderkey").isNotNull && col("l_linenumber").isNotNull,
          1L).otherwise(0L)) -
          countDistinct(col("l_orderkey"), col("l_linenumber")))
          .as("c_dup_key"))
      val orphans = li
        .join(t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("c_orphans"))
      agg.crossJoin(orphans).selectExpr(
          """stack(6,
            |  'discount_in_0_01', c_disc_range,
            |  'not_null_orderkey', c_null_key,
            |  'orderkey_in_orders', c_orphans,
            |  'price_non_negative', c_neg_price,
            |  'quantity_in_1_50', c_qty_range,
            |  'unique_order_line', c_dup_key) AS (check_name, violations)"""
            .stripMargin)
        .withColumn("pass", col("violations") === 0L)
        .orderBy("check_name")
    }),

    "q46_range_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("epoch_day")
        .rangeBetween(-29, 0)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long")
            .as("epoch_day"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("trail30_cents", sum("cents").over(w))
        .withColumn("trail30_n", count(lit(1)).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("epoch_day"),
          (col("trail30_cents").cast("double") / lit(100.0)).as("trail30_spend"),
          col("trail30_n"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // R48: SCD2 dimension build — collapse each customer's order-
    // priority history into effective-dated ranges: change detection
    // via lag (consecutive repeats of the same value merge into one
    // range), then [valid_from, valid_to) via lead over the change
    // rows, version numbers, and an is_current flag. Two window
    // passes over customer-partitioned data — one shuffle on the
    // dimension key, linear at any scale. Timestamps travel as epoch
    // micros (exact integers).
    "q45_scd2" -> ((s, dir) =>
      scd2Versions(scd2Input(s, dir)).orderBy("o_custkey", "version")),

    // R62/q60: SCD2 POINT-IN-TIME lookup — the consumption pattern
    // q45's build exists for (the warehouse temporal join: enrich
    // every fact with the dimension attributes in effect AT ITS OWN
    // timestamp): facts equi-join the version table on the dimension
    // key with the [valid_from, valid_to) range predicate — an
    // equi-join plus filter, NOT a nested loop; per-key version
    // chains are change-count-sized, so the join's right side is
    // dimension-scale. Half-open ranges make the version at any
    // instant unique (zero-length ranges from same-instant changes
    // match nothing, by design). ONE shared version build
    // (scd2Versions) with q45, so build and lookup cannot drift.
    "q60_scd2_lookup" -> ((s, dir) => {
      val o = scd2Input(s, dir)
      val dim = scd2Versions(o)
        .select(col("o_custkey"), col("prio").as("prio_then"),
          col("valid_from_us"), col("valid_to_us"), col("version"))
      o.select(col("o_custkey"), col("o_orderkey"), col("ts_us"))
        .join(dim, Seq("o_custkey"))
        .filter(col("ts_us") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("ts_us") < col("valid_to_us")))
        .select(col("o_orderkey"), col("o_custkey"), col("version"),
          col("prio_then"))
        .orderBy("o_orderkey", "o_custkey", "version")
    }),

    // R47: date-spine gap fill — densify a sparse daily aggregate onto
    // the full calendar (sequence() spine → left join → zero-fill +
    // forward-fill via last(ignoreNulls) over the date order). The
    // global window is bounded by CALENDAR DAYS, not data rows, so the
    // single-partition window is scale-safe by construction; the heavy
    // side is one keyed daily aggregation.
    "q44_date_spine" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val dr = ord.agg(min(to_date(col("o_orderdate"))).as("d0"),
        max(to_date(col("o_orderdate"))).as("d1"))
      val spine = dr.select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("d"))
      val daily = ord.groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("rev"))
      val w = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          col("rev"),
          last(col("rev"), ignoreNulls = true).over(w).as("rev_ffill"))
        .orderBy("d")
    }),

    // R46: higher-order array-function battery — each order's lines
    // collected into linenumber-sorted arrays, then transform / filter
    // / aggregate (left fold) / zip_with / exists, all inside whole-
    // stage codegen. Money travels as integer cents (×100) so every
    // fold is exact integer arithmetic regardless of fold order; one
    // shuffle (the groupBy), everything after is narrow.
    "q43_hof_battery" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          struct(col("l_linenumber").as("ln"),
            col("l_quantity").cast("long").as("qty"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pxc"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dc")).as("item"))
        .groupBy("l_orderkey")
        .agg(array_sort(collect_list(col("item"))).as("items"))
        .select(col("l_orderkey"),
          size(col("items")).cast("long").as("n_items"),
          expr("size(filter(items, i -> i.qty > 25))").cast("long").as("n_big"),
          expr("aggregate(items, 0L, (a, i) -> a + i.qty)").as("tot_qty"),
          // Half-up to cents in INTEGER space ((x+50) div 100), then one
          // shared division: round(double, 2) is engine-divergent at
          // .5 boundaries (Spark rounds the shortest decimal repr,
          // DuckDB the binary value), integer arithmetic is not. The
          // 10000.0D suffix matters too: bare 10000.0 parses as
          // DECIMAL(5,1) in Spark SQL.
          expr("cast((aggregate(items, 0L, (a, i) -> a + i.pxc * (100 - i.dc)) + 50L) div 100L as double) / 100.0D")
            .as("revenue"),
          expr("aggregate(zip_with(transform(items, i -> i.qty), " +
            "transform(items, i -> i.pxc), (q, p) -> q * p), 0L, (a, x) -> a + x)")
            .as("qty_px"),
          expr("exists(items, i -> i.dc >= 8)").as("any_high_disc"))
        .orderBy("l_orderkey")
    }),

    "q42_running_distinct" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          size(collect_set(col("o_orderpriority")).over(w)).cast("long").as("n_prio"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // R57: EWMA anomaly monitor over keyed hourly series — the ops
    // monitoring pass streaming z-score (st11) can't express: an
    // EXPONENTIALLY-weighted baseline (α=0.25) that adapts to drift,
    // with a spike flag when an hour's volume deviates >50% from the
    // smoothed baseline of everything before it. EWMA is a sequential
    // recurrence (e_i = α·v_i + (1−α)·e_{i−1}) no window frame can
    // compute, so the series folds per key: one map-side-combined
    // count agg to (key, hour) rows — CALENDAR-BOUNDED, which is what
    // makes the per-key collect safe at 100 TB (a year is 8,760
    // entries regardless of corpus size; the heavy reduction happened
    // in the count) — then a linear HOF fold per key. The metric is
    // an integer COUNT (exact under any partitioning) and the fold
    // order is pinned by the sorted array, so every double is
    // engine-reproducible; the oracle replays e_i as the identical-
    // op-order fold of the first i elements.
    "q55_ewma_monitor" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      hourly.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("hr"), col("n")))).as("sv"))
        .select(col("event_type"),
          expr("transform(sv, x -> x.hr)").as("hrs"),
          expr("transform(sv, x -> CAST(x.n AS DOUBLE))").as("vs"),
          expr("transform(sv, x -> x.n)").as("ns"))
        .withColumn("es", expr(
          "aggregate(vs, CAST(array() AS ARRAY<DOUBLE>), (acc, v) -> " +
            "concat(acc, array(CASE WHEN size(acc) = 0 THEN v " +
            "ELSE 0.25 * v + 0.75 * element_at(acc, -1) END)))"))
        .select(col("event_type"), col("hrs"), col("ns"), col("es"),
          explode(expr("sequence(1, size(ns))")).as("i"))
        .select(col("event_type"),
          unix_micros(expr("element_at(hrs, i)")).as("hour_start_us"),
          expr("element_at(ns, i)").cast("long").as("n"),
          (floor(expr("element_at(es, i)") * lit(10000.0) + lit(0.5))
            / lit(10000.0)).as("ewma"),
          when(col("i") === 1, lit(0))
            .when(abs(expr("CAST(element_at(ns, i) AS DOUBLE)")
                - expr("element_at(es, i - 1)"))
              > lit(0.5) * expr("element_at(es, i - 1)"), lit(1))
            .otherwise(lit(0)).cast("long").as("spike"))
        .orderBy("event_type", "hour_start_us")
    }),

    "q41_retention" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val first = e.groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort"))
      e.select(col("user_id"), to_date(col("ts")).as("d"))
        .join(first, "user_id")
        .groupBy(col("cohort"),
          floor(datediff(col("d"), col("cohort")) / 7).cast("long").as("week"))
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort", "week")
    }),

    // R43: funnel analysis — how far each user progresses through
    // view → click → purchase, as conditional first-occurrence
    // timestamps in ONE aggregation pass (no joins, no sequence
    // explode; integer micros → exact). stage = deepest step whose
    // first occurrence strictly follows the previous step's.
    "q40_funnel" -> ((s, dir) => {
      def firstTs(tpe: String) =
        min(when(col("event_type") === tpe, unix_micros(col("ts"))))
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(firstTs("view").as("t_view"), firstTs("click").as("t_click"),
          firstTs("purchase").as("t_buy"))
        .select(col("user_id"),
          when(col("t_view").isNull, 0)
            .when(col("t_click").isNull || col("t_click") <= col("t_view"), 1)
            .when(col("t_buy").isNull || col("t_buy") <= col("t_click"), 2)
            .otherwise(3).cast("long").as("stage"))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    }),

    // R42: z-score outlier flagging — per-type mean/σ (one agg,
    // dim-sized) broadcast back onto the events; the 3σ filter is a
    // narrow scan. The monitoring/QC primitive over any channel.
    "q39_zscore_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val stats = e.groupBy("event_type")
        .agg(avg("value").as("m"), stddev_samp("value").as("sd"))
      e.join(broadcast(stats), "event_type")
        .filter(abs(col("value") - col("m")) > col("sd") * 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round((col("value") - col("m")) / col("sd"), 4).as("z"))
        .orderBy("event_id")
    }),

    // R41: VARIANT semi-structured path — parse_json once into Spark
    // 4's binary VARIANT, then schema-on-read extraction with
    // variant_get (the flexible-manifest twin of q25's fixed-schema
    // from_json; no JSONPath string evaluation per access).
    "q38_variant_props" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", expr("variant_get(v, '$.k', 'int')").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg("k"), 4).as("avg_k"),
          max("k").as("max_k"))
        .orderBy("event_type")
    }),

    // R40: sketch rollup — distinct customers per order-priority from
    // ONE fact scan, then the grand total by UNIONING the stored
    // per-group sketches (theta_union_agg), never rescanning orders.
    // Exact below 2^16 distinct → exact-distinct oracle.
    "q37_sketch_rollup" -> ((s, dir) => {
      import graft.functions.GraftFunctions._
      val per = t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(theta_sketch(col("o_custkey"), 16).as("sk"))
        // grand-total branch reuses the per-group sketches; freed by
        // the drivers' per-query clearCache (result is lazy)
        .persist()
      val rows = per.select(col("o_orderpriority").as("grp"),
        theta_estimate(col("sk")).cast("long").as("n_cust"))
      val total = per.agg(theta_union_agg(col("sk"), 16).as("all"))
        .select(lit("_ALL").as("grp"),
          theta_estimate(col("all")).cast("long").as("n_cust"))
      rows.union(total).orderBy("grp")
    }),

    // R38: z-order write clustering key — morton interleave of
    // (partkey, suppkey) mod 2^16. ZOrder.cluster (range shuffle +
    // in-partition sort) is the write-path operator, spec-checked in
    // PipelineSpec; this query verifies the interleave bit-for-bit
    // against the oracle's shift/mask chain.
    "q34_zorder" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 65536).as("x"), (col("l_suppkey") % 65536).as("y"))
        .withColumn("z", graft.operators.ZOrder.zkey(col("x"), col("y")))
        .orderBy("z", "l_orderkey", "l_linenumber")
    })
  )

  /** q54's oracle: one aggregate block per profiled column, UNION
    * ALL'd — the exact replay of Profile.profile's stacked lanes.
    */
  private def profileOracleSql: String = {
    val num = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def block(name: String, vExpr: String, isNum: Boolean): String = {
      val (mnx, strs) =
        if (isNum)
          (s"CAST(min($vExpr) AS DOUBLE) AS min_num, CAST(max($vExpr) AS DOUBLE) AS max_num",
            "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str")
        else
          ("CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num",
            s"min(CAST($vExpr AS VARCHAR)) AS min_str, max(CAST($vExpr AS VARCHAR)) AS max_str")
      s"""SELECT '$name' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $vExpr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $vExpr) AS BIGINT) AS n_distinct,
         |  $mnx, $strs
         |FROM lineitem""".stripMargin
    }
    val blocks = num.map(c => block(c, c, isNum = true)) ++
      Seq(block("l_returnflag", "l_returnflag", isNum = false),
        block("l_linestatus", "l_linestatus", isNum = false),
        block("l_shipdate", "CAST(l_shipdate AS DATE)", isNum = false))
    blocks.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  val oracle: Map[String, String] = Map(
    "q54_profile" -> profileOracleSql,

    // q62: the same join+aggregate straight off the raw parquet —
    // certifying the bucketed write→read path value-for-value.
    "q62_bucketed_join" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  CAST(sum(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM lineitem JOIN orders ON CAST(l_orderkey AS BIGINT) = CAST(o_orderkey AS BIGINT)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q61: the same zone/hit/report arithmetic over 50-doc files.
    "q61_zone_skip" ->
      """WITH f AS (SELECT coalesce(source, '?') AS source,
        |    coalesce(CAST(doc_id AS BIGINT), -1) // 50 AS file_id,
        |    CAST(n_chars AS BIGINT) AS nc
        |  FROM documents WHERE n_chars IS NOT NULL),
        | z AS (SELECT source, file_id, min(nc) AS zlo, max(nc) AS zhi,
        |    count(*) AS n_rows,
        |    sum(CASE WHEN nc BETWEEN 60 AND 100 THEN 1 ELSE 0 END) AS n_match
        |  FROM f GROUP BY 1, 2),
        | h AS (SELECT *, (zlo <= 100 AND zhi >= 60) AS hit FROM z)
        |SELECT source, count(*) AS n_files,
        |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_files_hit,
        |  CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(CASE WHEN hit THEN 0 ELSE n_rows END) AS BIGINT) AS rows_skipped,
        |  CAST(sum(n_match) AS BIGINT) AS rows_matched
        |FROM h GROUP BY source ORDER BY source""".stripMargin,

    // q59: ranked reference — (cnt DESC, qty ASC) row 1 per group.
    "q59_group_mode" ->
      """WITH vc AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    count(*) AS cnt
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
        | r AS (SELECT l_returnflag, qty, cnt,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cnt DESC, qty ASC) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n_distinct_v
        |  FROM vc)
        |SELECT l_returnflag, qty AS mode_qty, CAST(cnt AS BIGINT) AS mode_cnt,
        |  CAST(n_distinct_v AS BIGINT) AS n_distinct_v
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    // q58: ranked-window reference with the SAME R-7 interpolation
    // arithmetic (CAST(n−1 AS DOUBLE)·p, floor, subtract,
    // multiply-add) — identical IEEE op order, bit-equal doubles.
    "q58_interp_quantiles" ->
      """WITH o0 AS (SELECT coalesce(CAST(o_orderpriority AS VARCHAR), '?') AS prio,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders),
        | o AS (SELECT * FROM o0 WHERE cents IS NOT NULL),
        | r AS (SELECT prio, cents,
        |    row_number() OVER (PARTITION BY prio ORDER BY cents) AS rk,
        |    count(*) OVER (PARTITION BY prio) AS n FROM o),
        | sel AS (SELECT prio, CAST(max(n) AS BIGINT) AS n,
        |    max(CASE WHEN rk = CAST(floor(CAST(n-1 AS DOUBLE)*0.25) AS BIGINT)+1 THEN cents END) AS lo25,
        |    max(CASE WHEN rk = least(CAST(floor(CAST(n-1 AS DOUBLE)*0.25) AS BIGINT)+2, n) THEN cents END) AS hi25,
        |    max(CASE WHEN rk = CAST(floor(CAST(n-1 AS DOUBLE)*0.5) AS BIGINT)+1 THEN cents END) AS lo50,
        |    max(CASE WHEN rk = least(CAST(floor(CAST(n-1 AS DOUBLE)*0.5) AS BIGINT)+2, n) THEN cents END) AS hi50,
        |    max(CASE WHEN rk = CAST(floor(CAST(n-1 AS DOUBLE)*0.9) AS BIGINT)+1 THEN cents END) AS lo90,
        |    max(CASE WHEN rk = least(CAST(floor(CAST(n-1 AS DOUBLE)*0.9) AS BIGINT)+2, n) THEN cents END) AS hi90
        |  FROM r GROUP BY prio)
        |SELECT prio, n,
        |  CAST(lo25 AS DOUBLE) + (CAST(hi25 AS DOUBLE) - CAST(lo25 AS DOUBLE))
        |    * (CAST(n-1 AS DOUBLE)*0.25 - floor(CAST(n-1 AS DOUBLE)*0.25)) AS p25_cents,
        |  CAST(lo50 AS DOUBLE) + (CAST(hi50 AS DOUBLE) - CAST(lo50 AS DOUBLE))
        |    * (CAST(n-1 AS DOUBLE)*0.5 - floor(CAST(n-1 AS DOUBLE)*0.5)) AS p50_cents,
        |  CAST(lo90 AS DOUBLE) + (CAST(hi90 AS DOUBLE) - CAST(lo90 AS DOUBLE))
        |    * (CAST(n-1 AS DOUBLE)*0.9 - floor(CAST(n-1 AS DOUBLE)*0.9)) AS p90_cents
        |FROM sel ORDER BY prio""".stripMargin,

    // Full recompute over ALL of orders — certifying that the Spark
    // side's persisted-base + delta merge equals it value-for-value.
    "q56_incr_mv" ->
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT))
        |   AS BIGINT) AS sum_cents,
        | min(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS min_cents,
        | max(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS max_cents,
        | CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS DOUBLE)
        |   / count(*) AS avg_cents
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q57: recompute from orders with the same old-batch (odd/null
    // key) → 'missing' convention the split wrote into batch 1.
    "q57_schema_merge" ->
      """SELECT CASE WHEN o_orderkey IS NOT NULL AND o_orderkey % 2 = 0
        |         THEN coalesce(o_orderpriority, 'missing')
        |         ELSE 'missing' END AS prio,
        | count(*) AS n,
        | CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT))
        |   AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q03_top_orders" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-06-30'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q05_region_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q06_distinct_parts" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q07_topn_per_group" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) WHERE rn <= 3
        |ORDER BY l_suppkey, rn""".stripMargin,

    "q08_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_quantity
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q09_order_gaps" ->
      """SELECT o_custkey, o_orderkey,
        | date_diff('day', prev_date, o_orderdate) AS gap_days
        |FROM (
        | SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_date
        | FROM orders)
        |WHERE prev_date IS NOT NULL
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q10_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,

    "q11_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q12_union_keys" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
        |ORDER BY custkey""".stripMargin,

    "q13_rollup" ->
      """SELECT coalesce(l_returnflag,'ALL') AS returnflag,
        | coalesce(l_linestatus,'ALL') AS linestatus,
        | round(sum(l_quantity),2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q14_price_buckets" ->
      """SELECT CASE WHEN l_extendedprice < 10000 THEN 'low'
        |  WHEN l_extendedprice < 50000 THEN 'mid' ELSE 'high' END AS bucket,
        | count(*) AS n,
        | round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice END),2)
        |   AS discounted_value
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q15_string_ops" ->
      """SELECT p_brand, count(*) AS n,
        | min(upper(substr(p_name,1,8))) AS min_name8,
        | max(concat(p_brand, ':', p_type)) AS max_bt
        |FROM part WHERE p_type LIKE 'PROMO%'
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q16_date_ops" ->
      """SELECT CAST(extract(year FROM o_orderdate) AS INT) AS y,
        | CAST(extract(month FROM o_orderdate) AS INT) AS m,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY y, m ORDER BY y, m""".stripMargin,

    "q17_having" ->
      """SELECT o_custkey, round(sum(o_totalprice),2) AS spend,
        | count(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |HAVING round(sum(o_totalprice),2) > 1500000
        |ORDER BY o_custkey""".stripMargin,

    "q18_topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q19_pivot_events" ->
      """SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS day,
        | round(sum(CASE WHEN event_type='click' THEN value END),2) AS click,
        | round(sum(CASE WHEN event_type='error' THEN value END),2) AS error,
        | round(sum(CASE WHEN event_type='purchase' THEN value END),2) AS purchase,
        | round(sum(CASE WHEN event_type='signup' THEN value END),2) AS signup,
        | round(sum(CASE WHEN event_type='view' THEN value END),2) AS view
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "q20_above_avg" ->
      """SELECT p_brand, count(*) AS n,
        | round(sum(l_extendedprice),2) AS value
        |FROM lineitem
        |JOIN (SELECT l_partkey AS ap_partkey, avg(l_extendedprice) AS avg_price
        |      FROM lineitem GROUP BY l_partkey) ap ON l_partkey = ap_partkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_extendedprice > avg_price * 1.2
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q21_asof_join" ->
      """SELECT p.event_id, p.user_id,
        | (SELECT max(c.event_id) FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |     AND c.ts <= p.ts
        |     AND c.ts = (SELECT max(c2.ts) FROM events c2
        |       WHERE c2.event_type = 'click' AND c2.user_id = p.user_id
        |         AND c2.ts <= p.ts)) AS asof_click_id
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "q23_cube" ->
      """SELECT coalesce(l_returnflag,'ALL') AS returnflag,
        | coalesce(l_linestatus,'ALL') AS linestatus,
        | round(sum(l_extendedprice),2) AS total, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q24_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | round(sum(o_totalprice), 2) AS total, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,

    "q25_json_props" ->
      """SELECT event_type,
        | CAST(floor(CAST(json_extract(props, '$.k') AS INT) / 10.0) AS BIGINT) AS k_bucket,
        | count(*) AS n, round(avg(value), 4) AS avg_value
        |FROM events GROUP BY event_type, k_bucket
        |ORDER BY event_type, k_bucket""".stripMargin,

    "q26_word_explode" ->
      s"""SELECT lang, word, count(*) AS n FROM (
        | SELECT lang, unnest(string_split(
        |   ${PortableHashSql.norm("text")}, ' ')) AS word
        | FROM documents)
        |GROUP BY lang, word HAVING count(*) >= 100
        |ORDER BY lang, word""".stripMargin,

    "q27_set_ops" ->
      """SELECT nationkey, 'both' AS src FROM (
        | SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | INTERSECT
        | SELECT c_nationkey FROM customer WHERE c_acctbal > 8000)
        |UNION ALL
        |SELECT nationkey, 'building_only' AS src FROM (
        | SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | EXCEPT
        | SELECT c_nationkey FROM customer WHERE c_acctbal > 8000)
        |ORDER BY src, nationkey""".stripMargin,

    "q28_full_outer" ->
      """SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name,
        | coalesce(spend, 0.0) AS spend
        |FROM customer
        |FULL OUTER JOIN (
        |  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
        |  FROM orders GROUP BY o_custkey) s
        |ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,

    "q29_rank_funcs" ->
      """SELECT l_returnflag, drnk, quartile, pct, l_orderkey, l_linenumber FROM (
        | SELECT l_returnflag, l_orderkey, l_linenumber,
        |  dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct
        | FROM lineitem
        | WINDOW w AS (PARTITION BY l_returnflag
        |   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber))
        |WHERE drnk <= 10
        |ORDER BY l_returnflag, drnk, l_orderkey, l_linenumber""".stripMargin,

    "q30_string_extra" ->
      """SELECT p_partkey,
        | lpad(p_brand, 12, '_') AS padded,
        | translate(p_type, 'AEIOU', 'aeiou') AS xlated,
        | regexp_replace(p_name, '[aeiou]', '', 'g') AS novowels,
        | CAST(instr(p_type, 'BRUSHED') AS INT) AS brushed_at,
        | reverse(substr(p_name, 1, 6)) AS rev6
        |FROM part ORDER BY p_partkey""".stripMargin,
    // q22_cluster_sort: the compare hashes value content (row order is
    // normalized away), so a plain projection oracle verifies the
    // repartition+sortWithinPartitions pipeline preserves every row
    // exactly; the partition-local ORDERING itself is asserted in
    // PipelineSpec (not SQL-expressible).
    "q22_cluster_sort" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate
        |FROM lineitem""".stripMargin,

    "q31_range_join" ->
      """SELECT band, count(*) AS n, round(sum(l_extendedprice), 2) AS total
        |FROM (SELECT unnest(range(0, 130)) AS band) b
        |JOIN lineitem
        |  ON l_extendedprice >= band * 900.0 AND l_extendedprice < band * 900.0 + 1800.0
        |GROUP BY band ORDER BY band""".stripMargin,

    "q32_skew_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q33_bloom_join" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |GROUP BY month ORDER BY month""".stripMargin,

    "q48_group_quantiles" ->
      """WITH m AS (
        |  SELECT l_returnflag, l_linestatus, 'price_cents' AS measure,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, l_linestatus, 'quantity',
        |         CAST(l_quantity AS BIGINT) FROM lineitem),
        | r AS (SELECT *,
        |    row_number() OVER (PARTITION BY l_returnflag, l_linestatus, measure
        |      ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag, l_linestatus, measure) AS n
        |  FROM m)
        |SELECT l_returnflag, l_linestatus, measure, CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS median_v,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN v END) AS p90_v
        |FROM r WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q49_open_orders" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS s,
        |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 + 1 AS INTEGER) AS e
        |  FROM orders),
        | dd AS (SELECT s AS d, 1 AS delta FROM o
        |   UNION ALL SELECT e, -1 FROM o),
        | g AS (SELECT d, sum(delta) AS delta FROM dd GROUP BY d)
        |SELECT d, CAST(sum(delta) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open
        |FROM g ORDER BY d""".stripMargin,

    // q50: the same start-offset bin assignment (cumulative bytes
    // BEFORE the file, integer-divided by the target) — all integer.
    "q50_compaction" ->
      """WITH src AS (SELECT CAST(source AS VARCHAR) AS source,
        |    CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(n_chars AS BIGINT) AS bytes FROM documents),
        | inv AS (SELECT source, doc_id, bytes,
        |    coalesce(sum(bytes) OVER (PARTITION BY source
        |      ORDER BY doc_id NULLS FIRST, bytes NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM src),
        | b AS (SELECT source, doc_id, bytes, CAST(start_off // 4000 AS BIGINT) AS bin,
        |    CASE WHEN bytes < 4000 THEN 1 ELSE 0 END AS small FROM inv)
        |SELECT source, bin, count(*) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(sum(small) AS BIGINT) AS n_small_files
        |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    // q53: the oracle aggregates the PARQUET table directly — the
    // Spark side must reproduce the numbers through its avro
    // write→read round trip, certifying the container path.
    "q53_avro_roundtrip" ->
      """SELECT l_returnflag,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(sum(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 1000000) AS BIGINT) AS sum_ship_s
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // q52: the identical recursive walk — DuckDB's // is Spark's div
    // on BIGINT; all-integer facts, no float anywhere.
    "q52_recursive_tree" ->
      """WITH RECURSIVE chain(node, a) AS (
        |  SELECT CAST(s_suppkey AS BIGINT), CAST(s_suppkey AS BIGINT) FROM supplier
        |  UNION ALL
        |  SELECT node, a // 2 FROM chain WHERE a >= 2
        |)
        |SELECT node, count(*) AS depth, min(a) AS root
        |FROM chain GROUP BY node ORDER BY node""".stripMargin,

    // q51: latest-version-wins via row_number, FULL JOIN merge,
    // tombstone filter; generate_series ≡ Spark sequence (inclusive).
    "q51_cdc_merge" -> cdcMergeSql(verBound = None),

    // q64: the corruption rule replayed from orders — never parsing
    // JSON: keys ≡ 0 (mod 7) form the NULL-columned quarantine
    // bucket, everything else rolls up under its priority.
    "q64_jsonl_quarantine" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents,
        |    coalesce(CAST(o_orderpriority AS VARCHAR), '') AS prio
        |  FROM orders),
        | b AS (SELECT CASE WHEN (k % 7 + 7) % 7 = 0
        |      THEN '__quarantine__' ELSE prio END AS bucket,
        |    CASE WHEN (k % 7 + 7) % 7 = 0 THEN NULL ELSE cents END AS cents,
        |    CASE WHEN (k % 7 + 7) % 7 = 0 THEN 1 ELSE 0 END AS bad
        |  FROM o)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bad) AS BIGINT) AS n_bad,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // q71: the post-vacuum history — v2 through its materialized
    // checkpoint (full), v3 a surviving delta; exact row counts from
    // the manifests' footer stats vs the raw recompute.
    "q71_table_history" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | c AS (SELECT count(*) AS nall,
        |    sum(CASE WHEN (k % 3 + 3) % 3 IN (0, 1) THEN 1 ELSE 0 END) AS nab
        |  FROM o)
        |SELECT CAST(2 AS BIGINT) AS version, 'compact' AS action,
        |  'full' AS kind, CAST(nab AS BIGINT) AS n_rows FROM c
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'append', 'delta', CAST(nall AS BIGINT) FROM c
        |ORDER BY version""".stripMargin,

    // q73: q57's accretion convention replayed from raw orders —
    // old-batch (odd/null key) rows read 'missing' through the
    // store's null-filled scan; rejected/n_v0_cols are the gate's
    // and the as-of read's contracts (a silent drifted append flips
    // rejected to 0; a footer-won read breaks the group sums).
    "q73_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey IS NOT NULL AND o_orderkey % 2 = 0
        |         THEN coalesce(o_orderpriority, 'missing')
        |         ELSE 'missing' END AS prio,
        | count(*) AS n,
        | CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT))
        |   AS BIGINT) AS sum_cents,
        | CAST(1 AS BIGINT) AS rejected,
        | CAST(2 AS BIGINT) AS n_v0_cols
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // q74: the whole change feed reconstructed from raw orders by
    // set algebra — initial snapshot + two appends as inserts, the
    // snapshot reset as delete-everything + insert-A; a wrong file
    // diff, version stamp, or snapshot-rescanning feed breaks the
    // per-(version, type) sums.
    "q74_change_feed" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | seg AS (SELECT k, price, (k % 3 + 3) % 3 AS m FROM o),
        | feed AS (
        |   SELECT 0 AS version, 'insert' AS change_type, k, price
        |   FROM seg WHERE m = 0
        |   UNION ALL SELECT 1, 'insert', k, price FROM seg WHERE m = 1
        |   UNION ALL SELECT 2, 'insert', k, price FROM seg WHERE m = 2
        |   UNION ALL SELECT 3, 'delete', k, price FROM seg
        |   UNION ALL SELECT 3, 'insert', k, price FROM seg WHERE m = 0)
        |SELECT CAST(version AS BIGINT) AS version, change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_price
        |FROM feed GROUP BY version, change_type
        |ORDER BY version, change_type""".stripMargin,

    // q75: latest-wins state and the feed's delete/insert sums
    // replayed from raw orders; n_rewritten's 0 is the merge-on-read
    // physical contract (a rewrite fallback flips the remove count).
    "q75_dv_merge" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | m AS (SELECT k, price, (k % 97 + 97) % 97 AS r FROM o),
        | st AS (SELECT k, CASE WHEN r = 1 THEN price + 100 ELSE price END AS price
        |   FROM m WHERE r <> 0)
        |SELECT CAST((SELECT count(*) FROM st) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(DISTINCT k) FROM st) AS BIGINT) AS n_keys,
        |  CAST((SELECT sum(price) FROM st) AS BIGINT) AS sum_price,
        |  CAST((SELECT count(*) FROM m WHERE r IN (0, 1)) AS BIGINT) AS n_cdf_del,
        |  CAST((SELECT sum(price) FROM m WHERE r IN (0, 1)) AS BIGINT) AS sum_cdf_del,
        |  CAST((SELECT count(*) FROM m WHERE r = 1) AS BIGINT) AS n_cdf_ins,
        |  CAST((SELECT sum(price) + 100 * count(*) FROM m WHERE r = 1) AS BIGINT)
        |    AS sum_cdf_ins,
        |  CAST(0 AS BIGINT) AS n_rewritten""".stripMargin,

    // q76: the SQL-surface aggregate replayed from raw orders — the
    // head is the full key set, v0 the even half; a version-pinning
    // or pushdown-correctness bug in the connector breaks a sum.
    "q76_sql_store" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents,
        |    o_orderpriority AS prio
        |  FROM orders WHERE o_orderkey IS NOT NULL)
        |SELECT prio, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST((SELECT count(*) FROM o
        |        WHERE k % 2 = 0 AND k BETWEEN 500 AND 2500) AS BIGINT)
        |    AS n_v0_range
        |FROM o WHERE k BETWEEN 500 AND 2500
        |GROUP BY prio ORDER BY prio""".stripMargin,

    // q81: the 2-D range aggregate recomputed from raw orders (the
    // q68 convention — layout is content-neutral, so a curve or
    // pruning bug is a value diff; tile claims live in ZOrderSpec).
    "q81_hilbert_log" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | b AS (SELECT k, cents,
        |    least(cents // 100000, 255) AS xb,
        |    ((k % 256) + 256) % 256 AS yb FROM o)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM b WHERE xb BETWEEN 30 AND 70 AND yb BETWEEN 32 AND 159""".stripMargin,

    // q80: every statistic recomputed exactly from raw orders — the
    // theta NDVs are in exact mode (per-file cardinalities ≪ 2^16),
    // so count(DISTINCT) is the oracle, not a tolerance.
    "q80_analyze" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(o_custkey AS BIGINT) AS cust,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL)
        |SELECT col_name,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_nulls AS BIGINT) AS n_nulls,
        |  CAST(zmin AS BIGINT) AS zmin, CAST(zmax AS BIGINT) AS zmax,
        |  CAST(ndv AS BIGINT) AS ndv
        |FROM (
        |  SELECT 'cents' AS col_name, count(*) AS n_rows,
        |    sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS n_nulls,
        |    min(cents) AS zmin, max(cents) AS zmax,
        |    count(DISTINCT cents) AS ndv FROM o
        |  UNION ALL
        |  SELECT 'cust', count(*),
        |    sum(CASE WHEN cust IS NULL THEN 1 ELSE 0 END),
        |    min(cust), max(cust), count(DISTINCT cust) FROM o
        |  UNION ALL
        |  SELECT 'k', count(*),
        |    sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END),
        |    min(k), max(k), count(DISTINCT k) FROM o)
        |ORDER BY col_name""".stripMargin,

    // q79: q74's feed algebra restricted to even keys — the
    // SQL-surface CDF with a row-level filter composed on top.
    "q79_sql_changes" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL AND o_orderkey % 2 = 0),
        | seg AS (SELECT k, price, (k % 3 + 3) % 3 AS m FROM o),
        | feed AS (
        |   SELECT 0 AS version, 'insert' AS change_type, k, price
        |   FROM seg WHERE m = 0
        |   UNION ALL SELECT 1, 'insert', k, price FROM seg WHERE m = 1
        |   UNION ALL SELECT 2, 'insert', k, price FROM seg WHERE m = 2
        |   UNION ALL SELECT 3, 'delete', k, price FROM seg
        |   UNION ALL SELECT 3, 'insert', k, price FROM seg WHERE m = 0)
        |SELECT CAST(version AS BIGINT) AS version, change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price) AS BIGINT) AS sum_price
        |FROM feed GROUP BY version, change_type
        |ORDER BY version, change_type""".stripMargin,

    // q77: the post-restore world replayed from raw orders — head =
    // blessed subset + the post-restore append; the restore's feed
    // is pure deletes of the rolled-back batches (a restore that
    // rewrote or missed a file flips a sum); as-of v2 still sees
    // everything; 5 versions, exactly 1 restore action.
    "q77_restore" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | seg AS (SELECT k, price, (k % 3 + 3) % 3 AS m FROM o)
        |SELECT
        |  CAST((SELECT count(*) FROM seg WHERE m IN (0, 1)) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(DISTINCT k) FROM seg WHERE m IN (0, 1)) AS BIGINT)
        |    AS n_keys,
        |  CAST((SELECT sum(price) FROM seg WHERE m IN (0, 1)) AS BIGINT)
        |    AS sum_price,
        |  CAST((SELECT count(*) FROM seg WHERE m IN (1, 2)) AS BIGINT)
        |    AS n_cdf_del,
        |  CAST((SELECT sum(price) FROM seg WHERE m IN (1, 2)) AS BIGINT)
        |    AS sum_cdf_del,
        |  CAST(0 AS BIGINT) AS n_cdf_ins,
        |  CAST((SELECT count(*) FROM seg) AS BIGINT) AS n_asof_v2,
        |  CAST(5 AS BIGINT) AS n_versions,
        |  CAST(1 AS BIGINT) AS n_restores""".stripMargin,

    // q82: the v1 snapshot (commits at t=1000/2000/3000; instant 2500
    // resolves DOWN to v1 = segments 0∪1) recomputed from raw orders;
    // the boundary versions and vacuum outcomes are the resolution
    // contracts (a wrong boundary rule, a vacuum that took the
    // boundary version, or a resolution that drifted after retention
    // flips one of the constants or a sum).
    "q82_timestamp_travel" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | seg AS (SELECT k, price FROM o WHERE (k % 3 + 3) % 3 IN (0, 1))
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(count(*) AS BIGINT) AS n_sql_rows,
        |  CAST(1 AS BIGINT) AS v_mid,
        |  CAST(1 AS BIGINT) AS v_exact,
        |  CAST(2 AS BIGINT) AS v_head,
        |  CAST(2 AS BIGINT) AS n_live_versions,
        |  CAST(1 AS BIGINT) AS v0_gone
        |FROM seg""".stripMargin,

    // q83: both string-predicate aggregates recomputed from raw
    // orders under bytewise VARCHAR comparison; pruned=1 is the
    // zone-skipping claim (a string-zone compare bug that wrongly
    // excludes a file breaks a sum, one that never excludes flips
    // pruned).
    "q83_string_zones" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents,
        |    o_orderpriority AS prio
        |  FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL)
        |SELECT
        |  CAST((SELECT count(*) FROM o
        |        WHERE prio >= '2-HIGH' AND prio <= '3-MEDIUM') AS BIGINT)
        |    AS n_range,
        |  CAST((SELECT sum(cents) FROM o
        |        WHERE prio >= '2-HIGH' AND prio <= '3-MEDIUM') AS BIGINT)
        |    AS sum_range,
        |  CAST((SELECT count(*) FROM o WHERE prio = '1-URGENT') AS BIGINT)
        |    AS n_eq,
        |  CAST((SELECT sum(cents) FROM o WHERE prio = '1-URGENT') AS BIGINT)
        |    AS sum_eq,
        |  CAST(1 AS BIGINT) AS pruned""".stripMargin,

    // q84: the SQL-written versions replayed from raw orders — v1 is
    // the full key set (API even half + SQL odd half), the head the
    // mod-3 overwrite subset; rejected/head_after_reject pin the
    // drift gate through the SQL path (a silent accept flips both).
    "q84_sql_write" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL)
        |SELECT
        |  CAST((SELECT count(*) FROM o WHERE (k % 3 + 3) % 3 = 0) AS BIGINT)
        |    AS n_rows,
        |  CAST((SELECT count(DISTINCT k) FROM o WHERE (k % 3 + 3) % 3 = 0)
        |    AS BIGINT) AS n_keys,
        |  CAST((SELECT sum(cents) FROM o WHERE (k % 3 + 3) % 3 = 0) AS BIGINT)
        |    AS sum_cents,
        |  CAST((SELECT count(*) FROM o) AS BIGINT) AS n_v1,
        |  CAST((SELECT sum(cents) FROM o) AS BIGINT) AS sum_v1,
        |  CAST(1 AS BIGINT) AS rejected,
        |  CAST(1 AS BIGINT) AS head_after_reject,
        |  CAST(2 AS BIGINT) AS head_version""".stripMargin,

    // q85: the plain fact⋈dim aggregate straight off the raw parquet —
    // a hint may change the plan, never a value, so any drift through
    // the store+stats+broadcast path breaks a sum.
    "q85_stats_join" ->
      """SELECT c_mktsegment AS segment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders JOIN customer
        |  ON CAST(o_custkey AS BIGINT) = CAST(c_custkey AS BIGINT)
        |WHERE o_custkey IS NOT NULL AND c_custkey IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q86: all three segments recomputed from raw orders with v0's
    // rows bucketed 'missing' (they predate the prio accretion); a
    // widening bug loses a segment or breaks a sum, a DDL regression
    // flips k_type, a silent incompatible retype flips rejected.
    "q86_type_widening" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents,
        |    o_orderpriority AS prio
        |  FROM orders WHERE o_orderkey IS NOT NULL)
        |SELECT CASE WHEN (k % 3 + 3) % 3 = 0 THEN 'missing' ELSE prio END
        |    AS prio,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(1 AS BIGINT) AS rejected,
        |  'BIGINT' AS k_type
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    // q87: the per-segment aggregate recomputed from raw orders;
    // n_removed=2/n_added=1 are the bounded-sweep physical claim — a
    // sweep ignoring the bound removes 4, one that rewrote nothing
    // removes 0, and any content drift breaks a segment sum.
    "q87_bounded_compact" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | b AS (SELECT ((k % 2000 + 2000) % 2000) // 500 AS segment, cents
        |   FROM o)
        |SELECT CAST(segment AS BIGINT) AS segment,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(2 AS BIGINT) AS n_removed,
        |  CAST(1 AS BIGINT) AS n_added
        |FROM b GROUP BY segment ORDER BY segment""".stripMargin,

    // q88: the three change classes recomputed from raw orders —
    // deletes at the old price, preimages old, postimages new.
    "q88_cdf_updates" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | m AS (SELECT k, price, (k % 97 + 97) % 97 AS r FROM o)
        |SELECT 'delete' AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_price
        |FROM m WHERE r = 0
        |UNION ALL
        |SELECT 'update_postimage', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT k) AS BIGINT),
        |  CAST(sum(price) + 100 * count(*) AS BIGINT)
        |FROM m WHERE r = 1
        |UNION ALL
        |SELECT 'update_preimage', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT k) AS BIGINT),
        |  CAST(sum(price) AS BIGINT)
        |FROM m WHERE r = 1
        |ORDER BY change_type""".stripMargin,

    // q89: the probed key-class rows from raw orders, twice (API +
    // SQL paths), and a structural zero for the in-zone miss.
    "q89_string_bloom" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | mx AS (SELECT max(k) % 50000 AS mk FROM o)
        |SELECT CAST(count(*) AS BIGINT) AS n_hit,
        |  CAST(sum(cents) AS BIGINT) AS hit_cents,
        |  CAST(count(*) AS BIGINT) AS n_sql,
        |  CAST(0 AS BIGINT) AS n_miss
        |FROM o, mx WHERE (o.k % 50000 + 50000) % 50000 = mx.mk""".stripMargin,

    // q90: both columns' stat lanes recomputed exactly from raw
    // orders — string min/max under collation-free VARCHAR order,
    // NDVs via count(DISTINCT) (sketches in exact mode).
    "q90_analyze_strings" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderpriority AS prio
        |  FROM orders WHERE o_orderkey IS NOT NULL)
        |SELECT 'k' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nulls,
        |  CAST(min(k) AS BIGINT) AS zmin, CAST(max(k) AS BIGINT) AS zmax,
        |  CAST(NULL AS VARCHAR) AS zmin_str, CAST(NULL AS VARCHAR) AS zmax_str,
        |  CAST(count(DISTINCT k) AS BIGINT) AS ndv
        |FROM o
        |UNION ALL
        |SELECT 'prio', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN prio IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  min(prio), max(prio),
        |  CAST(count(DISTINCT prio) AS BIGINT)
        |FROM o
        |ORDER BY col_name""".stripMargin,

    // q96: name-addressed time travel replayed from raw orders —
    // head = all PK-collapsed keys, v1 = the even-key prefix, the
    // timestamp reads resolve to v1/head (structural equality with
    // the version reads); missing_version_loud pins the resolution-
    // time error.
    "q96_catalog_travel" ->
      """WITH o0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | o AS (SELECT k, max(price) AS price FROM o0 GROUP BY k),
        | v1 AS (SELECT k, price FROM o WHERE k % 2 = 0)
        |SELECT
        |  CAST((SELECT count(*) FROM o) AS BIGINT) AS n_head,
        |  CAST((SELECT sum(price) FROM o) AS BIGINT) AS sum_head,
        |  CAST((SELECT count(*) FROM v1) AS BIGINT) AS n_v1,
        |  CAST((SELECT sum(price) FROM v1) AS BIGINT) AS sum_v1,
        |  CAST((SELECT count(*) FROM v1) AS BIGINT) AS n_at_ts1,
        |  CAST((SELECT count(*) FROM o) AS BIGINT) AS n_at_late_ts,
        |  CAST(1 AS BIGINT) AS missing_version_loud""".stripMargin,

    // q95: the catalog-table lifecycle replayed from raw orders —
    // PK-collapse, the % 11 delete, the added column all-NULL
    // (n_notes = 0), sums under the renamed column.
    "q95_catalog_tables" ->
      """WITH o0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | o AS (SELECT k, max(price) AS price FROM o0 GROUP BY k),
        | d AS (SELECT k, price FROM o WHERE k % 11 <> 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_cents,
        |  CAST(0 AS BIGINT) AS n_notes
        |FROM d""".stripMargin,

    // q94: the maintained table's content replayed from raw orders
    // (compaction moves bytes, never values; vacuum moves history,
    // never the head) — the structural literals are the operational
    // claims: dry==real vacuum, metadata-only retention, exact
    // ANALYZE row count, one live version post-vacuum.
    "q94_sql_maintenance" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | d AS (SELECT k, price FROM o
        |   UNION ALL
        |   SELECT k + 1000000000 AS k, price FROM o
        |   WHERE (k + 1000000000) % 7 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(2 AS BIGINT) AS v_compact,
        |  CAST(1 AS BIGINT) AS dry_matches_real,
        |  CAST(1 AS BIGINT) AS vacuum_metadata_only,
        |  CAST(1 AS BIGINT) AS stats_exact,
        |  CAST(1 AS BIGINT) AS n_live_versions
        |FROM d""".stripMargin,

    // q93: rename/append/drop replayed from raw orders — head sums
    // under the NEW name include the shifted append; the v0 snapshot
    // sums under the OLD name; pruned/rejected/head_version are the
    // metadata-only, drift-gate and one-commit-per-step claims.
    "q93_column_mapping" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | d AS (SELECT k, cents AS price FROM o
        |   UNION ALL
        |   SELECT k + 1000000000, cents + 17 FROM o WHERE k % 5 = 0)
        |SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(DISTINCT k) FROM d) AS BIGINT) AS n_keys,
        |  CAST((SELECT sum(price) FROM d) AS BIGINT) AS sum_price,
        |  CAST((SELECT sum(cents) FROM o) AS BIGINT) AS sum_cents_v0,
        |  CAST(1 AS BIGINT) AS pruned,
        |  CAST(1 AS BIGINT) AS rejected,
        |  CAST(3 AS BIGINT) AS head_version""".stripMargin,

    // q98: the constraint lifecycle replayed from raw orders — head =
    // PK-collapsed rows (+7 on the k%13 class from the clean DML) ∪
    // the clean sink batch (k%7 class at price 999, shifted keys);
    // the rejected merge and sink batch contribute NOTHING; the
    // structural literals pin the loud-rejection and carriage claims.
    "q98_declared_constraints" ->
      """WITH o0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |    AND CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) > 0),
        | o AS (SELECT k, max(price) AS price FROM o0 GROUP BY k),
        | fin AS (
        |   SELECT k, CASE WHEN k % 13 = 0 THEN price + 7 ELSE price END AS price
        |   FROM o
        |   UNION ALL
        |   SELECT k + 2000000000 AS k, CAST(999 AS BIGINT) AS price
        |   FROM o WHERE k % 7 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(1 AS BIGINT) AS merge_rejected,
        |  CAST(1 AS BIGINT) AS sink_rejected,
        |  CAST(1 AS BIGINT) AS rejects_committed_nothing,
        |  CAST(1 AS BIGINT) AS n_checks
        |FROM fin""".stripMargin,

    // q101: PK-collapsed base with the declared-key merge (+7 on the
    // k%11 class) and update (+1 on k%19) replayed; a wrong default
    // key (the decoy first column) would collapse duplicate price
    // classes and break every aggregate.
    "q101_table_properties" ->
      """WITH o0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | o AS (SELECT k, max(price) AS price FROM o0 GROUP BY k),
        | fin AS (SELECT k,
        |    (CASE WHEN k % 11 = 0 THEN price + 7 ELSE price END) +
        |    (CASE WHEN k % 19 = 0 THEN 1 ELSE 0 END) AS price
        |  FROM o)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(3 AS BIGINT) AS n_props
        |FROM fin""".stripMargin,

    // q99: the evolution merge replayed — matched k%11 rows take
    // price+5 and disc=k%7, inserted shifted keys carry disc=k%5,
    // every untouched row null-fills disc; the literal column counts
    // pin the widen-at-head / old-schema-below-AS-OF claims.
    "q99_dml_evolve" ->
      """WITH o0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | o AS (SELECT k, max(price) AS price FROM o0 GROUP BY k),
        | fin AS (
        |   SELECT k, price, CAST(NULL AS BIGINT) AS disc FROM o
        |   WHERE k % 11 <> 0
        |   UNION ALL
        |   SELECT k, price + 5, k % 7 FROM o WHERE k % 11 = 0
        |   UNION ALL
        |   SELECT k + 4000000000, price, k % 5 FROM o WHERE k % 13 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(sum(disc) AS BIGINT) AS sum_disc,
        |  CAST(sum(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_disc,
        |  CAST(2 AS BIGINT) AS n_cols_asof,
        |  CAST(3 AS BIGINT) AS n_cols_head
        |FROM fin""".stripMargin,

    // q100: q74's feed algebra shifted by the create-empty v0 —
    // inserts at versions 1..3, the INSERT OVERWRITE reset at 4 as
    // delete-everything + re-insert of the m=0 slice.
    "q100_table_changes" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | seg AS (SELECT k, price, (k % 3 + 3) % 3 AS m FROM o),
        | feed AS (
        |   SELECT 1 AS version, 'insert' AS change_type, k, price
        |   FROM seg WHERE m = 0
        |   UNION ALL SELECT 2, 'insert', k, price FROM seg WHERE m = 1
        |   UNION ALL SELECT 3, 'insert', k, price FROM seg WHERE m = 2
        |   UNION ALL SELECT 4, 'delete', k, price FROM seg
        |   UNION ALL SELECT 4, 'insert', k, price FROM seg WHERE m = 0)
        |SELECT CAST(version AS BIGINT) AS version, change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_price
        |FROM feed GROUP BY version, change_type
        |ORDER BY version, change_type""".stripMargin,

    // q97: the composite-key MERGE replayed tuple-for-tuple — the
    // range conjunct gates the matched actions (over-threshold rows
    // survive untouched; their source rows fall through the op='I'
    // insert condition), inserts land at (ck, -ok); cow_pruned and
    // head_version are the physical one-commit/subset-rewrite claims.
    "q97_merge_general" ->
      """WITH o0 AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
        |    CAST(o_orderkey AS BIGINT) AS ok,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderkey IS NOT NULL),
        | o AS (SELECT ck, ok, max(price) AS price FROM o0 GROUP BY ck, ok),
        | mx AS (SELECT max(ok) // 4 AS lim FROM o),
        | m AS (SELECT ck, ok, price, ((ok % 101) + 101) % 101 AS r, lim
        |   FROM o, mx),
        | surv AS (
        |   SELECT ck, ok,
        |     CASE WHEN r = 1 AND ok <= lim AND price < 20000000
        |          THEN price + 100 ELSE price END AS price
        |   FROM m WHERE NOT (r = 0 AND ok <= lim AND price < 20000000)
        |   UNION ALL
        |   SELECT ck, -ok AS ok, price * 2 AS price
        |   FROM m WHERE r = 2 AND ok <= lim)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(sum(ok) AS BIGINT) AS sum_ok,
        |  CAST(1 AS BIGINT) AS cow_pruned,
        |  CAST(1 AS BIGINT) AS head_version
        |FROM surv""".stripMargin,

    // q92: the three-statement SQL DML recipe replayed from raw
    // orders — MERGE (drop r=0, price+100 on r=1, insert -k at
    // 2×price for r=2), UPDATE (+7 on r=3), DELETE (r=4); inserted
    // negative keys never collide with the positive residue
    // predicates in either engine (both use sign-of-dividend %).
    // n_rewritten=0 is the MERGE no-rewrite physical claim (sparse
    // hits ride DVs); head_version=3 pins one commit per statement.
    "q92_sql_merge" ->
      """WITH o0 AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | o AS (SELECT k, max(price) AS price FROM o0 GROUP BY k),
        | m AS (SELECT k, price, k % 97 AS r FROM o),
        | survivors AS (
        |   SELECT k, CASE WHEN r = 1 THEN price + 100
        |                  WHEN r = 3 THEN price + 7
        |                  ELSE price END AS price
        |   FROM m WHERE r NOT IN (0, 4)
        |   UNION ALL
        |   SELECT -k AS k, price * 2 AS price FROM m WHERE r = 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(0 AS BIGINT) AS n_rewritten,
        |  CAST(3 AS BIGINT) AS head_version
        |FROM survivors""".stripMargin,

    // q91: the replica's post-reset head and pre-reset prefix
    // replayed from raw orders; the structural constants are the
    // replication contracts (a double-applied version flips the
    // no-op or a count, a timestamp drift flips v_at_2500, a copying
    // sync flips all_foreign).
    "q91_shallow_sync" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | seg AS (SELECT k, cents, (k % 3 + 3) % 3 AS m FROM o)
        |SELECT
        |  CAST((SELECT count(*) FROM seg WHERE m = 0) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(DISTINCT k) FROM seg WHERE m = 0) AS BIGINT)
        |    AS n_keys,
        |  CAST((SELECT sum(cents) FROM seg WHERE m = 0) AS BIGINT)
        |    AS sum_cents,
        |  CAST((SELECT count(*) FROM seg WHERE m IN (0, 1)) AS BIGINT) AS n_v1,
        |  CAST(1 AS BIGINT) AS resync_noop,
        |  CAST(3 AS BIGINT) AS n_after_first,
        |  CAST(4 AS BIGINT) AS n_after_second,
        |  CAST(1 AS BIGINT) AS v_at_2500,
        |  CAST(1 AS BIGINT) AS all_foreign""".stripMargin,

    // q78: the diverged clone and source replayed from raw orders —
    // clone head = everything ∪ its shifted append, source gains its
    // own shifted append; all_foreign/n_local_v0/n_vac_deleted are
    // the zero-copy and vacuum-safety contracts (a copying clone, a
    // local data file at v0, or a vacuum that touched shared or
    // foreign bytes flips them).
    "q78_shallow_clone" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | d AS (SELECT k, price FROM o
        |   UNION ALL
        |   SELECT k + 1000000000, price + 17 FROM o WHERE (k % 7 + 7) % 7 = 0)
        |SELECT
        |  CAST((SELECT count(*) FROM d) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(DISTINCT k) FROM d) AS BIGINT) AS n_keys,
        |  CAST((SELECT sum(price) FROM d) AS BIGINT) AS sum_price,
        |  CAST((SELECT count(*) FROM o) +
        |       (SELECT count(*) FROM o WHERE (k % 11 + 11) % 11 = 0) AS BIGINT)
        |    AS n_src_rows,
        |  CAST(1 AS BIGINT) AS all_foreign,
        |  CAST(0 AS BIGINT) AS n_local_v0,
        |  CAST(0 AS BIGINT) AS n_vac_deleted""".stripMargin,

    // q72: the probe outcomes from raw orders — the unique max-key
    // hit's row, and a structurally-guaranteed zero for the miss.
    "q72_bloom_skip" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | mx AS (SELECT max(k) AS mk FROM o)
        |SELECT CAST(count(*) AS BIGINT) AS n_hit,
        |  CAST(sum(cents) AS BIGINT) AS hit_cents,
        |  CAST(0 AS BIGINT) AS n_miss
        |FROM o, mx WHERE o.k = mx.mk""".stripMargin,

    // q70: both versions must produce the SAME filtered aggregate —
    // the q68 recompute, emitted twice under the step labels.
    "q70_recluster" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | b AS (SELECT k, cents,
        |    least(cents // 100000, 255) AS xb,
        |    ((k % 256) + 256) % 256 AS yb FROM o),
        | f AS (SELECT * FROM b
        |   WHERE xb BETWEEN 40 AND 90 AND yb BETWEEN 64 AND 191),
        | a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents FROM f)
        |SELECT 'v0_scattered' AS step, n_rows, n_keys, sum_cents FROM a
        |UNION ALL
        |SELECT 'v1_zordered', n_rows, n_keys, sum_cents FROM a
        |ORDER BY step""".stripMargin,

    // q69: the declared rule replayed from orders; rejected and
    // n_versions are the validator's contract (a dirty commit would
    // make n_versions 2 and flip rejected to 0).
    "q69_constraints" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL)
        |SELECT CAST(1 AS BIGINT) AS rejected,
        |  CAST(1 AS BIGINT) AS n_versions,
        |  CAST(sum(CASE WHEN cents > 0 AND cents <= 20000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clean,
        |  CAST(sum(CASE WHEN cents > 0 AND cents <= 20000000 THEN cents END)
        |    AS BIGINT) AS sum_clean,
        |  CAST(sum(CASE WHEN cents > 0 AND cents <= 20000000 THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_quarantined
        |FROM o""".stripMargin,

    // q68: the 2-D range aggregate recomputed from raw orders — the
    // Spark side produced it through the z-layout store with
    // conjunctive zone pruning; a wrongly-dropped file is a value
    // diff here (the file-count claims live in TableLogSpec).
    "q68_zorder_log" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | b AS (SELECT k, cents,
        |    least(cents // 100000, 255) AS xb,
        |    ((k % 256) + 256) % 256 AS yb FROM o)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM b WHERE xb BETWEEN 40 AND 90 AND yb BETWEEN 64 AND 191""".stripMargin,

    // q67: the two store snapshots recomputed from raw orders —
    // compaction is content-preserving by contract (the q65 lesson),
    // so v2 == a∪b and v3 == everything; the Spark side produced
    // them through delta replay and the vacuum-materialized
    // checkpoint respectively.
    "q67_delta_log" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | ab AS (SELECT * FROM o WHERE (k % 3 + 3) % 3 IN (0, 1))
        |SELECT 'asof_checkpoint' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
        |FROM ab
        |UNION ALL
        |SELECT 'head_replay', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT k) AS BIGINT), CAST(sum(price) AS BIGINT),
        |  CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT)
        |FROM o
        |ORDER BY step""".stripMargin,

    // q66: the CSV corruption rule replayed from orders — never
    // parsing CSV: keys ≡ 0 (mod 7) quarantine with their k still
    // counted (the partial-recovery semantics) and cents NULLed.
    "q66_csv_quarantine" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents,
        |    'p' || regexp_replace(coalesce(CAST(o_orderpriority AS VARCHAR), ''),
        |                          '[^a-zA-Z0-9-]', '', 'g') AS prio
        |  FROM orders),
        | b AS (SELECT CASE WHEN (k % 7 + 7) % 7 = 0
        |      THEN '__quarantine__' ELSE prio END AS bucket,
        |    CASE WHEN (k % 7 + 7) % 7 = 0 THEN NULL ELSE cents END AS cents,
        |    CASE WHEN (k % 7 + 7) % 7 = 0 THEN 1 ELSE 0 END AS bad,
        |    k
        |  FROM o)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bad) AS BIGINT) AS n_bad,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // q63: q51's text with the changelog prefix-bounded at ver <= 2 —
    // the AS OF version read replayed over the same instance.
    "q63_time_travel" -> cdcMergeSql(verBound = Some(2)),

    // q65: the four store snapshots recomputed from raw orders — A,
    // A∪B, A∪B (compaction is content-preserving BY CONTRACT; the
    // oracle asserting it equal to the append state is exactly the
    // certification), and the q51-style latest-wins merge. The Spark
    // side produced these by real IO through the manifest store.
    "q65_table_log" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS price
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        | a AS (SELECT * FROM o WHERE (k % 3 + 3) % 3 = 0),
        | ab AS (SELECT * FROM o WHERE (k % 3 + 3) % 3 IN (0, 1)),
        | ch AS (
        |   SELECT k, 1 AS ver,
        |     CASE WHEN (k % 10 + 10) % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |     price + 100 AS new_price
        |   FROM o WHERE (k % 3 + 3) % 3 = 0 AND (k % 10 + 10) % 10 IN (0, 5)
        |   UNION ALL
        |   SELECT k, 1 AS ver, 'U' AS op, price + 7 AS new_price
        |   FROM o WHERE (k % 3 + 3) % 3 = 2 AND (k % 2 + 2) % 2 = 0),
        | latest AS (SELECT k, op, new_price FROM
        |   (SELECT k, op, new_price, row_number() OVER (PARTITION BY k
        |      ORDER BY ver DESC, op DESC NULLS LAST, new_price DESC NULLS LAST)
        |      AS rn FROM ch)
        |   WHERE rn = 1),
        | merged AS (SELECT coalesce(bb.k, l.k) AS k,
        |     coalesce(l.new_price, bb.price) AS price
        |   FROM ab bb FULL JOIN latest l ON bb.k = l.k
        |   WHERE coalesce(l.op, '') <> 'D'),
        | snap AS (
        |   SELECT 'initial' AS step, k, price FROM a
        |   UNION ALL SELECT 'append', k, price FROM ab
        |   UNION ALL SELECT 'compact', k, price FROM ab
        |   UNION ALL SELECT 'merge', k, price FROM merged)
        |SELECT step, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
        |  CAST(sum(price) AS BIGINT) AS sum_price,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM snap GROUP BY step ORDER BY step""".stripMargin,

    "q47_dq_audit" ->
      """WITH a AS (SELECT
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS c_null_key,
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS c_qty_range,
        |    sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS c_disc_range,
        |    sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS c_neg_price,
        |    count(*) FILTER (WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
        |      - count(DISTINCT (l_orderkey, l_linenumber))
        |        FILTER (WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
        |      AS c_dup_key
        |  FROM lineitem),
        | o AS (SELECT count(*) AS c_orphans FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey)),
        | u AS (SELECT 'discount_in_0_01' AS check_name, c_disc_range AS violations FROM a
        |   UNION ALL SELECT 'not_null_orderkey', c_null_key FROM a
        |   UNION ALL SELECT 'orderkey_in_orders', c_orphans FROM o
        |   UNION ALL SELECT 'price_non_negative', c_neg_price FROM a
        |   UNION ALL SELECT 'quantity_in_1_50', c_qty_range FROM a
        |   UNION ALL SELECT 'unique_order_line', c_dup_key FROM a)
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |  violations = 0 AS pass
        |FROM u ORDER BY check_name""".stripMargin,

    "q46_range_window" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |      AS epoch_day,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, epoch_day,
        |  CAST(sum(cents) OVER w AS DOUBLE) / 100.0 AS trail30_spend,
        |  CAST(count(*) OVER w AS BIGINT) AS trail30_n
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_day
        |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q45_scd2" ->
      """WITH o AS (SELECT o_custkey, o_orderpriority AS prio,
        |    epoch_us(o_orderdate) AS ts_us, o_orderkey FROM orders),
        | c AS (SELECT *, lag(prio) OVER (PARTITION BY o_custkey
        |    ORDER BY ts_us, o_orderkey) AS prev FROM o),
        | ch AS (SELECT o_custkey, prio, ts_us, o_orderkey FROM c
        |   WHERE prev IS NULL OR prev <> prio),
        | v AS (SELECT o_custkey, prio, ts_us AS valid_from_us,
        |    lead(ts_us) OVER (PARTITION BY o_custkey
        |      ORDER BY ts_us, o_orderkey) AS valid_to_us,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY ts_us, o_orderkey) AS BIGINT) AS version
        |  FROM ch)
        |SELECT o_custkey, prio, valid_from_us, valid_to_us, version,
        |  valid_to_us IS NULL AS is_current
        |FROM v ORDER BY o_custkey, version""".stripMargin,

    // q60: q45's version chain + the half-open-range fact join.
    "q60_scd2_lookup" ->
      """WITH o AS (SELECT o_custkey, o_orderpriority AS prio,
        |    epoch_us(o_orderdate) AS ts_us, o_orderkey FROM orders),
        | c AS (SELECT *, lag(prio) OVER (PARTITION BY o_custkey
        |    ORDER BY ts_us, o_orderkey) AS prev FROM o),
        | ch AS (SELECT o_custkey, prio, ts_us, o_orderkey FROM c
        |   WHERE prev IS NULL OR prev <> prio),
        | v AS (SELECT o_custkey, prio, ts_us AS valid_from_us,
        |    lead(ts_us) OVER (PARTITION BY o_custkey
        |      ORDER BY ts_us, o_orderkey) AS valid_to_us,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY ts_us, o_orderkey) AS BIGINT) AS version
        |  FROM ch)
        |SELECT f.o_orderkey, f.o_custkey, v.version, v.prio AS prio_then
        |FROM o f JOIN v ON f.o_custkey = v.o_custkey
        |  AND f.ts_us >= v.valid_from_us
        |  AND (v.valid_to_us IS NULL OR f.ts_us < v.valid_to_us)
        |ORDER BY f.o_orderkey, f.o_custkey, v.version""".stripMargin,

    "q44_date_spine" ->
      """WITH dr AS (SELECT min(CAST(o_orderdate AS DATE)) AS d0,
        |    max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
        | spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        |   FROM dr),
        | daily AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
        |    round(sum(o_totalprice), 2) AS rev FROM orders GROUP BY 1)
        |SELECT s.d, coalesce(n, CAST(0 AS BIGINT)) AS n_orders, rev,
        |  last_value(rev IGNORE NULLS) OVER (ORDER BY s.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_ffill
        |FROM spine s LEFT JOIN daily USING (d) ORDER BY d""".stripMargin,

    "q43_hof_battery" ->
      """WITH it AS (SELECT l_orderkey, l_linenumber,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pxc,
        |    CAST(round(l_discount * 100) AS BIGINT) AS dc
        |  FROM lineitem),
        | arr AS (SELECT l_orderkey,
        |    list(qty ORDER BY l_linenumber) AS qtys,
        |    list(pxc ORDER BY l_linenumber) AS pxcs,
        |    list(dc ORDER BY l_linenumber) AS dcs
        |  FROM it GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  CAST(len(qtys) AS BIGINT) AS n_items,
        |  CAST(len(list_filter(qtys, q -> q > 25)) AS BIGINT) AS n_big,
        |  CAST(list_sum(qtys) AS BIGINT) AS tot_qty,
        |  CAST((CAST(list_sum(list_transform(list_zip(pxcs, dcs),
        |    z -> z[1] * (100 - z[2]))) AS BIGINT) + 50) // 100 AS DOUBLE) / 100.0 AS revenue,
        |  CAST(list_sum(list_transform(list_zip(qtys, pxcs),
        |    z -> z[1] * z[2])) AS BIGINT) AS qty_px,
        |  len(list_filter(dcs, d -> d >= 8)) > 0 AS any_high_disc
        |FROM arr ORDER BY l_orderkey""".stripMargin,

    "q42_running_distinct" ->
      """SELECT o_custkey, o_orderkey,
        |  count(DISTINCT o_orderpriority) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_prio
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    // q55: e_i replayed as the identical-op-order fold of the first i
    // elements (list_reduce seeds with vs[1] = the e_1 = v_1 base
    // case; 0.25·b + 0.75·a mirrors the Spark lambda's add order).
    // Quadratic in series length here, linear engine-side — same
    // doubles either way because the recurrence is the same ops.
    "q55_ewma_monitor" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        | s AS (SELECT event_type,
        |    list(hr ORDER BY hr) AS hrs,
        |    list(CAST(n AS DOUBLE) ORDER BY hr) AS vs,
        |    list(n ORDER BY hr) AS ns
        |  FROM h GROUP BY event_type),
        | e AS (SELECT event_type, hrs, ns,
        |    list_transform(range(1, len(ns) + 1),
        |      i -> list_reduce(vs[1:i], (a, b) -> 0.25 * b + 0.75 * a)) AS es
        |  FROM s),
        | x AS (SELECT event_type, hrs, ns, es,
        |    unnest(range(1, len(ns) + 1)) AS i FROM e)
        |SELECT event_type, epoch_us(hrs[i]) AS hour_start_us,
        |  CAST(ns[i] AS BIGINT) AS n,
        |  floor(es[i] * 10000.0 + 0.5) / 10000.0 AS ewma,
        |  CASE WHEN i = 1 THEN 0
        |       WHEN abs(CAST(ns[i] AS DOUBLE) - es[i - 1]) > 0.5 * es[i - 1]
        |       THEN 1 ELSE 0 END AS spike
        |FROM x ORDER BY event_type, hour_start_us""".stripMargin,

    "q36_theta_overlap" ->
      """SELECT
        |  (SELECT count(DISTINCT o_custkey) FROM orders
        |    WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |  (SELECT count(DISTINCT o_custkey) FROM orders
        |    WHERE o_orderpriority = '5-LOW') AS n_low,
        |  (SELECT count(DISTINCT o_custkey) FROM orders
        |    WHERE o_orderpriority = '1-URGENT' AND o_custkey IN
        |      (SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'))
        |    AS n_both,
        |  (SELECT count(DISTINCT o_custkey) FROM orders
        |    WHERE o_orderpriority = '1-URGENT' AND o_custkey NOT IN
        |      (SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'))
        |    AS n_urgent_only""".stripMargin,

    "q41_retention" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
        |  FROM events GROUP BY user_id)
        |SELECT cohort,
        |  CAST(floor(date_diff('day', cohort, CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week,
        |  count(DISTINCT e.user_id) AS n_active
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY cohort, week ORDER BY cohort, week""".stripMargin,

    "q40_funnel" ->
      """WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
        |  FROM events GROUP BY user_id),
        | st AS (SELECT user_id,
        |    CASE WHEN t_view IS NULL THEN 0
        |         WHEN t_click IS NULL OR t_click <= t_view THEN 1
        |         WHEN t_buy IS NULL OR t_buy <= t_click THEN 2
        |         ELSE 3 END AS stage
        |  FROM f)
        |SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users
        |FROM st GROUP BY stage ORDER BY stage""".stripMargin,

    "q39_zscore_outliers" ->
      """WITH s AS (SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, value, round((value - m) / sd, 4) AS z
        |FROM events e JOIN s ON e.event_type = s.event_type
        |WHERE abs(value - m) > sd * 3.0
        |ORDER BY event_id""".stripMargin,

    "q38_variant_props" ->
      """SELECT event_type, count(*) AS n,
        | round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k,
        | max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q37_sketch_rollup" ->
      """SELECT o_orderpriority AS grp, count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT '_ALL' AS grp, count(DISTINCT o_custkey) AS n_cust FROM orders
        |ORDER BY grp""".stripMargin,

    "q34_zorder" ->
      """WITH src AS (SELECT l_orderkey, l_linenumber,
        |    l_partkey % 65536 AS x, l_suppkey % 65536 AS y
        |  FROM lineitem WHERE l_orderkey < 2000),
        | s1 AS (SELECT *, (x | (x << 16)) & 281470681808895 AS xa,
        |   (y | (y << 16)) & 281470681808895 AS ya FROM src),
        | s2 AS (SELECT *, (xa | (xa << 8)) & 71777214294589695 AS xb,
        |   (ya | (ya << 8)) & 71777214294589695 AS yb FROM s1),
        | s3 AS (SELECT *, (xb | (xb << 4)) & 1085102592571150095 AS xc,
        |   (yb | (yb << 4)) & 1085102592571150095 AS yc FROM s2),
        | s4 AS (SELECT *, (xc | (xc << 2)) & 3689348814741910323 AS xd,
        |   (yc | (yc << 2)) & 3689348814741910323 AS yd FROM s3),
        | s5 AS (SELECT *, (xd | (xd << 1)) & 6148914691236517205 AS xe,
        |   (yd | (yd << 1)) & 6148914691236517205 AS ye FROM s4)
        |SELECT l_orderkey, l_linenumber, x, y, (xe | (ye << 1)) AS z
        |FROM s5 ORDER BY z, l_orderkey, l_linenumber""".stripMargin
  )
}
