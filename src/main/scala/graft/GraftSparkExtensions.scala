package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftx._
import org.apache.spark.sql.types.{BooleanType, IntegerType}

/** Spark-native deployment entry point: register graft's expressions
  * in every session via
  * `--conf spark.sql.extensions=graft.GraftSparkExtensions`
  * (no code changes in the host application). `Graft.session` /
  * `Graft.registerFunctions` do the same for programmatic use.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSparkExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => PolygonGateBBoxRule)
    ext.injectOptimizerRule(_ => V1ScanStatsJoinRule)
    // user-provided batch (post-pushdown — the V1ScanWrapper only
    // exists after V2ScanRelationPushDown, which runs AFTER the
    // Pre-CBO batch): plan-level stats are computed lazily on the
    // FINAL optimized plan, so physical planning (JoinSelection
    // build-side/broadcast choice) and every downstream stats
    // consumer see the forwarded row/byte/NDV numbers
    ext.injectOptimizerRule(_ => V1ScanStatsForwardRule)
    // SQL DML (MERGE INTO / UPDATE / DELETE) over graftlog relations:
    // lowered at the end of analysis onto TableLog's one merge-on-read
    // write path. Analyzer rules cannot be added to a built session,
    // so Graft.session sets spark.sql.extensions to this class.
    ext.injectPostHocResolutionRule(_ => GraftDmlRule)
    // table-NAME streaming: `readStream.table("graft.db.t")` (plain
    // or readChangeFeed=true) resolves onto the graftlog DSv1 source
    // with the reader options passed through
    ext.injectResolutionRule(GraftStreamTableRule.apply)
    // (reader-OPTION time travel — `spark.read.option("versionAsOf",
    // k).table("graft.db.t")` — needs NO rule: Spark 4 parses the
    // options into a TimeTravelSpec that resolves through the
    // catalog's loadTable(ident, version/timestamp) overloads;
    // GraftCatalogSpec pins it)
    // Delta's table_changes(table, from[, to]) CDF TVF by name/path
    ext.injectTableFunction((TableChangesFunction.identifier,
      TableChangesFunction.info, TableChangesFunction.build))
  }
}

/** graft's one SQL function table: the extension injects it into
  * every session and `Graft.registerFunctions` registers it into an
  * existing one. Column-API-only expressions (those taking a
  * driver-held model, e.g. `nearest_centroid`) are not in it.
  */
object GraftSparkExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("asinh_scaled", info("asinh_scaled", "asinh_scaled(x, cofactor) - arcsinh channel scaling"),
      es => AsinhScaled(es.head, es(1))),
    ("logicle", info("logicle", "logicle(x, t, m, w) - biexponential display transform"),
      es => Logicle(es.head, es(1), es(2), es(3))),
    ("rolling_hash", info("rolling_hash", "rolling_hash(s) - 64-bit polynomial hash"),
      es => RollingHash(es.head)),
    ("simhash64", info("simhash64", "simhash64(tokens) - 64-bit SimHash fingerprint"),
      es => SimHash64(es.head)),
    ("cosine_sim", info("cosine_sim", "cosine_sim(a, b) - cosine similarity of float arrays"),
      es => CosineSim(es.head, es(1))),
    ("sorted_long_intersect_size", info("sorted_long_intersect_size",
      "sorted_long_intersect_size(a, b) - intersection size of sorted long arrays"),
      es => SortedLongIntersectSize(es.head, es(1))),
    ("fmix64", info("fmix64", "fmix64(v) - murmur3 64-bit finalizer (portable hash)"),
      es => Fmix64(es.head)),
    ("mix_hash", info("mix_hash", "mix_hash(v1, v2, ...) - fmix64 fold of longs"),
      es => MixHashLongs(es)),
    ("zorder2", info("zorder2", "zorder2(x, y) - Morton bit-interleave clustering key"),
      es => Zorder2(es.head, es(1))),
    ("hilbert2", info("hilbert2", "hilbert2(x, y, bits) - Hilbert-curve index on the 2^bits grid"),
      es => Hilbert2(es.head, es(1), es(2).eval().asInstanceOf[Int])),
    ("theta_estimate", info("theta_estimate",
      "theta_estimate(sketch) - distinct estimate of a theta sketch"),
      es => ThetaEstimate(es.head)),
    ("theta_intersect_estimate", info("theta_intersect_estimate",
      "theta_intersect_estimate(a, b) - distinct estimate of sketch intersection"),
      es => ThetaIntersectEstimate(es.head, es(1))),
    ("theta_a_not_b_estimate", info("theta_a_not_b_estimate",
      "theta_a_not_b_estimate(a, b) - distinct estimate of sketch difference"),
      es => ThetaANotBEstimate(es.head, es(1))),
    ("theta_sketch", info("theta_sketch",
      "theta_sketch(key[, lgK]) - mergeable distinct sketch with set algebra"), {
      case Seq(key) => ThetaSketchAgg(key, 14)
      case Seq(key, Literal(lgK: Int, IntegerType)) => ThetaSketchAgg(key, lgK)
      case es => throw new IllegalArgumentException(
        s"theta_sketch(key[, lgK]) with literal lgK; got ${es.length} args")
    }),
    ("kll_quantiles", info("kll_quantiles",
      "kll_quantiles(x, k, array(p1, p2, ...)) - KLL sketch quantiles"), {
      case Seq(x, Literal(k: Int, IntegerType), arr) if arr.foldable =>
        KllQuantiles(x, k, arr.eval().asInstanceOf[ArrayData].toDoubleArray().toList)
      case es => throw new IllegalArgumentException(
        s"kll_quantiles(x, k, array(probs...)) with literal k/probs; got ${es.length} args")
    }),
    ("blocklist_counts", info("blocklist_counts",
      "blocklist_counts(text, array(term1, ...)) - Aho-Corasick per-term " +
        "greedy non-overlapping occurrence counts in one pass"), {
      case Seq(text, arr) if arr.foldable =>
        val evaled = arr.eval()
        if (evaled == null) throw new IllegalArgumentException(
          "blocklist_counts(text, array(terms...)): terms array must not be NULL")
        val elems = evaled.asInstanceOf[ArrayData]
          .toObjectArray(org.apache.spark.sql.types.StringType)
        if (elems.exists(_ == null)) throw new IllegalArgumentException(
          "blocklist_counts(text, array(terms...)): terms must not contain NULL")
        BlocklistCounts(text, elems.map(_.toString).toSeq)
      case es => throw new IllegalArgumentException(
        s"blocklist_counts(text, array(terms...)) with literal terms; got ${es.length} args")
    }),
    ("nfkc_lower", info("nfkc_lower",
      "nfkc_lower(s) - NFKC compatibility normalization + locale-independent lowercase"),
      es => NfkcLower(es.head)),
    ("html_text", info("html_text",
      "html_text(html) - visible-text extraction (WET step): tag strip, " +
        "script/style/comment drop, block-element line breaks, entity decode"),
      es => HtmlVisibleText(es.head)),
    ("freq_items", info("freq_items",
      "freq_items(x, maxMapSize, k) - frequent-items (heavy hitters) sketch top-k"), {
      case Seq(v, Literal(m: Int, IntegerType), Literal(k: Int, IntegerType)) =>
        FreqItemsAgg(v, m, k)
      case es => throw new IllegalArgumentException(
        s"freq_items(x, maxMapSize, k) with literal sizes; got ${es.length} args")
    }),
    ("winnow_fingerprints", info("winnow_fingerprints",
      "winnow_fingerprints(toks, n, w) - MOSS winnowing fingerprint set"), {
      case Seq(toks, Literal(n: Int, IntegerType), Literal(w: Int, IntegerType)) =>
        WinnowFingerprints(toks, n, w)
      case es => throw new IllegalArgumentException(
        s"winnow_fingerprints(toks, n, w) with literal n/w; got ${es.length} args")
    }),
    ("ngram_hashes", info("ngram_hashes",
      "ngram_hashes(toks, n[, dedup_sort]) - fused word-n-gram xxhash64 set"), {
      case Seq(toks, Literal(n: Int, IntegerType)) =>
        NgramHashes(toks, n, dedupSort = true)
      case Seq(toks, Literal(n: Int, IntegerType), Literal(d: Boolean, BooleanType)) =>
        NgramHashes(toks, n, d)
      case es => throw new IllegalArgumentException(
        s"ngram_hashes(toks, n[, dedup_sort]) with literal n; got ${es.length} args")
    }))
}
