package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftx.{AdcModel, Codebook, GraftExpressions}

/** graft's public Column-level function API (re-export of the native
  * Catalyst expressions in org.apache.spark.sql.graftx — see the
  * package note there for why they live under the spark namespace).
  */
object GraftFunctions {

  /** Flow-cytometry arcsinh channel scaling: asinh(x / cofactor). */
  def asinh_scaled(x: Column, cofactor: Column): Column =
    GraftExpressions.asinh_scaled(x, cofactor)

  /** Logicle-style biexponential display transform with top-of-scale
    * `t`, decades `m`, linearization width `w`.
    */
  def logicle(x: Column, t: Column, m: Column, w: Column): Column =
    GraftExpressions.logicle(x, t, m, w)

  /** Fixed-point logicle on the 10⁻⁶ display grid: bit-for-bit
    * engine-replayable (integer bisection; see LogicleFixedMath).
    * Agrees with [[logicle]] within ~2e-6.
    */
  def logicle_q6(x: Column, t: Double, m: Double, w: Double): Column =
    GraftExpressions.logicle_q6(x, t, m, w)

  /** 64-bit polynomial rolling hash of a string (fingerprinting). */
  def rolling_hash(s: Column): Column = GraftExpressions.rolling_hash(s)

  /** Aho–Corasick one-pass multi-pattern scan: per-term greedy
    * leftmost non-overlapping occurrence counts (array in term
    * order). O(|text|) whatever the dictionary size.
    */
  def blocklist_counts(text: Column, terms: Seq[String]): Column =
    GraftExpressions.blocklist_counts(text, terms)

  def html_text(html: Column): Column = GraftExpressions.html_text(html)

  def nfkc_lower(s: Column): Column = GraftExpressions.nfkc_lower(s)

  /** Inner product of two float arrays (codegen'd ordered fold). */
  def dot_product(a: Column, b: Column): Column = GraftExpressions.dot_product(a, b)

  /** 64-bit SimHash fingerprint of a token array (near-dup detection). */
  def simhash64(tokens: Column): Column = GraftExpressions.simhash64(tokens)

  /** k-element MinHash signature of a token array (LSH near-dedup). */
  def minhash_signature(tokens: Column, numHashes: Int): Column =
    GraftExpressions.minhash_signature(tokens, numHashes)

  /** Fused word-n-gram xxhash64 set of a token array; with
    * dedupSort, equals sort_array(array_distinct(transform(
    * shingles(toks, n), xxhash64))) in one codegen pass.
    */
  def ngram_hashes(toks: Column, n: Int, dedupSort: Boolean = true): Column =
    GraftExpressions.ngram_hashes(toks, n, dedupSort)

  /** Ray-casting polygon gate membership for the (x, y) channel pair. */
  def point_in_polygon(x: Column, y: Column, xs: Array[Double], ys: Array[Double]): Column =
    GraftExpressions.point_in_polygon(x, y, xs, ys)

  /** Intersection size of two sorted long arrays (dedup verification). */
  def sorted_long_intersect_size(a: Column, b: Column): Column =
    GraftExpressions.sorted_long_intersect_size(a, b)

  /** Sign-random-projection LSH code for an embedding column. */
  def srp_code(emb: Column, planes: Array[Array[Double]]): Column =
    GraftExpressions.srp_code(emb, planes)

  /** Cosine similarity of two Array[Float] embedding columns. */
  def cosine_sim(a: Column, b: Column): Column = GraftExpressions.cosine_sim(a, b)

  /** The `n` centroids of a driver-held quantizer nearest to `v` by
    * cosine (ties to the lower id; a NULL cosine ranks last), best
    * first, as array<struct<cell, cos, centroid>>: a Voronoi
    * assignment, a PQ code or a probe list in one narrow map.
    */
  def nearest_centroid(v: Column, codebook: Codebook, n: Int = 1): Column =
    GraftExpressions.nearest_centroid(v, codebook, n)

  /** ADC cosine of query vector `q` to the vector encoded by `keys`
    * (c_0..c_{m-1}, preceded by the coarse cell for residual codes)
    * under frozen codebooks held as plan constants.
    */
  def adc_score(q: Column, keys: Seq[Column], model: AdcModel): Column =
    GraftExpressions.adc_score(q, keys, model)

  /** One Lloyd update for several quantizers in one global aggregate:
    * BINARY per-(quantizer, cluster) quantized sums, decoded by
    * `LloydStepAgg.centroids`.
    */
  def lloyd_step(vs: Seq[Column], codebooks: Seq[Codebook], quantScale: Double): Column =
    GraftExpressions.lloyd_step(vs, codebooks, quantScale)

  /** Portable 64-bit scalar hash (murmur3 fmix64 finalizer) — the
    * oracle-replicable alternative to xxhash64 for hash splits.
    */
  def fmix64(v: Column): Column = GraftExpressions.fmix64(v)

  /** Bloom-filter build aggregate over a join key (BINARY result). */
  def bloom_filter_agg(key: Column, expectedItems: Long, numBits: Long): Column =
    GraftExpressions.bloom_filter_agg(key, expectedItems, numBits)

  /** Membership probe against a bloom_filter_agg result. */
  def might_contain(bloom: Column, key: Column): Column =
    GraftExpressions.might_contain(bloom, key)

  /** Morton (z-order) interleave of two longs' low 32 bits — the 2-D
    * write-clustering key.
    */
  def zorder2(x: Column, y: Column): Column = GraftExpressions.zorder2(x, y)

  /** Hilbert-curve index on the 2^bits grid — the better-locality
    * 2-D clustering key (consecutive indexes are always grid-adjacent
    * where Morton teleports at power-of-two boundaries).
    */
  def hilbert2(x: Column, y: Column, bits: Int = 16): Column =
    GraftExpressions.hilbert2(x, y, bits)

  /** KLL sketch quantiles aggregate: mergeable approximate quantiles,
    * a few KB per group at any n (the 100 TB alternative to exact
    * `percentile`). ~1.65% rank error at k=200.
    */
  def kll_quantiles(x: Column, k: Int = 200,
                    probs: Seq[Double] = Seq(0.25, 0.5, 0.75)): Column =
    GraftExpressions.kll_quantiles(x, k, probs)

  /** Theta sketch distinct aggregate over a long key: mergeable
    * distinct counting WITH set algebra (exact below 2^lgK distinct).
    */
  def theta_sketch(key: Column, lgK: Int = 14): Column =
    GraftExpressions.theta_sketch(key, lgK)

  /** CPC distinct-count sketch over a long key: ~40% better
    * accuracy-per-stored-byte than HLL at the same nominal size, NO
    * set algebra (use theta_sketch for intersections). The archival-
    * counting sketch: per-source/per-batch cardinality profiles
    * persisted for every crawl batch, where bytes-at-rest dominate.
    */
  def cpc_sketch(key: Column, lgK: Int = 11): Column =
    GraftExpressions.cpc_sketch(key, lgK)

  /** Distinct-count estimate of a serialized CPC sketch. */
  def cpc_estimate(sketch: Column): Column = GraftExpressions.cpc_estimate(sketch)

  /** Bounded top-k aggregate: the k smallest (ord, id) pairs per
    * group in a map-side-combined heap — the scale-safe replacement
    * for `row_number() <= k` ranked windows. Multiset semantics;
    * output array ascending, so 1-based position = rank.
    */
  def top_k_pairs(ord: Column, id: Column, k: Int): Column =
    GraftExpressions.top_k_pairs(ord, id, k)

  /** Distinct estimate of a theta sketch. */
  def theta_estimate(sketch: Column): Column = GraftExpressions.theta_estimate(sketch)

  /** Union aggregate over stored theta sketches — roll distinct
    * counts up along any dimension without rescanning the facts.
    */
  def theta_union_agg(sketch: Column, lgK: Int = 14): Column =
    GraftExpressions.theta_union_agg(sketch, lgK)

  /** Distinct estimate of the intersection of two theta sketches —
    * the overlap question HLL cannot answer.
    */
  def theta_intersect_estimate(a: Column, b: Column): Column =
    GraftExpressions.theta_intersect_estimate(a, b)

  /** Distinct estimate of A \ B over two theta sketches. */
  def theta_a_not_b_estimate(a: Column, b: Column): Column =
    GraftExpressions.theta_a_not_b_estimate(a, b)

  /** One-pass count/sum/Gram accumulator over a float-vector column
    * (the sufficient statistics for mean, covariance, PCA).
    */
  def vec_stats(v: Column, d: Int): Column = GraftExpressions.vec_stats(v, d)

  /** Frequent-items (heavy hitters) sketch aggregate: top-k items by
    * estimated count as array<struct<item,est>>; exact while distinct
    * items stay under ~0.75·maxMapSize (no counter eviction).
    */
  def freq_items(v: Column, maxMapSize: Int = 1 << 12, k: Int = 20): Column =
    GraftExpressions.freq_items(v, maxMapSize, k)

  /** MOSS winnowing fingerprint set of a token array: sorted distinct
    * window-minima of positional portable n-gram hashes. Shared runs
    * of ≥ n+w-1 tokens are guaranteed a common fingerprint.
    */
  def winnow_fingerprints(toks: Column, n: Int = 3, w: Int = 4): Column =
    GraftExpressions.winnow_fingerprints(toks, n, w)

  /** Codegen'd projection onto k constant planes with per-plane
    * offsets: out[j] = dot(v, planes[j]) − offsets[j].
    */
  def project_planes(v: Column, planes: Array[Array[Double]],
                     offsets: Array[Double]): Column =
    GraftExpressions.project_planes(v, planes, offsets)

  /** Portable combine-hash of long values (LSH band bucket keys):
    * h = fmix64(h XOR v) folded from the FNV offset seed.
    */
  def mix_hash(vs: Column*): Column = GraftExpressions.mix_hash(vs)
}
