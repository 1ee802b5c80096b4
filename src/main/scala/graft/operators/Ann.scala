package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.{AdcModel, Codebook, LloydStepAgg}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StructField, StructType}
import graft.functions.GraftFunctions

import scala.util.Random

/** Similarity search over embedding columns (SURVEY.md §2.3 L5–L7).
  *
  * Scale design (100 TB): the query set is small and broadcast — the
  * corpus side never shuffles for scoring; per-query top-k runs as a
  * bounded window (or TakeOrdered) on the scored stream. The LSH
  * variant prunes the corpus to bucket-matched candidates via an
  * equi-join on (band, key) — a linear shuffle — before exact
  * scoring, which is how you keep brute-force cost off the full
  * corpus at scale (IVF-style: probe only matching cells).
  */
object Ann {

  /** L46 — deterministic Johnson–Lindenstrauss sign-projection planes:
    * entries ±1/√k with the sign taken from the LSB of
    * `Fmix64.fmix(j·d + i + 1)` — a data-independent random projection
    * (Achlioptas, JCSS'03: ±1 entries preserve pairwise distances in
    * expectation like Gaussian ones) that any engine can regenerate
    * from (d, k) alone. Used as the cheap pre-reduce in front of
    * brute-force / IVF ANN: 64-d floats → k-d doubles is a pure
    * narrow map, and distances in the projected space approximate
    * originals within the JL distortion bound.
    */
  def jlPlanes(d: Int, k: Int): Array[Array[Double]] = {
    require(d >= 1 && k >= 1)
    val inv = 1.0 / math.sqrt(k.toDouble)
    Array.tabulate(k, d) { (j, i) =>
      val s = org.apache.spark.sql.graftx.Fmix64.fmix(j.toLong * d + i + 1)
      if ((s & 1L) == 0L) inv else -inv
    }
  }

  /** JL projection of a float-vector column onto [[jlPlanes]] — one
    * codegen'd constant-plane dot product per row (ProjectPlanes, the
    * same kernel PCA projection uses), zero shuffle. Output columns
    * `p1..pk` are bit-identical across engines: float→double casts
    * are exact and the dot accumulates in fixed index order.
    */
  def jlProject(vecs: DataFrame, idCol: String, embCol: String,
                d: Int, k: Int): DataFrame = {
    val proj = GraftFunctions.project_planes(col(embCol), jlPlanes(d, k),
      Array.fill(k)(0.0))
    vecs.select(col(idCol), proj.as("p"))
      .select(col(idCol) +:
        (0 until k).map(j => element_at(col("p"), j + 1).as(s"p${j + 1}")): _*)
  }

  /** L5 — blocked embedding similarity pairs: only vectors sharing a
    * block (here: a label / IVF cell) are compared — the
    * embedding-space analogue of the text blocking in Dedup.
    *
    * `cap`: hot-block guard. A degenerate block of B vectors yields
    * B² comparisons; at 100 TB one skewed label can dominate the whole
    * job. With `cap = Some(c)`, blocks larger than c are dropped
    * before pairing (mirroring minhashLshPairs' bucket guard). The
    * default None keeps the operator exact — equal to the all-pairs
    * oracle — which is the contract d05 verifies; flip the cap on for
    * skewed corpora and route oversized blocks to an LSH pass instead.
    */
  def cosinePairs(vecs: DataFrame, idCol: String, embCol: String, blockCol: String,
                  threshold: Double, cap: Option[Int] = None): DataFrame = {
    val base = vecs.select(col(blockCol).as("block"), col(idCol).as("id"), col(embCol).as("emb"))
    val pruned = cap match {
      case Some(c) =>
        // block histogram is one row per block — tiny, broadcast it.
        val ok = base.groupBy("block").agg(count(lit(1)).as("block_n"))
          .filter(col("block_n") <= c)
          .select("block")
        base.join(broadcast(ok), Seq("block"))
      case None => base
    }
    val a = pruned.select(col("block"), col("id").as("id_a"), col("emb").as("emb_a"))
    val b = pruned.select(col("block"), col("id").as("id_b"), col("emb").as("emb_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", GraftFunctions.cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= threshold)
      .select(col("block"), col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** L15 — per-label embedding centroids as posexplode → ONE keyed
    * aggregate on (label, dim). Narrow expansion then a single
    * map-side-combinable shuffle of (label, dim) keys: a hot label
    * spreads across dims and partitions instead of collecting every
    * vector of the label into one executor row.
    *
    * `quantScale = Some(s)` sums floor(v·s + ½) as BIGINT — exact
    * integer arithmetic, so the distributed sum is order-independent
    * (bit-reproducible on any partitioning, and replayable exactly by
    * an external oracle) at 1/s precision. None averages raw doubles:
    * fastest, but reproducible only up to fp addition order.
    */
  def labelCentroids(vecs: DataFrame, embCol: String, labelCol: String,
                     quantScale: Option[Double] = Some(1e6)): DataFrame = {
    val exploded = vecs
      .select(col(labelCol).as("label"), posexplode(col(embCol)))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        col("col").cast("double").as("v"))
    quantScale match {
      case Some(sc) =>
        exploded
          .withColumn("qv", floor(col("v") * lit(sc) + lit(0.5)).cast("long"))
          .groupBy("label", "dim")
          .agg(sum(col("qv")).as("sq"), count(lit(1)).as("n"))
          .select(col("label"), col("dim"),
            // exact integer micro-units: floor(sq/n) in long arithmetic
            // — a rounded double here can straddle a .5 boundary whose
            // half-up/half-even handling differs across engines
            expr("(sq - pmod(sq, n)) div n").as("centroid_micro"),
            round((col("sq").cast("double") / lit(sc)) / col("n").cast("double"), 6)
              .as("centroid"))
      case None =>
        exploded.groupBy("label", "dim")
          .agg(round(avg(col("v")), 6).as("centroid"))
          .select("label", "dim", "centroid")
    }
  }

  /** L6 — brute-force cosine top-k: broadcast the (small) query set
    * against the corpus, score every pair, per-query top-k via
    * row_number over a per-query window. The corpus scan is one pass;
    * nothing shuffles but (qid, score, id) triples.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, embCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("cemb"))
    rankByCos(c.crossJoin(broadcast(q)), k)
  }

  /** L7b — true IVF (inverted-file) ANN: k-means cells over the
    * corpus, each vector indexed by its cell; a query probes only its
    * `nProbe` nearest cells and scores candidates exactly. The
    * centroid table is tiny (nCells rows) and broadcast both ways, so
    * at scale the only data-sized operations are the one-pass cell
    * assignment and the per-cell equi-join — the classic IVF cost
    * model (scan ≈ corpus × nProbe / nCells).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, embCol: String, k: Int,
              nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.vector_to_array
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("cemb"))
      .withColumn("features", org.apache.spark.ml.functions.array_to_vector(col("cemb")))
    // A coarse quantizer does not need a converged clustering — cell
    // QUALITY only moves recall a little (nProbe absorbs boundary
    // error), while every extra Lloyd iteration is a full corpus
    // pass. 8 iterations is the IVF-build convention (FAISS trains
    // coarse quantizers with ~10); recall stays pinned by the spec.
    val model = new KMeans().setK(nCells).setSeed(seed).setFeaturesCol("features")
      .setMaxIter(8)
      .fit(c)
    val cells = model.transform(c).select(col("vec_id"), col("cemb"), col("prediction").as("cell"))
    // centroid table: (cell, centroid as float array) — nCells rows.
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toArray.map(_.toFloat)) }
      .toDF("cell", "centroid")
    // each query ranks centroids by cosine and probes the top nProbe.
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cdist").desc, col("cell"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", GraftFunctions.cosine_sim(col("qemb"), col("centroid")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select("qid", "qemb", "cell")
    rankByCos(cells.join(broadcast(probes), Seq("cell")), k)
  }

  /** Each query's `nProbe` nearest cells of a driver-held coarse
    * quantizer, as (qid, qemb, cell) rows: a narrow top-nProbe over the
    * queries (ORDER BY cdist DESC NULLS LAST, cell — the
    * [[Codebook]] ranking contract), no window and no centroid join.
    */
  private def probesOf(q: DataFrame, coarse: Codebook, nProbe: Int): DataFrame =
    q.select(col("qid"), col("qemb"),
        explode(GraftFunctions.nearest_centroid(col("qemb"), coarse, nProbe)).as("p"))
      .select(col("qid"), col("qemb"), col("p.cell").as("cell"))

  /** The nearest centroid of `v` as struct<cell, cos, centroid>. */
  private def nearestOf(v: Column, cb: Codebook): Column =
    GraftFunctions.nearest_centroid(v, cb, 1).getItem(0)

  /** Collects seed tables (ids as BIGINT, vectors as array<float>;
    * NULL-id rows skipped) into driver-held quantizers, all in one job.
    */
  private def seedCodebooks(seeds: Seq[DataFrame], idCol: String,
                            embCol: String): Seq[Codebook] = {
    val rows = seeds.zipWithIndex.map { case (df, i) =>
      df.filter(col(idCol).isNotNull).select(lit(i).as("q"),
        col(idCol).cast("long").as("id"), col(embCol).cast("array<float>").as("v"))
    }.reduce(_.unionByName(_)).collect().groupBy(_.getInt(0))
    seeds.indices.map { i =>
      val rs = rows.getOrElse(i, Array.empty[Row])
      new Codebook(rs.map(_.getLong(1)), rs.map(r => Codebook.floats(r.getSeq[Any](2))))
    }
  }

  private def seedCodebook(seeds: DataFrame, idCol: String, embCol: String): Codebook =
    seedCodebooks(Seq(seeds), idCol, embCol).head

  /** The PQ seed rows: every row with `vec_id < k` (cell id = its
    * vec_id), cut into the m subspace slices by [[pqSeeds]].
    */
  private def pqSeedRows(vecs: DataFrame, idCol: String, k: Int): DataFrame =
    vecs.filter(col(idCol).cast("long") < k)

  private def pqSeeds(all: Codebook, m: Int, subDim: Int): Seq[Codebook] =
    (0 until m).map(s => all.sliced(s * subDim, subDim))

  /** Driver-held Lloyd trainer for any number of quantizers at once:
    * quantizer i clusters the vectors of column `vecs(i)` of `input`,
    * starting from `seeds(i)`. Each of the `iters − 1` updates is ONE
    * global `lloyd_step` aggregate over `input` — every row assigned to
    * its nearest centroid in every quantizer in the same pass, the
    * quantized coordinates summed per (quantizer, cluster) — whose
    * Σk·d-bounded result is collected and becomes the next round's
    * centroids. Nothing is cached, checkpointed or joined.
    *
    * Determinism: the argmax is the [[Codebook]] ranking contract over
    * [[CosineSim]] (the same fixed-order fold s01/d05 replay); centroid
    * means are `floor(v·1e6 + 0.5)` BIGINT sums divided as
    * `(sq − pmod(sq, n)) div n`, then `/1e6` and FLOAT — order-
    * independent, so round i+1 scores against bit-identical centroids
    * on any partitioning. Clusters that get no member drop out of the
    * next round. Vectors are read as array<float>, as every scorer
    * reads them.
    */
  private def lloydTrain(input: DataFrame, vecs: Seq[Column], seeds: Seq[Codebook],
                         iters: Int, quantScale: Double): Seq[Codebook] = {
    require(iters >= 1)
    (2 to iters).foldLeft(seeds) { (cbs, _) =>
      val sums = input.select(GraftFunctions.lloyd_step(vecs, cbs, quantScale))
        .collect().head.getAs[Array[Byte]](0)
      LloydStepAgg.centroids(sums, cbs, quantScale)
    }
  }

  /** The coarse quantizer of [[lloydRounds]]: `iters` Lloyd rounds
    * from `seeds` over the corpus rows with a non-NULL id.
    */
  private def coarseTrain(corpus: DataFrame, seeds: DataFrame, idCol: String, embCol: String,
                          iters: Int, quantScale: Double): Codebook =
    lloydTrain(corpus.filter(col(idCol).isNotNull), Seq(col(embCol)),
      Seq(seedCodebook(seeds, idCol, embCol)), iters, quantScale).head

  /** L51 — nearest-seed cluster assignment (Voronoi partition of the
    * corpus under cosine similarity): every vector goes to the most
    * similar of a small seed/centroid set, ties to the lowest seed id.
    * This is the cluster stage of SemDeDup-style semantic curation
    * (cluster → dedup/score within cluster) and the assignment step
    * of IVF index builds, exposed as a first-class operator.
    *
    * Scale shape: the seed set is collected to the driver (one small
    * job) and rides into a narrow `nearest_centroid` expression as a
    * plan constant — one corpus pass, no broadcast join, no shuffle.
    *
    * Determinism: cosines are double-precision fixed-order folds
    * (same kernel the s01/d05 oracles replay bit-identically); the
    * argmax is `max(struct(cos, −id))` — a NULL cosine (zero norm)
    * ranks lowest, ties go to the lower seed id — so the assignment
    * is engine-exact. Only the reported similarity is rounded.
    *
    * Each input row is assigned on its own: a duplicated `vec_id`
    * yields one output row per input row (the grouped form this
    * replaced merged them into one). `vec_id` is unique in every
    * input the oracles see.
    */
  def assignToSeeds(corpus: DataFrame, seeds: DataFrame,
                    idCol: String, embCol: String): DataFrame =
    assignWith(corpus, seedCodebook(seeds, idCol, embCol),
      seeds.schema(idCol).dataType, idCol, embCol)

  private def assignWith(corpus: DataFrame, cb: Codebook,
                         clusterType: org.apache.spark.sql.types.DataType,
                         idCol: String, embCol: String): DataFrame =
    corpus.select(col(idCol).as("vec_id"), nearestOf(col(embCol), cb).as("nc"))
      .select(col("vec_id"), col("nc.cell").cast(clusterType).as("cluster"),
        round(col("nc.cos"), 4).as("cos"))

  /** L58 — oracle-exact distributed Lloyd refinement (k-means under
    * cosine similarity): `iters` rounds of assign → centroid-update,
    * starting from an explicit seed set (e.g. vec_id < k, or the
    * output of a sampling pass). This is the cluster-refinement stage
    * SemDeDup-style curation and IVF index builds run between "pick
    * seeds" and "mine within cells" — exposed as a first-class
    * operator rather than hidden inside ivfTopK's MLlib call, because
    * the refinement itself must be reproducible for an incremental
    * 100 TB pipeline (re-running the job must yield the same cells).
    *
    * Scale shape: the k-row quantizer lives on the driver
    * ([[lloydTrain]]): one seed collect, then per update round one
    * global aggregate job over the corpus; the final assignment is a
    * narrow map. Nothing corpus×corpus, nothing cached.
    *
    * Determinism: see [[lloydTrain]] — every round is oracle-
    * replayable on any partitioning and any engine.
    *
    * @return final assignment (vec_id, cluster, cos) after `iters`
    *         assign passes (centroids update between passes only)
    */
  def lloydIterate(corpus: DataFrame, seeds: DataFrame, idCol: String,
                   embCol: String, iters: Int,
                   quantScale: Double = 1e6): DataFrame =
    lloydRounds(corpus, seeds, idCol, embCol, iters, quantScale)._2

  /** [[lloydIterate]] exposing BOTH halves of the result: the trained
    * quantizer (what an IVF index probes at query time) and the final
    * assignment (the cells). Same round structure and determinism
    * contract.
    *
    * @return (centroids, assignment(vec_id, cluster, cos))
    */
  private[graft] def lloydRounds(corpus: DataFrame, seeds: DataFrame,
                                 idCol: String, embCol: String, iters: Int,
                                 quantScale: Double = 1e6): (Codebook, DataFrame) = {
    val coarse = coarseTrain(corpus, seeds, idCol, embCol, iters, quantScale)
    (coarse, assignWith(corpus, coarse, seeds.schema(idCol).dataType, idCol, embCol))
  }

  /** Exact top-k by cosine over (qid, qemb, vec_id, cemb) candidate
    * pairs: per-query row_number over (cos DESC NULLS LAST, vec_id),
    * cosine reported rounded to 4 places.
    */
  private def rankByCos(pairs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    pairs
      .withColumn("cos", GraftFunctions.cosine_sim(col("qemb"), col("cemb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id"), round(col("cos"), 4).as("cos"))
  }

  /** L7b-exact — IVF top-k with a DETERMINISTIC coarse quantizer:
    * the [[lloydTrain]] machinery (quantized-integer centroid means,
    * FLOAT-folded rebuilds, low-id argmax ties) trains the cells, so
    * the whole index build AND search is bit-reproducible on any
    * engine — the external oracle replays quantizer, cells, probes,
    * and ranking value-for-value. [[ivfTopK]] remains the MLlib-wired
    * variant (production trains with more iterations; cell quality
    * only moves recall, which the spec pins there).
    *
    * Scale shape: quantizer = one seed collect + one aggregate job per
    * update round; cells and probes are narrow `nearest_centroid` maps
    * (corpus side and query side); the candidate scan joins the
    * (queries × nProbe)-row probe list on cell. Nothing corpus×corpus.
    */
  def ivfTopKExact(corpus: DataFrame, queries: DataFrame, seeds: DataFrame,
                   idCol: String, embCol: String, k: Int, nProbe: Int = 4,
                   iters: Int = 2, quantScale: Double = 1e6): DataFrame =
    ivfFilteredTopK(corpus.select(col(idCol), col(embCol)), queries, seeds, idCol, embCol,
      lit(true), k, nProbe, iters, quantScale)

  /** L89 — FILTERED vector search (the vector-DB serving shape every
    * production system exposes — FAISS IDSelector / Qdrant-Milvus
    * filtered search): top-k under a metadata PREDICATE, served from
    * an index built ONCE on the FULL corpus (filters vary per query;
    * rebuilding per predicate is not an option). This is PRE-
    * filtering inside the probed cells: candidates prune to the
    * query's nProbe cells (the IVF cost model), the predicate then
    * cuts inside those cells BEFORE scoring, so every scored
    * candidate is eligible — unlike POST-filtering (filter after
    * top-k), which silently returns fewer than k whenever the
    * unfiltered top-k wasn't predicate-dense. Declared at query time,
    * the predicate reaches the cell scan via Catalyst's pushdown —
    * the "filter inside the inverted list" production engines
    * hand-implement falls out of the declarative plan.
    *
    * Fewer than k rows per query IS the honest filtered-IVF contract
    * when probed cells lack eligible candidates (raise nProbe for
    * recall under selective filters). Same deterministic Lloyd
    * machinery as [[ivfTopKExact]] — fully oracle-replayable.
    */
  def ivfFilteredTopK(corpus: DataFrame, queries: DataFrame, seeds: DataFrame,
                      idCol: String, embCol: String, pred: Column,
                      k: Int, nProbe: Int = 4, iters: Int = 2,
                      quantScale: Double = 1e6): DataFrame = {
    val coarse = coarseTrain(corpus, seeds, idCol, embCol, iters, quantScale)
    val cells = corpus.withColumn("cell", nearestOf(col(embCol), coarse).getField("cell"))
      .withColumnRenamed(idCol, "vec_id").withColumnRenamed(embCol, "cemb")
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    rankByCos(cells.join(broadcast(probesOf(q, coarse, nProbe)), Seq("cell")).filter(pred), k)
  }

  /** L72 — product quantization (Jégou/Douze/Schmid 2011): the
    * standard embedding-COMPRESSION path for billion-vector corpora —
    * split each D-dim vector into `m` subvectors, train an
    * independent small quantizer per subspace with the deterministic
    * [[lloydTrain]] machinery (quantized-integer centroid means,
    * FLOAT-folded rebuilds, low-id ties — the s03/s10 contract), and
    * store each vector as m small codes. At m=4, k=16 a 64-dim float
    * vector (256 B) becomes 4 nibbles (2 B): a 10B-vector corpus
    * drops from 2.5 TB of floats to 20 GB of codes — the difference
    * between "fits in cluster memory" and not.
    *
    * Cosine-PQ: the in-house cosine quantizer (for unit-normalized
    * embeddings cosine and L2 rank identically); reconstruction =
    * concatenated code centroids, and the emitted `recon_cos`
    * (original · reconstruction similarity) is the per-vector
    * quantization-quality audit. Rounding is the engine-stable
    * floor(x·10⁴+½)/10⁴ form.
    *
    * Scale shape: all m sub-quantizers train together — one seed
    * collect (vec_id < k), then one `lloyd_step` aggregate per update
    * round covering every subspace; codes and the reconstruction are
    * one narrow `nearest_centroid` map per subspace. Fully
    * oracle-replayable — the DuckDB side replays all m chains.
    */
  def pqTrainEncode(vecs: DataFrame, idCol: String, embCol: String,
                    m: Int = 4, subDim: Int = 16, k: Int = 16,
                    iters: Int = 2, quantScale: Double = 1e6): DataFrame = {
    val cbs = pqTrain(vecs, idCol, embCol, m, subDim, k, iters, quantScale)
    vecs.select(col(idCol).cast("long").as("vec_id") +: col(embCol).as("orig") +:
        cbs.zipWithIndex.map { case (cb, s) =>
          nearestOf(slice(col(embCol), s * subDim + 1, subDim), cb).as(s"n_$s") }: _*)
      .select(col("vec_id") +:
        (0 until m).map(s => col(s"n_$s.cell").as(s"c_$s")) :+
        (floor(GraftFunctions.cosine_sim(col("orig"),
          concat((0 until m).map(s => col(s"n_$s.centroid")): _*)) * lit(10000.0) +
          lit(0.5)) / lit(10000.0)).as("recon_cos"): _*)
  }

  /** The m subspace slices `slice(emb, s·subDim + 1, subDim)`. */
  private def slicesOf(emb: Column, m: Int, subDim: Int): Seq[Column] =
    (0 until m).map(s => slice(emb, s * subDim + 1, subDim))

  /** Code columns c_0..c_{m-1} (BIGINT cells) of `emb` under `cbs`. */
  private def codeCols(emb: Column, cbs: Seq[Codebook], subDim: Int): Seq[Column] =
    cbs.zipWithIndex.map { case (cb, s) =>
      nearestOf(slice(emb, s * subDim + 1, subDim), cb).getField("cell").as(s"c_$s")
    }

  /** The trained PQ model: one codebook per subspace, all m trained
    * together by [[lloydTrain]] (one aggregate per update round for
    * every subspace). Per-subspace math is independent, so every
    * number is BIT-IDENTICAL to running a separate Lloyd chain per
    * slice — PqFusedSpec pins it against that DataFrame reference,
    * including duplicate-id and zero-vector corpora.
    *
    * Training state is the m·k·subDim-sized model on the driver; the
    * corpus is scanned once per round and never cached. At corpus
    * scale production still trains the codebooks on a sample (codebook
    * quality converges long before corpus size — Jégou et al. train on
    * subsets) and runs the full corpus through the frozen-codebook
    * encode only ([[pqEncodeAgainst]] / [[pqEncodeStored]]); PqStoreSpec
    * pins the sample-train → full-encode path.
    */
  private def pqTrain(vecs: DataFrame, idCol: String, embCol: String,
                      m: Int, subDim: Int, k: Int, iters: Int,
                      quantScale: Double): Seq[Codebook] = {
    require(m >= 1 && subDim >= 1 && k >= 1 && iters >= 1)
    lloydTrain(vecs.filter(col(idCol).isNotNull), slicesOf(col(embCol), m, subDim),
      pqSeeds(seedCodebook(pqSeedRows(vecs, idCol, k), idCol, embCol), m, subDim),
      iters, quantScale)
  }

  /** [[pqTrain]] plus the corpus codes (vec_id, c_0..c_{m-1}). */
  private[graft] def pqModel(vecs: DataFrame, idCol: String, embCol: String,
                             m: Int, subDim: Int, k: Int, iters: Int,
                             quantScale: Double): (Seq[Codebook], DataFrame) = {
    val cbs = pqTrain(vecs, idCol, embCol, m, subDim, k, iters, quantScale)
    (cbs, encodeWith(vecs, cbs, idCol, embCol, subDim))
  }

  /** Frozen-codebook encode: (vec_id, c_0..c_{m-1}[, cell]), one
    * narrow map — one output row per input row; with `coarse`, each
    * row's coarse cell (cast to `cellType`) rides along.
    */
  private def encodeWith(batch: DataFrame, cbs: Seq[Codebook], idCol: String,
                         embCol: String, subDim: Int,
                         coarse: Option[(Codebook, DataType)] = None): DataFrame =
    batch.select(col(idCol).cast("long").as("vec_id") +:
      (codeCols(col(embCol), cbs, subDim) ++ coarse.map { case (cb, cellType) =>
        nearestOf(col(embCol), cb).getField("cell").cast(cellType).as("cell") }): _*)

  /** L74 — INCREMENTAL PQ encoding: encode a NEW batch against
    * codebooks trained on the EXISTING corpus only — the d27 recrawl
    * shape applied to vector compression. A production code store is
    * append-only: the quantizer trains once (or per major refresh),
    * and every daily embedding batch encodes against the FROZEN
    * centroids — retraining per batch would silently re-map old codes.
    * The encode is one narrow map over the batch with the m·k-row
    * codebooks as plan constants; the batch never touches the corpus.
    */
  def pqEncodeAgainst(corpus: DataFrame, batch: DataFrame, idCol: String,
                      embCol: String, m: Int = 4, subDim: Int = 16,
                      k: Int = 16, iters: Int = 2,
                      quantScale: Double = 1e6): DataFrame =
    encodeWith(batch, pqTrain(corpus, idCol, embCol, m, subDim, k, iters, quantScale),
      idCol, embCol, subDim)

  /** A quantizer as a (cell, vector) local table, cells cast to
    * `cellType`.
    */
  private def codebookFrame(spark: SparkSession, cb: Codebook, cellCol: String,
                            vecCol: String, cellType: DataType): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(cb.ids.indices.map(j =>
        Row(cb.ids(j), Codebook.boxed(cb.vecs(j)))): _*),
      StructType(Seq(StructField(cellCol, LongType), StructField(vecCol, ArrayType(FloatType)))))
      .withColumn(cellCol, col(cellCol).cast(cellType))

  /** The m subspace codebooks stacked into one long-form codebook
    * relation (s, cell, cemb) — the storable shape.
    */
  private def stackCodebooks(spark: SparkSession, cbs: Seq[Codebook]): DataFrame =
    cbs.zipWithIndex.map { case (cb, s) =>
      codebookFrame(spark, cb, "cell", "cemb", LongType).select(lit(s).as("s"), col("cell"), col("cemb"))
    }.reduce(_.unionByName(_))

  /** L77 — the PERSISTED PQ model (the d29 pattern applied to
    * vectors): train once, write codebooks + codes as external
    * tables, and let every future batch encode against the STORED
    * codebooks with no Lloyd stage anywhere in the query plan. This
    * is the production code-store discipline [[pqEncodeAgainst]]'s
    * scaladoc describes — here the model actually lives in storage,
    * so "frozen" is a property of the data, not of the caller
    * remembering to reuse a DataFrame.
    *
    *   - `<prefix>_codebooks`: (s, cell, cemb) — m·k rows, the whole
    *     quantizer; collected to the driver at every encode.
    *   - `<prefix>_codes`: (vec_id, c_0..c_{m-1}) bucketed on vec_id
    *     — the corpus at 2 B/vector; id-keyed joins (fetch codes for
    *     a doc set, append a new batch) read it Exchange-free.
    *
    * Training cost is paid HERE, once; [[pqEncodeStored]] plans are
    * train-free. At 100 TB the codes table is the only corpus-sized
    * artifact and it is ~128× smaller than the float table.
    */
  def writePqModel(corpus: DataFrame, idCol: String, embCol: String,
                   tablePrefix: String, m: Int = 4, subDim: Int = 16,
                   k: Int = 16, iters: Int = 2, quantScale: Double = 1e6,
                   buckets: Int = 8, path: Option[String] = None): Unit = {
    val cbs = pqTrain(corpus, idCol, embCol, m, subDim, k, iters, quantScale)
    graft.sources.TidyIO.writeBucketedCols(
      stackCodebooks(corpus.sparkSession, cbs), s"${tablePrefix}_codebooks", Seq("s"), 1,
      path = path.map(p => s"$p/codebooks"))
    graft.sources.TidyIO.writeBucketedCols(
      encodeWith(corpus, cbs, idCol, embCol, subDim), s"${tablePrefix}_codes", Seq("vec_id"),
      buckets, path = path.map(p => s"$p/codes"))
  }

  /** Encode a batch against a [[writePqModel]] store: the codebooks
    * are READ (one small collect), never retrained — the plan is the
    * batch scan and one narrow encode map, nothing else (PqStoreSpec
    * asserts no Lloyd machinery).
    */
  def pqEncodeStored(batch: DataFrame, idCol: String, embCol: String,
                     tablePrefix: String, m: Int = 4,
                     subDim: Int = 16): DataFrame =
    encodeWith(batch, readCodebooks(batch.sparkSession, tablePrefix, m),
      idCol, embCol, subDim)

  /** Read a [[writePqModel]]/[[writeIvfAdcIndex]] codebook table back
    * into the m driver-held subspace codebooks.
    */
  private def readCodebooks(spark: SparkSession, tablePrefix: String,
                            m: Int): Seq[Codebook] = {
    val rows = spark.table(s"${tablePrefix}_codebooks")
      .select(col("s"), col("cell").cast("long"), col("cemb")).collect()
      .groupBy(_.getInt(0))
    (0 until m).map { s =>
      val rs = rows.getOrElse(s, Array.empty[Row])
      new Codebook(rs.map(_.getLong(1)), rs.map(r => Codebook.floats(r.getSeq[Any](2))))
    }
  }

  /** L78a — ADC retrieval SERVED from a [[writePqModel]] store: the
    * query plan reads codebooks + codes tables and trains nothing —
    * what a recurring retrieval workload actually runs (the model
    * trained once, queries arriving forever after). Scoring is
    * [[adcRank]] shared with s12/s14, so the served ranking is
    * bit-identical to retraining in-query with the same corpus and
    * parameters (that equality is s16's oracle contract).
    */
  def pqAdcTopKStored(queries: DataFrame, idCol: String, embCol: String,
                      tablePrefix: String, kTop: Int = 10, m: Int = 4,
                      subDim: Int = 16): DataFrame = {
    val spark = queries.sparkSession
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    adcRank(spark.table(s"${tablePrefix}_codes").crossJoin(broadcast(q)),
      new AdcModel(subDim, readCodebooks(spark, tablePrefix, m).toArray, None), kTop)
  }

  /** L78b — the PERSISTED IVFADC index (the full FAISS-on-disk
    * analog, and the d29 pattern applied to the s14 serving path):
    *
    *   - `<prefix>_coarse`: (cell, centroid) — nCells rows, the
    *     probe table;
    *   - `<prefix>_codebooks`: (s, cell, cemb) — the PQ quantizer;
    *   - `<prefix>_codes`: (vec_id, c_0.., cell) BUCKETED ON CELL —
    *     the FAISS inverted-list layout: a probe reads only matching
    *     cell buckets, and at rest cell-partitioning turns the probe
    *     join into partition pruning.
    *
    * All training cost lands here, once: the coarse quantizer and the
    * m PQ codebooks train TOGETHER ([[lloydTrain]]: one aggregate job
    * per update round for all 1 + m quantizers), the codes and cells
    * are one narrow map over the corpus, and the two model tables are
    * written from the driver-held quantizers. [[ivfAdcTopKStored]]
    * plans contain table scans, a broadcast probe join, and
    * arithmetic — no Lloyd stage, no float-corpus scan.
    */
  def writeIvfAdcIndex(corpus: DataFrame, seeds: DataFrame, idCol: String,
                       embCol: String, tablePrefix: String, m: Int = 4,
                       subDim: Int = 16, k: Int = 16, iters: Int = 2,
                       quantScale: Double = 1e6, buckets: Int = 8,
                       path: Option[String] = None): Unit = {
    val (coarse, cbs) = ivfAdcTrain(corpus, seeds, idCol, embCol, m, subDim, k, iters,
      quantScale)
    val cellType = seeds.schema(idCol).dataType
    graft.sources.TidyIO.writeBucketedCols(
      codebookFrame(corpus.sparkSession, coarse, "cell", "centroid", cellType),
      s"${tablePrefix}_coarse", Seq("cell"), 1, path = path.map(p => s"$p/coarse"))
    graft.sources.TidyIO.writeBucketedCols(
      stackCodebooks(corpus.sparkSession, cbs), s"${tablePrefix}_codebooks", Seq("s"), 1,
      path = path.map(p => s"$p/codebooks"))
    graft.sources.TidyIO.writeBucketedCols(
      encodeWith(corpus, cbs, idCol, embCol, subDim, Some((coarse, cellType))),
      s"${tablePrefix}_codes", Seq("cell"), buckets, path = path.map(p => s"$p/codes"))
  }

  /** IVFADC retrieval SERVED from a [[writeIvfAdcIndex]] store:
    * probe the stored coarse centroids, then read ONLY the probed
    * cells' code buckets, ADC-score via the stored codebooks.
    * Ranking is bit-identical to [[ivfAdcTopK]] with the same
    * corpus/seeds/parameters — s17's oracle contract (s14's oracle
    * verbatim).
    *
    * Scale shape: the coarse and PQ tables are collected to the
    * driver (nCells and m·k rows); the probes are a narrow
    * top-nProbe over the queries, collected as |queries|·nProbe rows
    * — bounded BY CONSTRUCTION, never a data-sized collect. The
    * probed-cell set is pushed as a LITERAL `isin` predicate on the
    * bucket column: a broadcast hash join on `cell` alone filters
    * rows only AFTER every code file is read, while the literal In
    * prunes buckets AT the scan (`SelectedBucketsCount: probed out
    * of total` in the executed plan — PqStoreSpec asserts it), which
    * is the FAISS inverted-list read: untouched cells cost zero IO.
    * The probe rows come back as a LocalRelation for the residual
    * (qid, cell) broadcast join, and scoring is one narrow
    * `adc_score` map over the surviving codes.
    */
  def ivfAdcTopKStored(queries: DataFrame, idCol: String, embCol: String,
                       tablePrefix: String, kTop: Int = 10, nProbe: Int = 4,
                       m: Int = 4, subDim: Int = 16): DataFrame = {
    val spark = queries.sparkSession
    val codes = spark.table(s"${tablePrefix}_codes")
    val coarseRows = spark.table(s"${tablePrefix}_coarse")
      .select(col("cell").cast("long"), col("centroid")).collect()
    val coarse = new Codebook(coarseRows.map(_.getLong(0)),
      coarseRows.map(r => Codebook.floats(r.getSeq[Any](1))))
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    val probes = probesOf(q, coarse, nProbe)
      .withColumn("cell", col("cell").cast(codes.schema("cell").dataType))
    val probeRows = probes.collect()
    val probedCells = probeRows.map(_.getAs[Any]("cell")).distinct.toSeq
    val probeLocal = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    val pruned =
      if (probedCells.isEmpty) codes.filter(lit(false))
      else codes.filter(col("cell").isin(probedCells: _*))
    val cand = pruned.join(broadcast(probeLocal), Seq("cell")).drop("cell")
    adcRank(cand, new AdcModel(subDim, readCodebooks(spark, tablePrefix, m).toArray, None),
      kTop)
  }

  /** L73 — PQ asymmetric-distance top-k (the ADC query path of
    * Jégou et al.): score every corpus vector against a query FROM
    * ITS CODES ALONE — per subspace the query's slice dots the code's
    * centroid, plus the centroid's self-dot, and a vector's score
    * needs only m such lookups, never the decompressed floats.
    * Because subspaces occupy disjoint coordinates, Σ qd_s is EXACTLY
    * q·recon(x) and Σ ns_s is exactly |recon(x)|², so the ADC score
    * here is the exact cosine between the query and the
    * reconstruction — which is what makes it oracle-replayable.
    *
    * Scale shape: the codebooks ride in the narrow `adc_score`
    * expression as plan constants; the small query set is broadcast
    * against the code table; top-k via rank ≤ kTop (WindowGroupLimit
    * prunes map-side). The 256 B/vector float fetch the brute-force
    * scan pays becomes a 2 B/vector code read — the entire point of
    * PQ retrieval.
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                embCol: String, kTop: Int = 10, m: Int = 4, subDim: Int = 16,
                k: Int = 16, iters: Int = 2,
                quantScale: Double = 1e6): DataFrame = {
    val (cbs, codes) = pqModel(corpus, idCol, embCol, m, subDim, k, iters, quantScale)
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    // exhaustive ADC: every (query, code) pair scores — the baseline
    // the cell-pruned [[ivfAdcTopK]] path is measured against.
    adcRank(codes.crossJoin(broadcast(q)), new AdcModel(subDim, cbs.toArray, None), kTop)
  }

  /** ADC scoring + per-query ranking shared by every ADC path:
    * `cand` carries (qid, qemb, vec_id, c_0..c_{m-1}) plus `cell` for
    * residual codes — WHICH codes score against which query is the
    * caller's candidate policy; the arithmetic is one `adc_score` map
    * (sum order qd_0 + … + qd_{m-1}; NULL when the query or the
    * reconstruction norm is 0), so every path ranks a common candidate
    * the same: by (adc DESC NULLS LAST, vec_id).
    */
  private def adcRank(cand: DataFrame, model: AdcModel, kTop: Int): DataFrame = {
    val keys = model.coarse.map(_ => col("cell")).toSeq ++
      model.codebooks.indices.map(s => col(s"c_$s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc").desc, col("vec_id"))
    cand.withColumn("adc", GraftFunctions.adc_score(col("qemb"), keys, model))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= kTop)
      .select(col("qid"), col("rnk"), col("vec_id"),
        (floor(col("adc") * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("adc_cos"))
  }

  /** Coarse quantizer and m PQ codebooks (raw codes) trained together
    * by [[lloydTrain]]: one aggregate job per update round for all
    * 1 + m quantizers.
    */
  private def ivfAdcTrain(corpus: DataFrame, seeds: DataFrame, idCol: String,
                          embCol: String, m: Int, subDim: Int, k: Int, iters: Int,
                          quantScale: Double): (Codebook, Seq[Codebook]) = {
    require(m >= 1 && subDim >= 1 && k >= 1 && iters >= 1)
    val Seq(coarseSeeds, pqSeedVecs) =
      seedCodebooks(Seq(seeds, pqSeedRows(corpus, idCol, k)), idCol, embCol)
    val trained = lloydTrain(corpus.filter(col(idCol).isNotNull),
      col(embCol) +: slicesOf(col(embCol), m, subDim),
      coarseSeeds +: pqSeeds(pqSeedVecs, m, subDim), iters, quantScale)
    (trained.head, trained.tail)
  }

  /** L76 — IVFADC retrieval (Jégou/Douze/Schmid 2011 §V): the actual
    * billion-vector serving path — the coarse quantizer prunes the
    * candidate set to the query's `nProbe` nearest cells, and ADC
    * scores ONLY the codes inside probed cells. Both halves are the
    * already-certified machinery: cells come from the deterministic
    * coarse quantizer (the s03 contract), codes and scores from the
    * PQ codebooks (the s11/s12 contract) — so the whole composition
    * replays value-for-value in an external oracle.
    *
    * Codes here quantize the RAW vectors, not the residual
    * (x − coarse centroid): the FAISS `by_residual=false` flavor.
    * Residual codes buy accuracy at the same footprint but couple
    * the two quantizers (PQ retrains whenever the coarse cells
    * move); raw codes keep the code store valid under coarse-index
    * rebuilds — the right trade for an append-only corpus, and the
    * form whose ADC score stays exactly cos(query, reconstruction).
    *
    * Scale shape: candidate volume drops corpus → corpus·nProbe/
    * nCells BEFORE any scoring arithmetic (the probe join is a
    * broadcast of |queries|·nProbe rows against the cell-keyed code
    * table — at rest, store codes partitioned by cell and this join
    * becomes partition pruning). Everything else is the s12 shape:
    * a narrow `adc_score` map over surviving codes, rank ≤ kTop. The
    * |corpus|-row float table is touched only at TRAIN time (and by
    * the narrow encode), never by scoring.
    *
    * @param seeds coarse-cell seed vectors (nCells rows, e.g.
    *              vec_id < nCells) — the s03 seeding convention.
    */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, seeds: DataFrame,
                 idCol: String, embCol: String, kTop: Int = 10,
                 nProbe: Int = 4, m: Int = 4, subDim: Int = 16,
                 k: Int = 16, iters: Int = 2,
                 quantScale: Double = 1e6): DataFrame =
    ivfAdcParts(corpus, queries, seeds, idCol, embCol, kTop, nProbe, m,
      subDim, k, iters, quantScale)._2

  /** [[ivfAdcTopK]] exposing the pruned candidate set next to the
    * ranking, so specs can assert the pruning is real (candidates =
    * codes in probed cells only, strictly fewer than |corpus| ×
    * |queries| when nProbe < nCells).
    */
  private[graft] def ivfAdcParts(corpus: DataFrame, queries: DataFrame,
                                 seeds: DataFrame, idCol: String, embCol: String,
                                 kTop: Int, nProbe: Int, m: Int, subDim: Int,
                                 k: Int, iters: Int,
                                 quantScale: Double): (DataFrame, DataFrame) = {
    val (coarse, cbs) = ivfAdcTrain(corpus, seeds, idCol, embCol, m, subDim, k, iters,
      quantScale)
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    // the pruning: codes carry their coarse cell and survive only if
    // that cell is probed by the query — BEFORE any ADC arithmetic
    val cand = encodeWith(corpus, cbs, idCol, embCol, subDim, Some((coarse, LongType)))
      .join(broadcast(probesOf(q, coarse, nProbe)), Seq("cell"))
      .drop("cell")
    (cand, adcRank(cand, new AdcModel(subDim, cbs.toArray, None), kTop))
  }

  /** L83 — int8 inner-product retrieval (MIPS over symmetric
    * per-vector quantization — the s05 compaction codes used for
    * SERVING): both sides quantize with scale 127/max|v| and
    * elementwise floor(v·s + ½); the score is the reconstructed
    * inner product Σq_i·c_i / (s_q·s_c). This is the production
    * int8 path (FAISS `SQ8` / int8 GEMM serving): the hot loop is an
    * INTEGER dot product over codes 4× smaller than floats — SIMD
    * fodder — and the float correction is one multiply-divide per
    * pair, applied AFTER the integer arithmetic.
    *
    * Oracle-exactness: the integer dot is exact under any order; the
    * scales are deterministic doubles (one max, one divide); the
    * descale is one double op — so the ranking replays
    * value-for-value. A zero vector has scale 0 → score NULL (the
    * s01 zero-norm convention), ranked last.
    *
    * Scale shape: s01's exactly — queries broadcast, one corpus
    * pass, per-query bounded rank; at rest the corpus side reads
    * int8 codes + one scale per vector, not floats.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               embCol: String, k: Int = 10): DataFrame = {
    def quant(df: DataFrame, id: String, sc: String, arr: String): DataFrame =
      df.select(col(idCol).as(id),
          transform(col(embCol), v => v.cast("double")).as("v"))
        .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
        .withColumn(sc, when(col("mx") > 0, lit(127.0) / col("mx")).otherwise(lit(0.0)))
        .withColumn(arr, transform(col("v"),
          x => floor(x * col(sc) + lit(0.5)).cast("long")))
        .drop("v", "mx")
    val c = quant(corpus, "vec_id", "sc_c", "ca")
    val q = quant(queries, "qid", "sc_q", "qa")
    val idot = aggregate(zip_with(col("qa"), col("ca"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("ip").desc, col("vec_id"))
    c.crossJoin(broadcast(q))
      .withColumn("ip",
        when(col("sc_q") === 0.0 || col("sc_c") === 0.0, lit(null).cast("double"))
          .otherwise(idot.cast("double") / (col("sc_q") * col("sc_c"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id"),
        (floor(col("ip") * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("ip"))
  }

  /** L116 — per-DIMENSION scalar quantization + code-space retrieval
    * (FAISS ScalarQuantizer QT_8bit, the trained tier above
    * [[int8TopK]]'s zero-state per-vector scaling): train per-dim
    * (vmin, vmax) over the corpus, encode every coordinate as
    * q = clamp(⌊(x − vmin)/(vmax − vmin)·256⌋, 0, 255) — one byte per
    * dim, 4× smaller than float32 — and serve top-k by INTEGER L2 in
    * code space: Σ(q_c − q_q)², exact BIGINT arithmetic, so ranking
    * is bit-deterministic and fully oracle-replayable (constant dims,
    * vmax = vmin, encode to 0 on both sides). The trained model is
    * dim-sized (one (vmin, vmax) pair per coordinate) and collected
    * to the driver — the bounded-collect class (a quantizer IS a
    * small model object, exactly like the PQ codebooks) — then
    * re-broadcast as literal arrays into a narrow codegen encode.
    *
    * 100 TB shape: train = one narrow posexplode + dim-cardinality
    * aggregate; encode = zero-shuffle map; serve = the s20 broadcast
    * cross-score with integer arithmetic (at real scale the code
    * table is the thing you SCAN — 16 GB/billion vectors instead of
    * 64 — and the same IVF cell pruning composes in front).
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int = 10): DataFrame = {
    val spark = corpus.sparkSession
    def dv(df: DataFrame) = df.select(col(idCol).cast("long").as("vid"),
      transform(col(embCol), v => v.cast("double")).as("v"))
    val c = dv(corpus)
    // TRAIN: per-dim min/max — dim-cardinality aggregate, bounded
    // driver collect (the model object)
    val model = c.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("vmin"), max("x").as("vmax"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val vminL = lit(model.map(_._2))
    val vmaxL = lit(model.map(_._3))
    // ENCODE: identical double op order both engines —
    // ((x − vmin) / (vmax − vmin)) * 256, floored then clamped
    def codes(v: Column): Column =
      zip_with(v, sequence(lit(1), lit(model.length)), (x, i) => {
        val lo = element_at(vminL, i)
        val hi = element_at(vmaxL, i)
        when(hi > lo,
          least(greatest(floor((x - lo) / (hi - lo) * lit(256.0))
            .cast("long"), lit(0L)), lit(255L)))
          .otherwise(lit(0L))
      })
    val cc = c.select(col("vid").as("vec_id"), codes(col("v")).as("cq"))
    val qq = dv(queries).select(col("vid").as("qid"), codes(col("v")).as("qa"))
    val dist = aggregate(zip_with(col("cq"), col("qa"),
      (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("dist"), col("vec_id"))
    cc.crossJoin(broadcast(qq))
      .withColumn("dist", dist)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id"), col("dist"))
  }

  /** L85 — truncated-dimension retrieval + exact re-rank (the
    * Matryoshka / MRL serving shape, Kusupati et al. 2022: nested
    * representations make the FIRST dPrefix coordinates a usable
    * low-cost embedding): stage 1 ranks the corpus by cosine over the
    * dPrefix-coordinate PREFIX only — on a matryoshka-laid-out store
    * (prefix slice as its own column / column chunk) the scan reads
    * dPrefix/dim of the float bytes, here 1/4 — and cuts a
    * `shortlist`-deep candidate set per query; stage 2 fetches only
    * the shortlist's full vectors (broadcast point-lookup, s19's
    * fetch shape) and re-scores with the exact full-dimension cosine.
    *
    * Same algebra as PQ-then-refine but with zero trained state —
    * the cheap representation is a projection, so there is nothing
    * to retrain when the corpus drifts; the trade is a weaker cheap
    * stage (a prefix keeps ~dPrefix/dim of the variance on
    * isotropic vectors, while PQ spends its budget adaptively).
    *
    * Determinism: prefix cosine and full cosine are both the
    * certified float-fold kernel; zero-norm prefixes rank NULLS LAST
    * with vec_id tiebreak — the whole two-stage composition replays
    * value-for-value in the external oracle (dot over the first
    * dPrefix list positions).
    */
  def truncRerankTopK(corpus: DataFrame, queries: DataFrame,
                      idCol: String, embCol: String, kTop: Int = 10,
                      dPrefix: Int = 16, shortlist: Int = 30): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"),
      slice(col(embCol), 1, dPrefix).as("qp"))
    // stage 1 projects ONLY the prefix — the matryoshka layout's scan
    val cPrefix = corpus.select(col(idCol).as("vec_id"),
      slice(col(embCol), 1, dPrefix).as("cp"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("c1").desc, col("vec_id"))
    val sl = cPrefix.crossJoin(broadcast(q.select("qid", "qp")))
      .withColumn("c1", GraftFunctions.cosine_sim(col("qp"), col("cp")))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= shortlist)
      .select("qid", "vec_id")
    // stage 2: |q|·shortlist point-lookups + exact full-dim cosines
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("cemb"))
    rankByCos(c.join(broadcast(sl), Seq("vec_id"))
      .join(broadcast(q.select("qid", "qemb")), Seq("qid")), kTop)
  }

  /** L86 — 1-bit sign-quantized Hamming retrieval + exact re-rank
    * (binary hashing / SQ1 — Charikar's SRP at its degenerate
    * identity-rotation point: bit j = sign(v_j)): each 64-d vector
    * compresses to TWO longs (16 B — 16× smaller than the float
    * payload, 4× smaller than s20's int8), candidate generation
    * ranks by Hamming distance — xor + popcount, the cheapest
    * possible scan arithmetic, integer-exact on any engine — and the
    * `shortlist` survivors re-rank with the exact full-dim cosine
    * (s19's point-lookup fetch). For angular similarity
    * E[hamming]/bits = angle/π (the SRP guarantee), so sign bits
    * preserve cosine ORDER in expectation; the exact re-rank
    * recovers the ordering quantization buried inside the shortlist.
    *
    * Scale shape: the candidate scan reads 16 B/vector and does two
    * xor+popcount ops — this is the regime where the scan is memory-
    * bandwidth-bound, the point of binary codes; stage 2 touches
    * |q|·shortlist raw vectors. Zero trained state, like [[
    * truncRerankTopK]]. All-integer stage 1 + certified float-fold
    * stage 2 → fully oracle-replayable (bits pack as Σ 2^j in
    * ⌈dim/32⌉ 32-bit halves — no sign-bit overflow — hamming via
    * bit_count). `dim` drives the packing width; a row whose
    * embedding size differs raises at scan time rather than silently
    * hashing only a prefix of the coordinates.
    */
  def signHammingTopK(corpus: DataFrame, queries: DataFrame,
                      idCol: String, embCol: String, kTop: Int = 10,
                      shortlist: Int = 30, dim: Int = 64): DataFrame = {
    require(dim >= 1, s"dim must be positive, got $dim")
    // One packed long per 32 coordinates, derived from `dim` — a
    // corpus whose vectors don't match `dim` fails LOUDLY at scan
    // time (assert_true) instead of silently hashing a prefix.
    val nHalves = (dim + 31) / 32
    def pack(df: DataFrame, id: String, prefix: String,
             keepEmb: Option[String]): DataFrame = {
      def half(off: Int) = {
        val width = math.min(32, dim - off)
        expr(
          s"""aggregate(transform(slice($embCol, ${off + 1}, $width),
             |  (x, i) -> IF(x > 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
             |  CAST(0 AS BIGINT), (a, b) -> a + b)""".stripMargin)
      }
      // filter(assert_true(..).isNull) instead of a dropped column:
      // an unused projected column would be pruned by the optimizer
      // and the guard silently skipped; a Filter survives.
      val guarded = df.filter(
        assert_true(size(col(embCol)) === dim,
          lit(s"signHammingTopK: $embCol must have exactly $dim elements"))
          .isNull)
      val halves = (0 until nHalves).map(h => half(h * 32).as(s"$prefix$h"))
      guarded.select(col(idCol).as(id) +:
        (keepEmb.map(n => col(embCol).as(n)).toSeq ++ halves): _*)
    }
    val q = pack(queries, "qid", "qh", Some("qemb"))
    val cCodes = pack(corpus, "vec_id", "ch", None)
    val hamExpr = (0 until nHalves)
      .map(h => s"bit_count(qh$h ^ ch$h)").mkString(" + ")
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("ham").asc, col("vec_id"))
    val sl = cCodes.crossJoin(broadcast(q.drop("qemb")))
      .withColumn("ham", expr(hamExpr).cast("long"))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= shortlist)
      .select("qid", "vec_id")
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("cemb"))
    rankByCos(c.join(broadcast(sl), Seq("vec_id"))
      .join(broadcast(q.select("qid", "qemb")), Seq("qid")), kTop)
  }

  /** L80 — two-stage retrieval: IVFADC candidate generation + EXACT
    * re-rank (the standard production serving shape — FAISS's
    * `IndexRefineFlat`, Jégou et al. §VI "re-ranking with source
    * coding"): stage 1 runs [[ivfAdcTopK]]'s cell-pruned ADC scan to
    * a SHORTLIST of `shortlist` candidates per query (compressed
    * codes only — the corpus floats are never scanned); stage 2
    * fetches ONLY the shortlist's raw vectors and re-scores them with
    * the exact cosine, returning the top `kTop`. ADC quantization
    * error can misorder near-ties, so serving stacks a cheap exact
    * pass over a small superset (shortlist ≫ kTop) to recover
    * brute-force-quality ordering at ADC-scan cost.
    *
    * Scale shape: stage 1 is [[ivfAdcTopK]] verbatim (probe-pruned
    * code scan, narrow ADC scoring). Stage 2's vector fetch is a
    * BROADCAST semi-join of |queries|·shortlist ids against the
    * vector store — with vectors stored bucketed by id this is a
    * pruned point-lookup, not a corpus scan — followed by |q|·
    * shortlist exact cosines and a bounded per-query window. The
    * expensive float arithmetic runs on thousands of rows, not
    * billions.
    *
    * Determinism: the shortlist ranks by (adc DESC, vec_id) and the
    * re-rank by (cos DESC NULLS LAST, vec_id) — both engine-exact
    * (the certified float-fold kernels), so the composition replays
    * value-for-value in the external oracle.
    */
  def ivfAdcRerankTopK(corpus: DataFrame, queries: DataFrame, seeds: DataFrame,
                       idCol: String, embCol: String, kTop: Int = 10,
                       shortlist: Int = 30, nProbe: Int = 4, m: Int = 4,
                       subDim: Int = 16, k: Int = 16, iters: Int = 2,
                       quantScale: Double = 1e6): DataFrame = {
    val sl = ivfAdcParts(corpus, queries, seeds, idCol, embCol, shortlist,
        nProbe, m, subDim, k, iters, quantScale)._2
      .select(col("qid"), col("vec_id"))
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("cemb"))
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    rankByCos(c.join(broadcast(sl), Seq("vec_id")).join(broadcast(q), Seq("qid")), kTop)
  }

  /** L79 — RESIDUAL-coded IVFADC (Jégou et al. §V, `by_residual=
    * true` — the FAISS default): PQ quantizes x − c(x) instead of x.
    * Residuals are centered near zero, so the same m·k codebook
    * budget spends its resolution on the part of the vector the
    * coarse cell has NOT already explained — tighter reconstructions
    * at identical code size. On clustered real corpora (where cells
    * explain a lot) this is where residual coding's recall gain
    * lives; on near-random synthetic vectors the cells explain
    * little and the dashboard spec honestly pins only PARITY with
    * raw-code s14 (within noise), not a win. The trade the raw-code
    * form ([[ivfAdcTopK]]) wins instead: residual
    * codes are COUPLED to the coarse quantizer (a cell rebuild
    * invalidates every code), so append-mostly corpora may still
    * prefer raw codes.
    *
    * The ADC score stays EXACTLY cos(query, c + r̂): both the
    * numerator and ||c + r̂||² decompose per subspace —
    * num_s = q_s·c_s + q_s·r̂_s, den_s = ||c_s||² + 2·c_s·r̂_s +
    * ||r̂_s||² — computed by `adc_score` from the row's cell and codes
    * with the coarse centroids and residual codebooks as plan
    * constants. Everything is the certified float-fold arithmetic, so
    * the whole composition (coarse chain, residuals, residual chains,
    * probes, scoring) replays value-for-value in the external oracle.
    *
    * Scale shape: the coarse quantizer trains first (its final cells
    * define the residuals), then the m residual codebooks train
    * together; residuals, cells and codes are narrow maps; candidates
    * prune to probed cells BEFORE scoring, as in [[ivfAdcTopK]].
    */
  def ivfAdcResidualTopK(corpus: DataFrame, queries: DataFrame, seeds: DataFrame,
                         idCol: String, embCol: String, kTop: Int = 10,
                         nProbe: Int = 4, m: Int = 4, subDim: Int = 16,
                         k: Int = 16, iters: Int = 2,
                         quantScale: Double = 1e6): DataFrame = {
    val coarse = coarseTrain(corpus, seeds, idCol, embCol, iters, quantScale)
    // residuals, double-subtracted then FLOAT-folded like any stored
    // embedding (exact-input float subtraction rounds identically)
    val resid = corpus.select(col(idCol).cast("long").as("vec_id"), col(embCol).as("cemb"),
        nearestOf(col(embCol), coarse).as("nc"))
      .select(col("vec_id"), col("nc.cell").as("cell"),
        zip_with(col("cemb"), col("nc.centroid"),
          (a, b) => (a.cast("double") - b.cast("double")).cast("float")).as("resid"))
    val cbs = pqTrain(resid, "vec_id", "resid", m, subDim, k, iters, quantScale)
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    val cand = resid.select(col("vec_id") +: col("cell") +: codeCols(col("resid"), cbs, subDim): _*)
      .join(broadcast(probesOf(q, coarse, nProbe)), Seq("cell"))
    adcRank(cand, new AdcModel(subDim, cbs.toArray, Some(coarse)), kTop)
  }
  /** Deterministic ±1 random-hyperplane weights (seeded). */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(nPlanes, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Sign-random-projection code: bit p = [⟨emb, w_p⟩ > 0]. Native
    * codegen expression — one fused loop over (planes × dims).
    */
  private def srpCode(emb: Column, planes: Array[Array[Double]]): Column =
    GraftFunctions.srp_code(emb, planes)

  /** L7 — LSH-bucketed ANN: 16-bit sign-random-projection code per
    * vector, banded into four 4-bit slices (multi-probe: a candidate
    * needs only one matching slice), exact cosine on candidates, then
    * per-query top-k. Band width trades recall against pruning —
    * 4 bits keeps usable recall even on weak-locality (near-random)
    * embeddings. Misses are possible by design — the spec bounds
    * recall against bruteForceTopK.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, embCol: String, k: Int,
              nPlanes: Int = 16, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bandsOf = (df: DataFrame, id: String, emb: String) => {
      val code = srpCode(col(emb), planes)
      val slices = (0 until nPlanes / 4).map(b =>
        shiftrightunsigned(col("code"), 4 * b).bitwiseAND(lit(0xFL)))
      df.select(col(id), col(emb), code.as("code"))
        .select(col(id), col(emb), posexplode(array(slices: _*)))
        .toDF(id, emb, "band", "key")
    }
    val cb = bandsOf(corpus.select(col(idCol).as("vec_id"), col(embCol).as("cemb")), "vec_id", "cemb")
    val qb = bandsOf(queries.select(col(idCol).as("qid"), col(embCol).as("qemb")), "qid", "qemb")
    val candidates = cb.join(broadcast(qb), Seq("band", "key"))
      .select("qid", "qemb", "vec_id", "cemb")
      .dropDuplicates("qid", "vec_id")
    rankByCos(candidates, k)
  }
}
