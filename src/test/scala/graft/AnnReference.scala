package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.Ann

/** Test-only reference: the DataFrame-chain form of graft's Lloyd
  * trainer and ADC scorer — broadcast cross joins, `groupBy` argmax,
  * (cluster, dim)-keyed quantized-integer centroid aggregates and
  * per-subspace lookup-table joins. `operators.Ann` trains and serves
  * from driver-held quantizers instead; PqFusedSpec pins the two
  * bit-equal. Every Lloyd round here is its own chain of jobs, so it
  * is slow by design.
  */
object AnnReference {

  /** argmax(cos, then lowest cluster) per vec_id over a broadcast
    * seed cross join.
    */
  def assignToSeeds(corpus: DataFrame, seeds: DataFrame,
                    idCol: String, embCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("cemb"))
    val sd = seeds.select(col(idCol).as("cluster"), col(embCol).as("semb"))
    c.crossJoin(broadcast(sd))
      .withColumn("cos", GraftFunctions.cosine_sim(col("cemb"), col("semb")))
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("cluster")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("cluster"),
        round(col("m.cos"), 4).as("cos"))
  }

  /** `iters` rounds of assign → 1e-6-quantized integer centroid
    * update. Returns (centroids(idCol, embCol), assignment).
    */
  def lloydRounds(corpus: DataFrame, seeds: DataFrame, idCol: String,
                  embCol: String, iters: Int,
                  quantScale: Double = 1e6): (DataFrame, DataFrame) = {
    var centroids = seeds.select(col(idCol), col(embCol))
    var assign = assignToSeeds(corpus, centroids, idCol, embCol)
    for (_ <- 2 to iters) {
      val members = corpus.select(col(idCol).as("vec_id"), col(embCol).as("cemb"))
        .join(assign.select("vec_id", "cluster"), "vec_id")
      val cents = Ann.labelCentroids(members.select(col("cluster"), col("cemb")),
        "cemb", "cluster", Some(quantScale))
      centroids = cents
        .groupBy(col("label").as(idCol))
        .agg(array_sort(collect_list(struct(col("dim"), col("centroid_micro")))).as("dm"))
        .select(col(idCol),
          transform(col("dm"),
            x => (x.getField("centroid_micro").cast("double") / lit(quantScale))
              .cast("float")).as(embCol))
      assign = assignToSeeds(corpus, centroids, idCol, embCol)
    }
    (centroids, assign)
  }

  /** m separate Lloyd chains, one per subspace slice, seeded by the
    * rows with vec_id < k. Returns (per-subspace centroid tables
    * (cell_s, se_s), codes (vec_id, c_0..c_{m-1})).
    */
  def pqModelSequential(vecs: DataFrame, idCol: String, embCol: String,
                        m: Int, subDim: Int, k: Int, iters: Int,
                        quantScale: Double): (Seq[DataFrame], DataFrame) = {
    val parts = (0 until m).map { s =>
      val sub = vecs.select(col(idCol),
        slice(col(embCol), s * subDim + 1, subDim).as(embCol))
      val (cents, assign) = lloydRounds(sub, sub.filter(col(idCol) < k),
        idCol, embCol, iters, quantScale)
      (cents.select(col(idCol).as(s"cell_$s"), col(embCol).as(s"se_$s")),
        assign.select(col("vec_id"), col("cluster").cast("long").as(s"c_$s")))
    }
    (parts.map(_._1), parts.map(_._2).reduce(_.join(_, Seq("vec_id"))))
  }

  /** ADC scoring by lookup-table joins: per subspace a (qid, cell)
    * table of q_s·se and se·se, joined to each candidate's code;
    * `cand` carries (qid, vec_id, c_0..c_{m-1}).
    */
  def adcRank(cand: DataFrame, q: DataFrame, cents: Seq[DataFrame],
              m: Int, subDim: Int, kTop: Int): DataFrame = {
    val dists = (0 until m).map { s =>
      q.select(col("qid"), slice(col("qemb"), s * subDim + 1, subDim).as("qs"))
        .crossJoin(broadcast(cents(s)))
        .select(col("qid").as(s"qid_$s"), col(s"cell_$s"),
          GraftFunctions.dot_product(col("qs"), col(s"se_$s")).as(s"qd_$s"),
          GraftFunctions.dot_product(col(s"se_$s"), col(s"se_$s")).as(s"ns_$s"))
    }
    val qn = q.select(col("qid").as("qid_n"),
      GraftFunctions.dot_product(col("qemb"), col("qemb")).as("qn2"))
    val base = cand.join(broadcast(qn), cand("qid") === qn("qid_n")).drop("qid_n")
    val pairs = dists.zipWithIndex.foldLeft(base) {
      case (acc, (d, s)) =>
        acc.join(broadcast(d),
            acc("qid") === d(s"qid_$s") && acc(s"c_$s") === d(s"cell_$s"))
          .drop(s"qid_$s").drop(s"cell_$s")
    }
    val numer = (0 until m).map(s => col(s"qd_$s")).reduce(_ + _)
    val den2 = (0 until m).map(s => col(s"ns_$s")).reduce(_ + _)
    val adc = when(col("qn2") === 0.0 || den2 === 0.0, lit(null).cast("double"))
      .otherwise(numer / (sqrt(col("qn2")) * sqrt(den2)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc").desc, col("vec_id"))
    pairs.withColumn("adc", adc)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= kTop)
      .select(col("qid"), col("rnk"), col("vec_id"),
        (floor(col("adc") * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("adc_cos"))
  }

  /** IVFADC (raw codes): coarse Lloyd chain, PQ chains, probes by a
    * per-query window over the centroid cross join, then [[adcRank]]
    * over the probed cells' codes.
    */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, seeds: DataFrame,
                 idCol: String, embCol: String, kTop: Int, nProbe: Int,
                 m: Int, subDim: Int, k: Int, iters: Int,
                 quantScale: Double): DataFrame = {
    val (coarse, assign) = lloydRounds(corpus, seeds, idCol, embCol, iters, quantScale)
    val centroids = coarse.select(col(idCol).as("cell"), col(embCol).as("centroid"))
    val cells = assign.select(col("vec_id"), col("cluster").as("cell"))
    val (cents, codes) = pqModelSequential(corpus, idCol, embCol, m, subDim, k, iters,
      quantScale)
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qemb"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cdist").desc, col("cell"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", GraftFunctions.cosine_sim(col("qemb"), col("centroid")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select("qid", "cell")
    val cand = codes.join(cells, Seq("vec_id"))
      .join(broadcast(probes), Seq("cell"))
      .drop("cell")
    adcRank(cand, q, cents, m, subDim, kTop)
  }
}
