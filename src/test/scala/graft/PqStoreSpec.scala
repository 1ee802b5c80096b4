package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Ann

/** Pins the persisted PQ model store (Ann.writePqModel /
  * pqEncodeStored — the d29 pattern applied to vectors): encoding
  * against the STORED codebooks equals the in-memory frozen-codebook
  * form bit-for-bit, the encode plan is train-free (the stored
  * codebooks ride in a narrow encode map, no Lloyd machinery), and the
  * sampled-training contract — codebooks trained on a strict subset
  * encode the full corpus — holds, which is what bounds training cost
  * at 100 TB.
  */
class PqStoreSpec extends AnyFunSuite {
  import SharedSpark.{sfDir, spark}

  private lazy val emb = Graft.table(spark, sfDir, "embeddings")
    .filter(size(col("embedding")) === 64)
    .select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))

  private def codeRows(d: org.apache.spark.sql.DataFrame) =
    d.orderBy("vec_id").collect().map(_.toSeq).toSeq

  test("stored-codebook encode == in-memory frozen-codebook encode; plan is train-free") {
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("pqstore").toString
    Ann.writePqModel(corpus, "vec_id", "embedding", "pqs_spec",
      m = 4, subDim = 16, k = 16, iters = 2, buckets = 4, path = Some(dir))
    spark.catalog.clearCache()
    val stored = Ann.pqEncodeStored(batch, "vec_id", "embedding", "pqs_spec")
    // train-free plan: the stored codebooks are read at plan time and
    // the encode is one narrow nearest_centroid map over the batch —
    // no Lloyd aggregate, no exchange, no scanned RDD.
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("nearest_centroid"), s"narrow encode missing:\n$plan")
    Seq("lloyd_step", "Exchange", "Scan ExistingRDD").foreach(remnant =>
      assert(!plan.contains(remnant), s"$remnant in encode plan:\n$plan"))
    // value contract: identical to training-then-encoding in memory
    // (s13's certified path) with the same parameters
    val inMem = Ann.pqEncodeAgainst(corpus, batch, "vec_id", "embedding",
      m = 4, subDim = 16, k = 16, iters = 2)
    assert(codeRows(stored) == codeRows(inMem))
    spark.catalog.clearCache()
  }

  test("stored serving: ADC and IVFADC from tables == in-query forms; plans train-free") {
    val q = emb.filter(col("vec_id") < 5)
    val seeds = emb.filter(col("vec_id") < 16)
    val dir = java.nio.file.Files.createTempDirectory("pqserve").toString
    Ann.writePqModel(emb, "vec_id", "embedding", "pqs_serve",
      m = 4, subDim = 16, k = 16, iters = 2, buckets = 4, path = Some(s"$dir/pq"))
    Ann.writeIvfAdcIndex(emb, seeds, "vec_id", "embedding", "pqs_ivf",
      m = 4, subDim = 16, k = 16, iters = 2, buckets = 4, path = Some(s"$dir/ivf"))
    spark.catalog.clearCache()
    val servedAdc = Ann.pqAdcTopKStored(q, "vec_id", "embedding", "pqs_serve")
    val servedIvf = Ann.ivfAdcTopKStored(q, "vec_id", "embedding", "pqs_ivf",
      kTop = 10, nProbe = 4)
    // serving plans read the stored tables and contain no Lloyd
    // remnant (a training chain would scan checkpointed RDDs)
    Seq("pqs_serve" -> servedAdc, "pqs_ivf" -> servedIvf).foreach {
      case (prefix, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Scan ExistingRDD"),
          s"Lloyd remnant in $prefix serving plan:\n$plan")
        assert(plan.contains(s"${prefix}_codes"), s"stored code scan missing ($prefix)")
    }
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    assert(rows(servedAdc) ==
      rows(Ann.pqAdcTopK(emb, q, "vec_id", "embedding", kTop = 10)))
    assert(rows(servedIvf) ==
      rows(Ann.ivfAdcTopK(emb, q, seeds, "vec_id", "embedding",
        kTop = 10, nProbe = 4)))
    spark.catalog.clearCache()
  }

  test("stored IVFADC probe prunes code buckets AT the scan (SelectedBucketsCount)") {
    // One query, nProbe=1 → exactly one probed cell. The probed-cell
    // set is pushed as a literal In on the bucket column, so the
    // codes scan must read at most 1 of the 4 buckets — the FAISS
    // inverted-list read, not a full scan filtered afterwards.
    val seeds = emb.filter(col("vec_id") < 16)
    val dir = java.nio.file.Files.createTempDirectory("pqprune").toString
    Ann.writeIvfAdcIndex(emb, seeds, "vec_id", "embedding", "pqs_prune",
      m = 4, subDim = 16, k = 16, iters = 2, buckets = 4, path = Some(dir))
    spark.catalog.clearCache()
    val q1 = emb.filter(col("vec_id") === 0)
    val served = Ann.ivfAdcTopKStored(q1, "vec_id", "embedding", "pqs_prune",
      kTop = 5, nProbe = 1)
    val plan = served.queryExecution.executedPlan.toString
    val picks = """SelectedBucketsCount: (\d+) out of (\d+)""".r
      .findAllMatchIn(plan).map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    assert(picks.exists { case (sel, tot) => tot == 4 && sel <= 1 },
      s"codes scan not bucket-pruned (picks=$picks):\n$plan")
    assert(served.count() > 0)
    spark.catalog.clearCache()
  }

  test("sampled training: codebooks from a strict subset encode the FULL corpus") {
    // the training-cost contract: at corpus scale codebooks
    // train on a sample (standard PQ practice) and the corpus-sized
    // work is only the frozen-codebook encode pass
    val sample = emb.filter(pmod(col("vec_id"), lit(2)) === 0) // half
    val dir = java.nio.file.Files.createTempDirectory("pqsample").toString
    Ann.writePqModel(sample, "vec_id", "embedding", "pqs_sample",
      m = 4, subDim = 16, k = 16, iters = 2, buckets = 4, path = Some(dir))
    spark.catalog.clearCache()
    val codes = Ann.pqEncodeStored(emb, "vec_id", "embedding", "pqs_sample")
    val rows = codes.collect()
    assert(rows.length == emb.count())
    // every code addresses a trained cell
    val cells = spark.table("pqs_sample_codebooks").select("cell")
      .collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      (1 to 4).foreach(i => assert(cells.contains(r.getLong(i)), r.toString))
    }
    spark.catalog.clearCache()
  }
}
