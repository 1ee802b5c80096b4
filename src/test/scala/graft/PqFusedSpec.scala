package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Codebook
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Ann

/** Pins the driver-held Lloyd trainer and ADC scorer of
  * `operators.Ann` BIT-EQUAL to the DataFrame-chain reference
  * ([[AnnReference]]: one Lloyd chain per quantizer, groupBy argmax,
  * lookup-table joins) — the property that lets s03/s08–s19/s23/s27
  * keep their oracles while training runs one aggregate job per round
  * for every quantizer and scoring is one narrow map. Checked on the
  * real embeddings table and on a corpus with a duplicated vec_id and
  * a zero vector.
  */
class PqFusedSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private lazy val real = Graft.table(spark, SharedSpark.sfDir, "embeddings")
    .select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))
    .filter(size(col("embedding")) === 64)

  /** 40 vectors, a second row with vec_id 7 (same vector) and a zero
    * vector (vec_id 41): NULL cosines everywhere it is scored.
    */
  private lazy val dupZero = ((0L until 40L).map { i =>
    (i, Array.tabulate(64)(d => ((i * 7 + d * 13) % 29).toFloat / 29f))
  } ++ Seq(
    (7L, Array.tabulate(64)(d => ((7L * 7 + d * 13) % 29).toFloat / 29f)), // dup row
    (41L, Array.fill(64)(0f)))).toDF("vec_id", "embedding")

  private def entries(cb: Codebook) =
    cb.ids.indices.map(j => (cb.ids(j), Codebook.boxed(cb.vecs(j)).toList)).sortBy(_._1).toList

  private def entries(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getSeq[java.lang.Float](1).toList))
      .sortBy(_._1).toList

  private def rowSet(df: DataFrame) = df.collect().map(_.toSeq).toSet

  private def pqEqual(e: DataFrame): Unit = {
    val (cbs, codes) = Ann.pqModel(e, "vec_id", "embedding", 4, 16, 16, 2, 1e6)
    val (refCents, refCodes) = AnnReference.pqModelSequential(e, "vec_id", "embedding",
      4, 16, 16, 2, 1e6)
    assert(cbs.map(entries) == refCents.map(entries))
    // one code row per input row: a duplicated vec_id keeps both rows
    // (the reference groups them), with identical codes here
    assert(codes.count() == e.count())
    assert(rowSet(codes) == rowSet(refCodes))
  }

  test("fused == sequential on the real embeddings table") {
    pqEqual(real)
  }

  test("fused == sequential on duplicate-id and zero-vector corpora") {
    pqEqual(dupZero)
  }

  test("driver-held coarse trainer and assignment == the DataFrame Lloyd chain") {
    for ((e, nSeeds) <- Seq(real -> 16, dupZero -> 8); iters <- Seq(1, 3)) {
      val seeds = e.filter(col("vec_id") < nSeeds)
      val (coarse, assign) = Ann.lloydRounds(e, seeds, "vec_id", "embedding", iters)
      val (refCents, refAssign) = AnnReference.lloydRounds(e, seeds, "vec_id", "embedding",
        iters)
      assert(entries(coarse).distinct == entries(refCents).distinct, s"iters=$iters")
      assert(rowSet(assign) == rowSet(refAssign), s"iters=$iters")
    }
  }

  test("adc_score ranking == the DataFrame lookup-table ADC chain") {
    for ((e, kTop) <- Seq(real -> 10, dupZero -> 50)) {
      val q = e.filter(col("vec_id") < 5 || col("vec_id") === 41)
      val seeds = e.filter(col("vec_id") < 16)
      val got = Ann.ivfAdcTopK(e, q, seeds, "vec_id", "embedding",
        kTop = kTop, nProbe = 4)
      val want = AnnReference.ivfAdcTopK(e, q, seeds, "vec_id", "embedding",
        kTop, 4, 4, 16, 16, 2, 1e6)
      if (kTop == 10) assert(rowSet(got) == rowSet(want))
      else {
        // every candidate ranked: per (qid, vec_id) the same score;
        // the duplicated vec_id is scored once per row
        def scores(d: DataFrame) = d.select("qid", "vec_id", "adc_cos").distinct()
        assert(rowSet(scores(got)) == rowSet(scores(want)))
        assert(got.filter(col("adc_cos").isNull).count() > 0, "zero query must score NULL")
      }
    }
  }
}
