package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.{PqAdc, PqEncode, PqLut}
import graft.sources.Tables

/** Product quantization: encode argmin semantics, ADC/LUT bit-parity
  * with a driver-side replay, codebook learning convergence, and the
  * exhaustive-probing equivalence that backs the oracle row.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf001).cache()

  // hand-checkable codebook: 4-dim vectors, m=2 subspaces of 2 dims,
  // ksub=2 entries per subspace
  private val cbSmall: Array[Array[Array[Double]]] = Array(
    Array(Array(0.0, 0.0), Array(10.0, 10.0)), // subspace 0
    Array(Array(1.0, -1.0), Array(5.0, 5.0))) // subspace 1

  test("pq_encode: per-subspace L2 argmin, ties to the lowest code") {
    val df = Seq(
      Array(1f, 1f, 0f, 0f), // sub0 near (0,0) → 0; sub1 nearer (1,-1) → 0
      Array(9f, 9f, 4f, 4f), // sub0 near (10,10) → 1; sub1 near (5,5) → 1
      Array(5f, 5f, 3f, 2f) // sub0 EQUIDISTANT (d²=50 both) → tie → 0
    ).toDF("v")
    val got = df.select(PqEncode($"v", cbSmall)).as[Seq[Int]].collect()
    assert(got(0) == Seq(0, 0))
    assert(got(1) == Seq(1, 1))
    assert(got(2)(0) == 0, "L2 tie must break to the lowest code index")
  }

  test("pq_encode: null element → null codes; wrong dim fails loudly") {
    val withNull = Seq(Seq(Some(1f), None, Some(0f), Some(0f))).toDF("v")
    assert(withNull.select(PqEncode($"v", cbSmall)).collect().head.isNullAt(0))
    val bad = Seq(Array(1f, 2f)).toDF("v")
    val e = intercept[Exception](bad.select(PqEncode($"v", cbSmall)).collect())
    assert(e.getMessage.contains("dim"))
  }

  test("ADC dot == dot(query, reconstruction), bit-exact in subspace order") {
    val rows = emb.limit(50).select($"vec_id", $"embedding").collect()
    val cb = Similarity.pqCodebooks(emb, dim = 64, m = 8, ksub = 16, iters = 1)
    val q = rows.head.getSeq[Float](1).map(_.toDouble).toArray
    val scored = emb.limit(50)
      .withColumn("codes", PqEncode($"embedding", cb))
      .withColumn("adc", PqAdc(PqLut(typedlit(q.toSeq), cb), $"codes"))
      .select($"vec_id", $"codes", $"adc")
      .as[(Long, Seq[Int], Double)].collect()
    scored.foreach { case (_, codes, adc) =>
      // driver replay: Σ_j dot(q_sub_j, cb[j][codes[j]]), j ascending —
      // the exact accumulation order both kernels use
      var expect = 0.0
      for (j <- 0 until 8) {
        val entry = cb(j)(codes(j))
        var acc = 0.0
        for (i <- 0 until 8) acc += q(j * 8 + i) * entry(i)
        expect += acc
      }
      assert(adc == expect, s"ADC mismatch: $adc vs $expect")
    }
    // lut = [[1,2],[10,20]] flattened (m=2, ksub=2); codes [1,0] →
    // lut[0*2+1] + lut[1*2+0] = 2 + 10
    val hand = Seq((Array(1.0, 2.0, 10.0, 20.0), Array(1, 0))).toDF("lut", "codes")
      .select(PqAdc($"lut", $"codes")).as[Double].head()
    assert(hand == 12.0)
  }

  test("constant norm-LUT fold reproduces the reconstruction norm") {
    val cb = Similarity.pqCodebooks(emb, dim = 64, m = 8, ksub = 16, iters = 1)
    val normLut = typedlit(cb.flatMap(_.map(_.map(x => x * x).sum)).toSeq)
    val got = emb.limit(20)
      .withColumn("codes", PqEncode($"embedding", cb))
      .withColumn("rn", sqrt(PqAdc(normLut, $"codes")))
      .select($"codes", $"rn").as[(Seq[Int], Double)].collect()
    got.foreach { case (codes, rn) =>
      val rec = (0 until 8).flatMap(j => cb(j)(codes(j)))
      val expect = math.sqrt(rec.map(x => x * x).sum)
      assert(math.abs(rn - expect) < 1e-12)
    }
  }

  test("Lloyd's rounds shrink mean reconstruction error; codebooks deterministic") {
    def mse(cb: Array[Array[Array[Double]]]): Double = {
      val normLut = typedlit(cb.flatMap(_.map(_.map(x => x * x).sum)).toSeq)
      emb.limit(500)
        .withColumn("codes", PqEncode($"embedding", cb))
        // ‖x − x̂‖² = ‖x‖² − 2·dot(x, x̂) + ‖x̂‖²; dot(x, x̂) is ADC
        // against the row's own LUT
        .withColumn("err2",
          Similarity.dot($"embedding", $"embedding")
            - lit(2.0) * PqAdc(PqLut($"embedding", cb), $"codes")
            + PqAdc(normLut, $"codes"))
        .agg(avg($"err2")).as[Double].head()
    }
    val cb0 = Similarity.pqCodebooks(emb, dim = 64, m = 8, ksub = 16, iters = 0)
    val cb2 = Similarity.pqCodebooks(emb, dim = 64, m = 8, ksub = 16, iters = 2)
    assert(mse(cb2) <= mse(cb0),
      "two Lloyd's rounds must not increase reconstruction error")
    // bit-identical relearn: deterministic init + exact-decimal means
    val cb2b = Similarity.pqCodebooks(emb, dim = 64, m = 8, ksub = 16, iters = 2)
    assert(cb2.flatten.flatten.toSeq == cb2b.flatten.flatten.toSeq)
  }

  test("exhaustive probing + corpus-covering shortlist == brute force") {
    val panel = emb.filter($"vec_id" < 10)
    val cb = Similarity.pqCodebooks(emb, dim = 64, m = 8, ksub = 16, iters = 2)
    val exact = Similarity.bruteForceTopK(panel, emb, k = 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val pq = Similarity.ivfPqTopK(panel, emb,
      Similarity.centroids(emb, "label"), cb, k = 5, nprobe = 10,
      rerankFactor = 4000)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(pq == exact)
  }

  test("pruned probing recall floor: every query recovers >= 2 of exact top-5") {
    val panel = emb.filter($"vec_id" < 10)
    val cb = Similarity.pqCodebooks(emb, dim = 64, m = 8, ksub = 16, iters = 2)
    val exact = Similarity.bruteForceTopK(panel, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // measured floor (parameter sweep, sf0.01 + sf0.1): ksub=16/nprobe=6/
    // rerank=16 is the cheapest config whose min hits reaches 2 at BOTH
    // gate SFs on the Gaussian testdata — the worst case for PQ, as the
    // near-zero cosine gaps between true neighbors and the pack are
    // smaller than one quantization cell
    val approx = Similarity.ivfPqTopK(panel, emb,
      Similarity.centroids(emb, "label"), cb, k = 5, nprobe = 6,
      rerankFactor = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    exact.foreach { case (qid, ex) =>
      val hits = (ex & approx.getOrElse(qid, Set.empty)).size
      assert(hits >= 2, s"query $qid recovered only $hits of exact top-5")
    }
  }
}
