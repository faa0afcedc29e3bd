package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.BinaryCodes
import graft.sources.Tables

/** Binary (sign-bit) quantization + Hamming-prefiltered ANN. */
class BinaryAnnSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sf0001)

  test("sign_pack matches the per-element SQL reference") {
    // reference: bit i of word i/64 set iff v(i) > 0, built with SQL
    // HOFs (the SQL parser's shiftleft accepts a column shift amount)
    val ref = emb.selectExpr("vec_id",
      """aggregate(
        |  zip_with(embedding, sequence(0, size(embedding) - 1),
        |           (v, i) -> struct(v AS v, i AS i)),
        |  array_repeat(0L, int((size(embedding) + 63) / 64)),
        |  (acc, x) -> transform(acc, (w, wi) ->
        |    CASE WHEN x.v > 0 AND int(x.i / 64) = wi
        |         THEN w | shiftleft(1L, int(x.i % 64)) ELSE w END)
        |) AS code""".stripMargin)
    val native = emb.select(col("vec_id"),
      BinaryCodes.signPack(col("embedding")).as("code"))
    assert(ref.exceptAll(native).isEmpty && native.exceptAll(ref).isEmpty)
  }

  test("sign_pack packs non-multiple-of-64 dims into a padded last word") {
    val df = Seq((1L, Array(1.0f, -2.0f, 0.0f, 3.0f))).toDF("id", "v")
    val code = df.select(BinaryCodes.signPack(slice(col("v"), 1, 3)).as("c"))
      .as[Seq[Long]].head()
    assert(code == Seq(1L)) // only bit 0 (1.0 > 0); 0.0 packs as 0
    val full = df.select(BinaryCodes.signPack(col("v")).as("c"))
      .as[Seq[Long]].head()
    assert(full == Seq(9L)) // bits 0 and 3
  }

  test("hamming_dist equals the count of sign disagreements") {
    val pairs = emb.limit(20).select(col("vec_id").as("a_id"),
        col("embedding").as("a"))
      .crossJoin(emb.limit(20).select(col("vec_id").as("b_id"),
        col("embedding").as("b")))
    val got = pairs.select(col("a_id"), col("b_id"),
      BinaryCodes.hamming(BinaryCodes.signPack(col("a")),
        BinaryCodes.signPack(col("b"))).as("ham"))
    val want = pairs.select(col("a_id"), col("b_id"),
      aggregate(zip_with(col("a"), col("b"),
          (x, y) => when((x > 0f) =!= (y > 0f), 1L).otherwise(0L)),
        lit(0L), (acc, d) => acc + d).as("ham"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // a code is at distance 0 from itself
    assert(got.filter(col("a_id") === col("b_id") && col("ham") =!= 0L).isEmpty)
  }

  test("hamming_dist of mismatched code lengths is null, not a truncation") {
    val df = Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
    val r = df.select(BinaryCodes.hamming(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("null vector sign-packs to null") {
    val df = Seq(Tuple1(Option.empty[Array[Float]])).toDF("v")
    assert(df.select(BinaryCodes.signPack(col("v"))).head().isNullAt(0))
  }

  test("exhaustive rerank equals brute force (prefilter is lossless at full width)") {
    val n = emb.count().toInt
    val panel = emb.filter(col("vec_id") < 5)
    val got = Similarity.binaryTopK(panel, emb, k = 5, rerankFactor = n)
      .select("query_id", "rank", "neighbor_id", "cos")
    val want = Similarity.bruteForceTopK(panel, emb, k = 5)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("registered rerank width recovers >= 2 of the exact top-5 per query") {
    // measured floor at rerankFactor=16: min hits 3 (sf0.001), 2 at the
    // gate SFs — assert 2 with margin; a packing/Hamming regression that
    // tanks recall trips this while the oracle still replays faithfully
    val panel = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(panel, emb, k = 5)
      .select("query_id", "neighbor_id")
    val approx = Similarity.binaryTopK(panel, emb, k = 5, rerankFactor = 16)
      .select("query_id", "neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    val minHits = hits.agg(min("hits")).as[Long].head()
    assert(minHits >= 2, s"binary ANN recall floor broke: min hits $minHits")
  }

  test("null-code corpus rows are excluded from candidates, not ranked first") {
    // Spark's ascending default is NULLS FIRST: without the explicit
    // exclusion a null-embedding row would outrank every real candidate
    val poisoned = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((900000L, Option.empty[Array[Float]]))
        .toDF("vec_id", "embedding"))
    val got = Similarity.binaryTopK(
      poisoned.filter(col("vec_id") < 5), poisoned, k = 5, rerankFactor = 4)
    assert(got.filter(col("neighbor_id") === 900000L).isEmpty)
    val clean = Similarity.binaryTopK(
      emb.filter(col("vec_id") < 5), emb, k = 5, rerankFactor = 4)
      .select("query_id", "rank", "neighbor_id")
    val g2 = got.select("query_id", "rank", "neighbor_id")
    assert(g2.exceptAll(clean).isEmpty && clean.exceptAll(g2).isEmpty)
  }

  test("both rank stages run as bounded WindowGroupLimit heaps below the shuffle") {
    val plan = Similarity.binaryTopK(emb.filter(col("vec_id") < 5), emb, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
  }

  test("a zero-norm corpus vector never reaches the rerank ranking") {
    // all-zero embedding sign-packs to a VALID all-zero code and
    // survives the Hamming prefilter, but its cosine is NULL (0/0) —
    // a SQL replay's inf/nan would order differently, so the operator
    // excludes it before ranking rather than relying on NULLS LAST
    val dim = emb.selectExpr("size(embedding) d").limit(1).as[Int].head()
    val zero = spark.range(1).select(lit(900001L).as("vec_id"),
      array_repeat(lit(0.0f), dim).as("embedding"))
    val poisoned = emb.limit(50).select("vec_id", "embedding").unionByName(zero)
    val got = Similarity.binaryTopK(
      poisoned.filter(col("vec_id") < 5), poisoned, k = 50, rerankFactor = 16)
    assert(got.filter(col("neighbor_id") === 900001L).isEmpty,
      "zero-norm vector must be excluded from results")
    assert(got.filter(col("cos").isNull).isEmpty, "no NULL cos may rank")
  }
}
