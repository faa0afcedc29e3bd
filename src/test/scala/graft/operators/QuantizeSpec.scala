package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  test("int8 codes bounded, zero vector safe, residuals within half a step") {
    val emb = graft.sources.Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding")
      .union(Seq((-1L, Array.fill(64)(0f))).toDF("vec_id", "embedding"))
    val checked = emb.select(
      $"vec_id",
      Quantize.int8Scale($"embedding").as("s"),
      array_max(transform(Quantize.int8Codes($"embedding"), c => abs(c))).as("max_code"),
      array_max(Quantize.int8Error($"embedding")).as("max_err"))
    val bad = checked.filter(
      $"max_code" > 127 ||
        // |v - q·s| ≤ s/2 everywhere (round-half-away guarantee)
        ($"s" > 0 && $"max_err" > $"s" / 2 + lit(1e-12)) ||
        // zero vector: scale 0, all codes 0, zero error
        ($"s" === 0 && ($"max_code" =!= 0 || $"max_err" =!= 0.0)))
    assert(bad.count() == 0)
    // the zero vector actually took the s=0 path
    assert(checked.filter($"vec_id" === -1L && $"s" === 0).count() == 1)
  }

  test("native int8 struct is bit-identical to the Column reference forms") {
    val emb = graft.sources.Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding")
      .union(Seq((-1L, Array.fill(64)(0f))).toDF("vec_id", "embedding"))
    val mismatched = emb.select($"vec_id",
        Quantize.int8($"embedding").as("q"),
        Quantize.int8Scale($"embedding").as("s"),
        Quantize.int8Codes($"embedding").as("codes"),
        Quantize.int8Error($"embedding").as("errs"))
      .filter(!(
        $"q.scale" <=> $"s" &&
        $"q.codes" <=> $"codes" &&
        $"q.qnorm" <=> sqrt(graft.plans.VectorDot($"codes", $"codes")) &&
        $"q.q_sum" <=> aggregate($"codes", lit(0L), (a, c) => a + c) &&
        $"q.q_l1" <=> aggregate($"codes", lit(0L), (a, c) => a + abs(c)) &&
        $"q.max_err" <=> array_max($"errs")))
      .count()
    assert(mismatched == 0)
    // null input → null struct
    assert(Seq(Option.empty[Seq[Float]]).toDF("v")
      .select(graft.operators.Quantize.int8($"v")).collect()(0).isNullAt(0))
    // scale 2/127 → codes (64, -127): 63.5 rounds away to 64
    assert(Seq(Array(1.0f, -2.0f)).toDF("v")
      .select(graft.operators.Quantize.int8($"v")("q_l1")).as[Long].head() == 191L)
  }

  test("quantized cosine approximates fp32 cosine (compression sanity)") {
    val emb = graft.sources.Tables.embeddings(spark, sf001).limit(200)
    val q = emb.select($"vec_id",
      Quantize.int8Scale($"embedding").as("s"),
      Quantize.int8Codes($"embedding").as("codes"),
      $"embedding")
      .withColumn("deq", transform($"codes", c => c.cast("double") * $"s"))
    val drift = q.select(
      abs(Similarity.cosine($"embedding", $"embedding") -
        Similarity.cosine($"deq", $"embedding")).as("d"))
      .agg(max("d")).as[Double].head()
    assert(drift < 0.01, s"cosine drift $drift after int8 round-trip")
  }
}
