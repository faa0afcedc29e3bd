package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VectorDotSpec extends SparkSpec {
  import spark.implicits._

  test("vector_dot matches the interpreted fold bit-for-bit") {
    val emb = graft.sources.Tables.embeddings(spark, sf001).limit(100)
    val fold = emb.select(
      aggregate(zip_with($"embedding", $"embedding",
        (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("d")).as[Double].collect()
    val native = emb.select(VectorDot($"embedding", $"embedding").as("d"))
      .as[Double].collect()
    assert(fold.toSeq == native.toSeq) // exact, not approximate
  }

  test("mixed float/double arrays, known values") {
    val got = Seq((Array(1f, 2f, 3f), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b").select(VectorDot($"a", $"b")).as[Double].head()
    assert(got == 32.0)
    val dd = Seq((Array(1.0, 2.0), Array(3.0, 4.0)))
      .toDF("a", "b").select(VectorDot($"a", $"b")).as[Double].head()
    assert(dd == 11.0)
  }

  test("length mismatch and null elements yield null (zip_with parity)") {
    val mismatch = Seq((Array(1f, 2f), Array(1f, 2f, 3f)))
      .toDF("a", "b").select(VectorDot($"a", $"b")).collect()
    assert(mismatch.head.isNullAt(0))
    val withNull = Seq((Seq(Some(1f), None), Seq(Some(1f), Some(2f))))
      .toDF("a", "b")
      .select(VectorDot($"a".cast("array<float>"), $"b".cast("array<float>")))
      .collect()
    assert(withNull.head.isNullAt(0))
  }

  test("codegen path executes (no fallback) inside a projection") {
    // force a plan where the expression sits in a codegen'd stage and
    // compare against the interpreted result
    val df = graft.sources.Tables.embeddings(spark, sf001)
      .select($"vec_id", VectorDot($"embedding", $"embedding").as("d2"))
      .filter($"d2" > 0)
    assert(df.count() > 0)
    val hasCodegen = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegen,
      s"expected codegen in:\n${df.queryExecution.executedPlan}")
  }
}
