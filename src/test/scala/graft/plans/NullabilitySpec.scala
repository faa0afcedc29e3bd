package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.SparkSpec

/** `Nullability.knownNotNull` (private[graft] since r17 — the
  * UB-capable assertion is off the public bridge) really flips the
  * STATIC nullability the codegen specializations key on — a
  * column-level assertion and a transform-lambda element assertion both
  * surface in the schema.
  */
class NullabilitySpec extends SparkSpec {
  import spark.implicits._

  test("knownNotNull flips static nullability at column and array-element level") {
    val df = Seq((Seq(1L, 2L), Seq(3L, 4L))).toDF("a", "b")
      .select(arrays_zip(col("a"), col("b")).as("z"))
    // transform over a zip: the analyzer cannot prove elements non-null…
    val plain = df.select(transform(col("z"), x => x("a")).as("v"))
    assert(plain.schema("v").dataType.asInstanceOf[ArrayType].containsNull)
    // …the assertion can (the CosinePairs vterms/vtfs pattern)
    val asserted = df.select(
      transform(col("z"), x => Nullability.knownNotNull(x("a"))).as("v"))
    assert(!asserted.schema("v").dataType.asInstanceOf[ArrayType].containsNull)
    // and values are untouched where the assertion holds
    assert(asserted.as[Seq[Long]].head() == Seq(1L, 2L))
    // column-level: a nullable column becomes statically non-nullable
    val colLevel = Seq(Some(5L)).toDF("x")
      .select(Nullability.knownNotNull(col("x")).as("x"))
    assert(!colLevel.schema("x").nullable)
    assert(colLevel.as[Long].head() == 5L)
  }
}
