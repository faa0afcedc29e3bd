package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SortedMergeExprsSpec extends SparkSpec {
  import spark.implicits._

  // deterministic random sorted-long-array corpus (fixed seed)
  private def randomSortedArrays(n: Int, maxLen: Int, keySpace: Long)
      : Seq[Array[Long]] = {
    val rnd = new scala.util.Random(42)
    (1 to n).map { _ =>
      Array.fill(rnd.nextInt(maxLen + 1))(rnd.nextLong() % keySpace)
        .map(math.abs).distinct.sorted
    }
  }

  test("sorted_overlap == size(array_intersect) on random sorted arrays") {
    val arrs = randomSortedArrays(200, 40, 64) // small key space → overlaps
    val df = arrs.zip(arrs.reverse).toDF("a", "b")
    val got = df.select(
      SortedLongOverlap($"a", $"b").as("m"),
      size(array_intersect($"a", $"b")).as("ref")).collect()
    assert(got.forall(r => r.getInt(0) == r.getInt(1)))
    assert(got.exists(_.getInt(0) > 0), "key space chosen to yield overlaps")
  }

  test("sorted_overlap: duplicates count once; empty and null inputs") {
    val one = Seq((Array(1L, 1L, 2L, 5L, 5L, 5L), Array(1L, 5L, 5L, 9L)))
      .toDF("a", "b")
    assert(one.select(SortedLongOverlap($"a", $"b")).as[Int].head() == 2)
    val known = Seq((Array(1L, 3L, 7L), Array(3L, 7L, 8L))).toDF("a", "b")
    assert(known.select(SortedLongOverlap($"a", $"b")).as[Int].head() == 2)
    val empty = Seq((Array.empty[Long], Array(1L, 2L))).toDF("a", "b")
    assert(empty.select(SortedLongOverlap($"a", $"b")).as[Int].head() == 0)
    val nullIn = Seq((None: Option[Array[Long]], Some(Array(1L))))
      .toDF("a", "b")
    assert(nullIn.select(SortedLongOverlap($"a", $"b")).collect().head.isNullAt(0))
  }

  test("sorted_overlap: nulls interleaved inside an equal run count once") {
    // engine-built arrays are null-free, but the tolerant loops must
    // still honour the contract: the run-skip steps over interior nulls
    // or array(5, null, 5) x array(5, null, 5) would count 5 twice
    val rows = Seq(
      (Seq(Some(5L), None, Some(5L)), Seq(Some(5L), None, Some(5L)), 1),
      (Seq(None, Some(2L), Some(2L)), Seq(Some(2L), None), 1),
      (Seq(Some(1L), None, Some(3L)), Seq(Some(1L), Some(3L)), 2))
    rows.foreach { case (a, b, want) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(SortedLongOverlap(
          $"a".cast("array<bigint>"), $"b".cast("array<bigint>")))
        .as[Int].head()
      assert(got == want, s"$a x $b")
    }
  }

  test("sorted_dot matches the map-probe fold on random tf vectors") {
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 150).map { _ =>
      val terms = Array.fill(rnd.nextInt(30) + 1)(rnd.nextInt(48).toLong)
        .distinct.sorted
      (terms, terms.map(_ => rnd.nextInt(5).toLong + 1))
    }
    val df = vecs.zip(vecs.reverse).map { case ((ta, fa), (tb, fb)) =>
      (ta, fa, tb, fb)
    }.toDF("ta", "fa", "tb", "fb")
    val ref = aggregate(
      map_entries(map_from_arrays($"ta", $"fa")), lit(0L),
      (acc, e) => acc +
        e("value") * coalesce(element_at(map_from_arrays($"tb", $"fb"),
          e("key")), lit(0L)))
    val got = df.select(
      SortedTermDot($"ta", $"fa", $"tb", $"fb").as("m"), ref.as("r")).collect()
    assert(got.forall(r => r.getLong(0) == r.getLong(1)))
    assert(got.exists(_.getLong(0) > 0), "key space chosen to yield overlap")
  }

  test("sorted_dot: disjoint terms → 0; parallel-length mismatch → null") {
    val d = Seq((Array(1L, 2L), Array(3L, 4L), Array(5L, 6L), Array(7L, 8L)))
      .toDF("ta", "fa", "tb", "fb")
    assert(d.select(SortedTermDot($"ta", $"fa", $"tb", $"fb"))
      .as[Long].head() == 0L)
    val known = Seq((Array(1L, 3L), Array(2L, 5L), Array(3L, 4L), Array(10L, 1L)))
      .toDF("ta", "fa", "tb", "fb")
    assert(known.select(SortedTermDot($"ta", $"fa", $"tb", $"fb"))
      .as[Long].head() == 50L) // shared term 3: 5 * 10
    val bad = Seq((Array(1L, 2L), Array(3L), Array(1L), Array(7L)))
      .toDF("ta", "fa", "tb", "fb")
    assert(bad.select(SortedTermDot($"ta", $"fa", $"tb", $"fb"))
      .collect().head.isNullAt(0))
  }

  test("suffix_sq_mass: backward cumulative squares, empty array") {
    val got = Seq(Array(3L, 1L, 2L)).toDF("tfs")
      .select(SuffixSqMass($"tfs")).as[Seq[Long]].head()
    assert(got == Seq(14L, 5L, 4L)) // 9+1+4, 1+4, 4
    assert(Seq(Array(1L, 2L)).toDF("tfs")
      .select(SuffixSqMass($"tfs")).as[Seq[Long]].head() == Seq(5L, 4L))
    val empty = Seq(Array.empty[Long]).toDF("tfs")
      .select(SuffixSqMass($"tfs")).as[Seq[Long]].head()
    assert(empty.isEmpty)
  }

  test("interpreted eval matches codegen (expressions evaluate off-plan)") {
    // direct eval() exercises nullSafeEval, the non-codegen path the
    // optimizer uses for constant folding
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    def arr(xs: Long*) = Literal.create(new GenericArrayData(xs.toArray),
      ArrayType(LongType, containsNull = false))
    assert(SortedLongOverlap(arr(1L, 2L, 9L), arr(2L, 9L, 11L))
      .eval(null) == 2)
    assert(SortedTermDot(arr(1L, 4L), arr(2L, 3L), arr(4L, 8L), arr(5L, 1L))
      .eval(null) == 15L)
    assert(SuffixSqMass(arr(2L, 3L)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray.toSeq == Seq(13L, 9L))
    // duplicates are legal for the overlap and count once
    assert(SortedLongOverlap(arr(2L, 2L, 5L), arr(2L, 5L)).eval(null) == 2)
    // a null tf makes its key invisible to the merge
    val keysWithNullTf = Literal.create(
      new GenericArrayData(Array[Any](5L, 2L, 7L)),
      ArrayType(LongType, containsNull = true))
    val tfsWithNull = Literal.create(
      new GenericArrayData(Array[Any](1L, null, 2L)),
      ArrayType(LongType, containsNull = true))
    assert(SortedTermDot(keysWithNullTf, tfsWithNull, arr(5L, 7L), arr(3L, 4L))
      .eval(null) == 11L)
  }

  test("containsNull=false codegen specialization matches the tolerant path") {
    // the same null-free parquet data compiled through BOTH shapes —
    // read once with element-required schema (no null branches
    // compiled) and once with the tolerant containsNull=true schema —
    // must agree for overlap and dot. (A cast between the two array
    // shapes would be removed by SimplifyCasts, so the two-schema read
    // is the only way to pin both compilations.)
    import org.apache.spark.sql.types._
    val arrs = randomSortedArrays(150, 30, 40)
    val dir = tmpDir("smxs")
    arrs.zip(arrs.reverse).zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    def schema(cn: Boolean) = StructType(Seq(
      StructField("id", IntegerType),
      StructField("a", ArrayType(LongType, containsNull = cn)),
      StructField("b", ArrayType(LongType, containsNull = cn))))
    def results(cn: Boolean): Map[Int, (Int, Long)] =
      spark.read.schema(schema(cn)).parquet(dir).select(
        $"id",
        SortedLongOverlap($"a", $"b").as("o"),
        SortedTermDot($"a", $"a", $"b", $"b").as("d"))
        .collect().map(r => r.getInt(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val strict = results(cn = false)
    val tolerant = results(cn = true)
    assert(strict == tolerant)
    assert(strict.values.exists(_._1 > 0) && strict.values.exists(_._2 > 0L))
    // a local relation can be constant-folded through the INTERPRETED
    // eval (ConvertToLocalRelation); a file scan runs the compiled
    // doGenCode under whole-stage codegen
    val one = tmpDir("smx")
    Seq((Array(1L, 2L), Array(2L, 9L))).toDF("a", "b")
      .write.mode("overwrite").parquet(one)
    val scan = spark.read.parquet(one).select(SortedLongOverlap($"a", $"b"))
    assert(scan.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    assert(scan.as[Int].head() == 1)
  }
}
