package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order layout: Morton interleave correctness, bucket clamping,
  * near-equal file cuts, and the actual pruning win (z-curve files span
  * less of each dimension than a single-column sort does).
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue matches a reference bit-interleave on the full 4-bit grid") {
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
      }
    val grid = for { a <- 0L until 16L; b <- 0L until 16L } yield (a, b)
    val got = grid.toDF("a", "b")
      .select($"a", $"b", Layout.zValue($"a", $"b", bits = 4).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z == ref(a, b, 4), s"($a,$b)") }
    // the curve is a bijection on the grid
    assert(got.map(_._3).distinct.length == 256)
  }

  test("zValue rejects out-of-range inputs loudly") {
    val e = intercept[Exception] {
      Seq((16L, 0L)).toDF("a", "b")
        .select(Layout.zValue($"a", $"b", bits = 4)).collect()
    }
    assert(e.getMessage.contains("z_value") ||
      (e.getCause != null && e.getCause.getMessage.contains("z_value")))
  }

  test("bucketize clamps both edges and hits interior buckets exactly") {
    val rows = Seq(-5.0, 0.0, 0.49, 0.5, 0.999, 1.0, 7.0).toDF("x")
      .select(Layout.bucketize($"x", 0.0, 1.0, bits = 2).as("b"))
      .as[Long].collect().toSeq
    assert(rows == Seq(0L, 0L, 1L, 2L, 3L, 3L, 3L))
  }

  test("zorderFiles cuts near-equal files and is partitioning-independent") {
    val docs = graft.sources.Tables.documents(spark, sf001)
      .withColumn("qb", Layout.bucketize(
        TextAnalysis.qualityScore($"text"), 0.0, 1.0, bits = 4))
      .withColumn("lb", Layout.bucketize($"n_chars", 0.0, 1024.0, bits = 4))
    val z = Layout.zValue($"qb", $"lb", bits = 4)
    val laid = Layout.zorderFiles(docs, z, $"doc_id", nFiles = 8)
    val sizes = laid.groupBy("file_id").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    val total = sizes.values.sum
    assert(sizes.keySet == (0 until 8).toSet)
    sizes.values.foreach(n => assert(math.abs(n - total / 8.0) <= 1.0, sizes))
    // independence: a different input partitioning yields the same labels
    val laid2 = Layout.zorderFiles(
      docs.repartition(7), z, $"doc_id", nFiles = 8)
    val a = laid.select("doc_id", "file_id")
    val b = laid2.select("doc_id", "file_id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    Intermediates.release(spark)
  }

  test("z-order files span less of the off-sort dimension than a 1-D sort") {
    val docs = graft.sources.Tables.documents(spark, sf001)
      .withColumn("qb", Layout.bucketize(
        TextAnalysis.qualityScore($"text"), 0.0, 1.0, bits = 4))
      .withColumn("lb", Layout.bucketize($"n_chars", 0.0, 1024.0, bits = 4))
    def meanQSpan(laid: org.apache.spark.sql.DataFrame): Double = {
      val spans = Layout.fileSpans(laid, Seq("q" -> $"qb"))
        .select(($"max_q" - $"min_q").cast("double")).as[Double].collect()
      spans.sum / spans.length
    }
    val byZ = Layout.zorderFiles(docs,
      Layout.zValue($"qb", $"lb", bits = 4), $"doc_id", nFiles = 8)
    val byLen = Layout.zorderFiles(docs, $"lb", $"doc_id", nFiles = 8)
    val (zSpan, lenSpan) = (meanQSpan(byZ), meanQSpan(byLen))
    // sorting by length alone leaves each file spanning most of the
    // quality range; the curve must narrow it
    assert(zSpan < lenSpan, s"z-order mean q-span $zSpan vs 1-D sort $lenSpan")
  }
}
