package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class PackingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf001)
    .select($"doc_id", TextAnalysis.tokenCount($"text").cast("long").as("tok"))

  test("two-phase scan equals the single-task global window") {
    val packed = Packing.packByBudget(docs, "doc_id", "tok", 2048)
    val got = packed.select("doc_id", "seq_id").as[(Long, Long)].collect().toMap
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = docs
      .withColumn("cum_before", sum($"tok").over(w) - $"tok")
      .select($"doc_id", ($"cum_before" / 2048).cast("long").as("seq_id"))
      .as[(Long, Long)].collect().toMap
    Intermediates.release(spark)
    assert(got == expect && got.nonEmpty)
  }

  test("result is invariant to the shuffle-partition count") {
    def run(parts: String): Map[Long, Long] = {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val p = Packing.packByBudget(docs, "doc_id", "tok", 512)
        val m = p.select("doc_id", "seq_id").as[(Long, Long)].collect().toMap
        Intermediates.release(spark); m
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
    assert(run("3") == run("17"))
  }

  test("bins start on the budget grid and are contiguous in id order") {
    val p = Packing.packByBudget(docs, "doc_id", "tok", 1024)
    val rows = p.orderBy("doc_id").as[(Long, Long, Long)].collect()
    Intermediates.release(spark)
    // seq_id is non-decreasing in doc order, and matches the grid formula
    var cum = 0L
    for ((_, tok, bin) <- rows) {
      assert(bin == cum / 1024)
      cum += tok
    }
    assert(rows.map(_._3).distinct.length == rows.map(_._3).max + 1)
  }
}
