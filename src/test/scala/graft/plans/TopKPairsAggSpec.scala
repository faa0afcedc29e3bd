package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkEntry

class TopKPairsAggSpec extends SparkSpec {
  import spark.implicits._

  test("native topk_pairs top-3 equals the window row_number form exactly") {
    val viaAgg = SparkEntry.queries("rel_topk_aggregator")(spark, sf001)
      .collect().toSeq
    val viaWindow = SparkEntry.queries("rel_window_topk")(spark, sf001)
      .collect().toSeq
    assert(viaAgg == viaWindow)
  }

  test("buffer: serialization round-trips; merge bounded; NaN and ties ordered") {
    val agg = TopKPairsAgg(
      org.apache.spark.sql.graft.bridge.expression(lit(0.0)),
      org.apache.spark.sql.graft.bridge.expression(lit(0L)), 2)
    val a = agg.createAggregationBuffer()
    Seq((5.0, 9L), (5.0, 1L), (Double.NaN, 2L)).foreach { case (s, i) => a.insert(s, i) }
    // NaN ranks above reals; score ties break by id ascending
    assert(a.ids.take(a.n).toSeq == Seq(2L, 1L))
    val b = agg.deserialize(agg.serialize(a))
    assert(b.n == a.n && b.ids.take(b.n).toSeq == a.ids.take(a.n).toSeq &&
      b.scores.take(b.n).toSeq.map(java.lang.Double.doubleToLongBits) ==
        a.scores.take(a.n).toSeq.map(java.lang.Double.doubleToLongBits))
    // merging a full buffer of better values evicts, stays bounded
    val c = agg.createAggregationBuffer()
    Seq((7.0, 4L), (6.0, 5L)).foreach { case (s, i) => c.insert(s, i) }
    val m = agg.merge(b, c)
    assert(m.n == 2 && m.ids.take(2).toSeq == Seq(2L, 4L))
  }

  test("null scores and ids are skipped, not ranked") {
    val df = Seq[(java.lang.Long, java.lang.Double, java.lang.Long)](
      (1L, 5.0, 10L), (1L, null, 11L), (1L, 9.0, null), (1L, 3.0, 12L))
      .toDF("g", "s", "i")
    val got = df.groupBy("g")
      .agg(TopKPairs(col("s"), col("i"), 2).as("topk"))
      .select(explode(col("topk.id")))
      .as[Long].collect().toSeq
    assert(got == Seq(10L, 12L))
  }
}
