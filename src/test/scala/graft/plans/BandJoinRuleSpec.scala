package graft.plans

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class BandJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def sides = {
    val ev = Tables.events(spark, sf001)
    (ev.filter($"event_type" === "error")
      .select($"event_id".as("err_id"), $"user_id".as("err_user"), $"ts".as("err_ts")),
      ev.filter($"event_type" === "click")
        .select($"event_id".as("clk_id"), $"user_id".as("clk_user"), $"ts".as("clk_ts")))
  }

  private def naive(withKeys: Boolean) = {
    val (l, r) = sides
    val band = $"clk_ts" >= $"err_ts" + expr("INTERVAL 1 SECOND") &&
      $"clk_ts" <= $"err_ts" + expr("INTERVAL 10 MINUTES")
    l.join(r, if (withKeys) $"err_user" === $"clk_user" && band else band)
  }

  private def hasNestedLoop(df: org.apache.spark.sql.DataFrame): Boolean = {
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case b: BroadcastNestedLoopJoinExec => b }.nonEmpty
  }

  test("naive interval predicate is rewritten to a bucketed equi join") {
    // without the rule a keyless band join is a broadcast nested loop;
    // with it, the bucket equality becomes a hash-join key
    assert(!hasNestedLoop(naive(withKeys = false)))
    assert(!hasNestedLoop(naive(withKeys = true)))
  }

  test("rewritten join returns exactly the naive results") {
    val got = naive(withKeys = true)
      .select("err_id", "clk_id").as[(Long, Long)].collect().toSet
    // the reference runs with the rule taken out of the session, so
    // Spark plans the band join untouched
    val expect = {
      val extra = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = extra.filterNot(_ == BandJoinRule)
      try {
        assert(hasNestedLoop(naive(withKeys = false)))
        naive(withKeys = true)
          .select("err_id", "clk_id").as[(Long, Long)].collect().toSet
      } finally spark.experimental.extraOptimizations = extra
    }
    assert(got == expect && expect.nonEmpty)
  }

  test("rewrite also fires for numeric (non-timestamp) bands") {
    val l = Seq((1L, 100L), (2L, 250L)).toDF("lid", "lv")
    val r = Seq((10L, 104L), (11L, 120L), (12L, 260L)).toDF("rid", "rv")
    val joined = l.join(r, $"rv" >= $"lv" + lit(1L) && $"rv" <= $"lv" + lit(20L))
    assert(!hasNestedLoop(joined))
    assert(joined.select("lid", "rid").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (1L, 11L), (2L, 12L)))
  }
}
