package graft.operators

import graft.SparkSpec

/** PageRank against a Scala reference implementation of the same
  * recurrence, plus structural invariants (mass conservation, cycle
  * symmetry, dangling redistribution).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference recurrence, same arithmetic as the operator. */
  private def ref(edges: Seq[(Long, Long)], nodes: Seq[Long], iters: Int,
                  d: Double = 0.85): Map[Long, Double] = {
    val n = nodes.size
    val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val m = nodes.filter(v => !deg.contains(v)).map(r).sum
      val in = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = nodes.map(v =>
        v -> ((1 - d) / n + d * (in.getOrElse(v, 0.0) + m / n))).toMap
    }
    r
  }

  test("3-cycle stays uniform at 1/3") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", iters = 3)
      .as[(Long, Double)].collect().toMap
    got.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("dangling node redistributes mass; matches the reference recurrence") {
    val e = Seq((1L, 2L), (3L, 2L), (2L, 4L)) // 4 is dangling
    val nodes = Seq(1L, 2L, 3L, 4L)
    val expect = ref(e, nodes, iters = 3)
    val got = Graph.pageRank(e.toDF("src", "dst"), "src", "dst", iters = 3,
      nodes = Some(nodes.toDF("id")))
      .as[(Long, Double)].collect().toMap
    nodes.foreach(v =>
      assert(math.abs(got(v) - expect(v)) < 1e-12, s"node $v: ${got(v)} vs ${expect(v)}"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9) // mass conserved
  }

  test("hub gains rank over leaves; reference parity on an asymmetric graph") {
    val e = Seq((1L, 9L), (2L, 9L), (3L, 9L), (9L, 1L))
    val nodes = Seq(1L, 2L, 3L, 9L)
    val expect = ref(e, nodes, iters = 5)
    val got = Graph.pageRank(e.toDF("src", "dst"), "src", "dst", iters = 5,
      nodes = Some(nodes.toDF("id")))
      .as[(Long, Double)].collect().toMap
    assert(got(9L) == got.values.max)
    nodes.foreach(v => assert(math.abs(got(v) - expect(v)) < 1e-12))
  }

  test("nodesCount hint skips the |V| count job; ranks identical") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // unhinted CONSTRUCTION runs the |V| count (1+ jobs — AQE may
      // stage it); 3 iters < itersPerCut, so no cut jobs
      val base = Graph.pageRank(e, "src", "dst", iters = 3,
        nodes = Some(nodes.toDF("id")))
      org.apache.spark.graft.TestBridge.waitForListenerBus(spark.sparkContext)
      val unhinted = jobs.get()
      assert(unhinted >= 1, s"expected the count job at construction, got $unhinted")
      jobs.set(0)
      val hinted = Graph.pageRank(e, "src", "dst", iters = 3,
        nodes = Some(nodes.toDF("id")), nodesCount = Some(3L))
      org.apache.spark.graft.TestBridge.waitForListenerBus(spark.sparkContext)
      assert(jobs.get() == 0, s"hinted construction launched ${jobs.get()} jobs")
      // and the hint changes nothing about the result
      val a = base.as[(Long, Double)].collect().toMap
      val b = hinted.as[(Long, Double)].collect().toMap
      assert(a == b)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("20 iterations with lineage cuts: bounded plan, reference parity, cache released") {
    val e = Seq((1L, 2L), (3L, 2L), (2L, 4L), (4L, 1L), (2L, 1L))
    val nodes = Seq(1L, 2L, 3L, 4L)
    val expect = ref(e, nodes, iters = 20)
    val beforeIds = spark.sparkContext.getPersistentRDDs.keySet
    val ranks = Graph.pageRank(e.toDF("src", "dst"),
      "src", "dst", iters = 20, nodes = Some(nodes.toDF("id")), itersPerCut = 5)
    // the plan must reflect only the rounds SINCE the last cut, not all
    // 20 — without truncation this tree is ~4× deeper
    val planLines = ranks.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    val oneCut = Graph.pageRank(e.toDF("src", "dst"),
      "src", "dst", iters = 5, nodes = Some(nodes.toDF("id")), itersPerCut = 99)
    val fiveIterLines = oneCut.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    assert(planLines <= fiveIterLines + 10,
      s"20-iter plan has $planLines lines vs 5-iter $fiveIterLines — lineage not cut")
    val got = ranks.as[(Long, Double)].collect().toMap
    nodes.foreach(v =>
      assert(math.abs(got(v) - expect(v)) < 1e-12, s"node $v: ${got(v)} vs ${expect(v)}"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // the last rank snapshot is alive until released, then freed
    assert((spark.sparkContext.getPersistentRDDs.keySet -- beforeIds).nonEmpty)
    Intermediates.release(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- beforeIds).isEmpty,
      "release must free the last rank snapshot")
  }
}
