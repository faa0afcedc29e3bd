package graft

import org.apache.spark.sql.functions._

/** Dev aid (r17): in-JVM A/B of the ev_pagerank formulation — OLD
  * (no caching, pageRank recounts nodes, lazy triple-derived plan) vs
  * NEW (users/edges cached, nodesCount passed, managed nodeDeg persist).
  * Alternating samples in one JVM so JIT warmth is shared.
  * `Test/runMain graft.DevPr <sfdir> <reps>`.
  */
object DevPr {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.get(GraftSession.envCpus)

    def timeIt(label: String)(f: => Long): Unit = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val n = f
      println(f"[devpr] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s (rows=$n)")
    }

    // the r16 shape: no caching anywhere, pageRank loop inlined
    // WITHOUT the nodeDeg persist, nodes recounted inside
    def oldForm(): Long = {
      val users = graft.sources.Tables.events(spark, sfDir)
        .select(col("user_id")).distinct()
      val n0 = users.count()
      val edges = users.select(col("user_id").as("src"),
        explode(array(pmod(col("user_id") * 7 + 3, lit(n0)),
          pmod(col("user_id") * 13 + 5, lit(n0)))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .dropDuplicates("src", "dst")
      val e = edges.select(col("src"), col("dst"))
      val ns = users.select(col("user_id").as("id")).toDF("id")
      val n = ns.count()
      val damping = 0.85
      val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val nodeDeg = ns.join(deg, Seq("id"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
      var ranks = nodeDeg.select(col("id"), lit(1.0 / n).as("r"))
      for (_ <- 1 to 3) {
        val withDeg = ranks.join(nodeDeg, "id")
        val m = withDeg.filter(col("deg") === 0)
          .agg(coalesce(sum(col("r")), lit(0.0)).as("m"))
        val contribs = e
          .join(withDeg.filter(col("deg") > 0)
            .select(col("id").as("src"), (col("r") / col("deg")).as("c")), "src")
          .groupBy(col("dst").as("id"))
          .agg(sum(col("c")).as("in_c"))
        ranks = nodeDeg.select("id")
          .join(contribs, Seq("id"), "left")
          .crossJoin(broadcast(m))
          .select(col("id"),
            (lit((1 - damping) / n) + lit(damping) *
              (coalesce(col("in_c"), lit(0.0)) + col("m") / n)).as("r"))
      }
      ranks.select(col("id"), col("r").as("pr"))
        .withColumn("pr", round(col("pr"), 9))
        .orderBy(desc("pr"), col("id"))
        .limit(30).count()
    }

    def newForm(): Long =
      SparkEntry.queries("ev_pagerank")(spark, sfDir).count()

    // old QUERY formulation calling the r17 operator (nodeDeg persist,
    // nodesCount skip) — isolates the operator change from the query's
    // users/edges caches
    def midForm(): Long = {
      val users = graft.sources.Tables.events(spark, sfDir)
        .select(col("user_id")).distinct()
      val n = users.count()
      val edges = users.select(col("user_id").as("src"),
        explode(array(pmod(col("user_id") * 7 + 3, lit(n)),
          pmod(col("user_id") * 13 + 5, lit(n)))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .dropDuplicates("src", "dst")
      val pr = graft.operators.Graph.pageRank(
        edges, "src", "dst", iters = 3,
        nodes = Some(users.select(col("user_id").as("id"))),
        nodesCount = Some(n))
      val c = pr
        .withColumn("pr", round(col("pr"), 9))
        .orderBy(desc("pr"), col("id"))
        .limit(30).count()
      graft.operators.Intermediates.release(spark)
      c
    }

    // warm all once
    oldForm(); newForm(); midForm()
    (1 to reps).foreach { i =>
      timeIt(s"old#$i")(oldForm())
      timeIt(s"mid#$i")(midForm())
      timeIt(s"new#$i")(newForm())
    }
    spark.stop()
  }
}
