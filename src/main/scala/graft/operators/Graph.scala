package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond [[Dedup.connectedComponents]]:
  * PageRank with a fixed iteration count — the importance measure a
  * data pipeline uses for source/domain weighting (rank pages/hosts by
  * link authority, then sample the corpus by rank).
  *
  * Scale shape: one rank⋈edges hash join + dst-aggregation per
  * iteration — the classic iterative-join PageRank (same dataflow
  * GraphX's Pregel emits for it). Ranks and edges both shuffle by key;
  * at scale, pre-partition `edges` by src once so every iteration
  * reuses that exchange. Dangling mass is folded in via a broadcast
  * 1-row aggregate instead of a per-iteration driver action, so the
  * whole run stays ONE lazy plan (nothing executes until the caller's
  * action). Lineage depth grows with the iteration count, so every
  * `itersPerCut` rounds the rank table round-trips through a persisted
  * RDD — the same plan truncation the components loop uses — keeping
  * the optimizer's tree bounded at any iteration count.
  */
object Graph {

  /** Ranks after `iters` damped iterations from a uniform start.
    * Returns (id, pr); Σ pr = 1 at every step (mass conserved through
    * the dangling term). Multi-edges count multiply — dedupe first if
    * simple-graph semantics are wanted.
    *
    * Each lineage cut forces the ranks computed so far (one count job
    * per cut, O(nodes) rows of MEMORY_AND_DISK state) and releases its
    * predecessor immediately, so at most one rank snapshot is ever
    * cached; the last one is registered with [[Intermediates]] (none
    * at all when `iters <= itersPerCut`, e.g. the 3-iteration query
    * default).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85,
               nodes: Option[DataFrame] = None,
               itersPerCut: Int = 8,
               nodesCount: Option[Long] = None): DataFrame = {
    require(iters >= 1, "pageRank: iters >= 1")
    require(itersPerCut >= 1, "pageRank: itersPerCut >= 1")
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val ns = nodes
      .map(_.toDF("id"))
      .getOrElse(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
    // the teleport denominator: 1 driver scalar. Callers that already
    // know |V| pass nodesCount and skip the extra full-table count job
    // (the hint is trusted — a wrong value skews every teleport term)
    val n = nodesCount.getOrElse(ns.count())
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    // NOT persisted although it is read 3× per iteration: measured at
    // sf0.1 (r17 DevPr, in-JVM A/B ×3), persisting it here made the
    // 3-iteration query 1.4× SLOWER (2.8 → 3.9 s) — the lazy
    // re-derived subtrees execute as parallel stages over cheap scans,
    // while a persist inserts a serial materialization barrier and
    // pays the InMemoryRelation write. At 100 TB-scale iteration
    // counts the tradeoff flips with input cost — that is what the
    // itersPerCut lineage-cut persist below already provides.
    val nodeDeg = ns.join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
    var ranks = nodeDeg.select(col("id"), lit(1.0 / n).as("r"))
    var cut: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    for (i <- 1 to iters) {
      val withDeg = ranks.join(nodeDeg, "id")
      // dangling (deg = 0) rank mass, as a broadcast scalar — not head()
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
      if (i % itersPerCut == 0 && i < iters) {
        // persisted-RDD round-trip (see Dedup.connectedComponents): cuts
        // the plan AND lets the previous snapshot free deterministically.
        // The count forces THIS snapshot before its predecessor goes away
        val rdd = ranks.rdd
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        rdd.count()
        ranks = spark.createDataFrame(rdd, ranks.schema)
        cut.foreach(_.unpersist(false))
        cut = Some(rdd)
      }
    }
    cut.foreach(rdd => Intermediates.onRelease(spark)(rdd.unpersist(false)))
    ranks.select(col("id"), col("r").as("pr"))
  }
}
