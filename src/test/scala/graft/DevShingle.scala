package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Intermediates}
import graft.sources.Tables

/** Dev aid (r18): in-JVM A/B of the shared shingle+signature pass for
  * the queries that run the exact PPJoin AND a MinHash pass over the
  * same corpus (`dedup_components_refine`, `dedup_minhash_superset`).
  * OLD = r17 form (each operator shingles + caches independently);
  * NEW = the registered query (one persisted (id, sh, sig, blocks)
  * frame feeding both). Alternating samples in one JVM so JIT warmth is
  * shared. `Test/runMain graft.DevShingle <sfdir> <reps>`.
  */
object DevShingle {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.get(GraftSession.envCpus)

    def timeIt(label: String)(f: => Long): Unit = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val n = f
      println(f"[devshingle] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s (rows=$n)")
    }

    // r17 dedup_components_refine: independent shingle passes
    def oldRefine(): Long = {
      val docs = Tables.documents(spark, sfDir)
      val exact = Dedup.ngramJaccardBlocked(docs, "text", "doc_id",
        Seq("lang", "source"), threshold = 0.5).select("id_a", "id_b")
      val mh = Dedup.connectedComponents(Dedup.minhashNearDups(
        docs, "text", "doc_id", threshold = 0.5))
      val ca = mh.select(col("id").as("id_a"), col("component").as("comp_a"))
      val cb = mh.select(col("id").as("id_b"), col("component").as("comp_b"))
      try exact.join(ca.hint("merge"), Seq("id_a"), "left")
        .join(cb.hint("merge"), Seq("id_b"), "left")
        .filter(coalesce(col("comp_a"), lit(-1L)) =!=
          coalesce(col("comp_b"), lit(-2L)))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
        .count()
      finally Intermediates.release(spark)
    }

    def newRefine(): Long =
      SparkEntry.queries("dedup_components_refine")(spark, sfDir).count()

    // r17 dedup_minhash_superset: independent shingle passes, unmanaged
    def oldSuperset(): Long = {
      val docs = Tables.documents(spark, sfDir)
      val exact = Dedup.ngramJaccardBlocked(docs, "text", "doc_id",
        Seq("lang", "source"), threshold = 0.5).select("id_a", "id_b")
      val approx = Dedup.minhashNearDups(docs, "text", "doc_id",
        threshold = 0.5).select("id_a", "id_b")
      exact.join(approx.hint("merge"), Seq("id_a", "id_b"), "left_anti")
        .orderBy("id_a", "id_b")
        .count()
    }

    def newSuperset(): Long =
      SparkEntry.queries("dedup_minhash_superset")(spark, sfDir).count()

    // phase-split variants: (a) minhash pairs + components, (b) exact
    // PPJoin + final join count — localizes regressions to a phase
    def phases(label: String)(mk: () => (Long, Long)): Unit = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val (na, nb) = mk()
      println(f"[devshingle] $label: total ${(System.nanoTime() - t0) / 1e9}%.2f s (a=$na b=$nb)")
    }

    def oldRefineP(): (Long, Long) = {
      val docs = Tables.documents(spark, sfDir)
      val exact = Dedup.ngramJaccardBlocked(docs, "text", "doc_id",
        Seq("lang", "source"), threshold = 0.5).select("id_a", "id_b")
      val ta = System.nanoTime()
      val mh = Dedup.connectedComponents(Dedup.minhashNearDups(
        docs, "text", "doc_id", threshold = 0.5))
      println(f"[devshingle]   old phase a (mh+cc): ${(System.nanoTime() - ta) / 1e9}%.2f s")
      val tb = System.nanoTime()
      val ca = mh.select(col("id").as("id_a"), col("component").as("comp_a"))
      val cb = mh.select(col("id").as("id_b"), col("component").as("comp_b"))
      val n = exact.join(ca.hint("merge"), Seq("id_a"), "left")
        .join(cb.hint("merge"), Seq("id_b"), "left")
        .filter(coalesce(col("comp_a"), lit(-1L)) =!=
          coalesce(col("comp_b"), lit(-2L)))
        .select("id_a", "id_b").orderBy("id_a", "id_b").count()
      println(f"[devshingle]   old phase b (exact+join): ${(System.nanoTime() - tb) / 1e9}%.2f s")
      Intermediates.release(spark)
      (0L, n)
    }

    // mirrors the registered query: exact materialized FIRST (cold
    // cache ⇒ parquet-estimate planning keeps the prefix-join
    // broadcast), MinHash second off the warm cache
    def newRefineP(): (Long, Long) = {
      val docs = Tables.documents(spark, sfDir)
      val shared = Intermediates.persist(Dedup.shingledDocs(docs, "text",
        "doc_id", Seq("lang", "source")))
      try {
        val tb = System.nanoTime()
        val exact = Intermediates.persist(Dedup.ngramJaccardFromShingled(
          shared, Seq("lang", "source"), threshold = 0.5, dfCap = None)
          .select("id_a", "id_b"))
        exact.count()
        println(f"[devshingle]   new phase b (exact): ${(System.nanoTime() - tb) / 1e9}%.2f s")
        val ta = System.nanoTime()
        val mh = Dedup.connectedComponents(
          Dedup.minhashFromShingled(shared, threshold = 0.5))
        println(f"[devshingle]   new phase a (mh+cc): ${(System.nanoTime() - ta) / 1e9}%.2f s")
        val tc = System.nanoTime()
        val ca = mh.select(col("id").as("id_a"), col("component").as("comp_a"))
        val cb = mh.select(col("id").as("id_b"), col("component").as("comp_b"))
        val n = exact.join(ca.hint("merge"), Seq("id_a"), "left")
          .join(cb.hint("merge"), Seq("id_b"), "left")
          .filter(coalesce(col("comp_a"), lit(-1L)) =!=
            coalesce(col("comp_b"), lit(-2L)))
          .select("id_a", "id_b").orderBy("id_a", "id_b").count()
        println(f"[devshingle]   new phase c (final join): ${(System.nanoTime() - tc) / 1e9}%.2f s")
        (0L, n)
      } finally Intermediates.release(spark)
    }

    // warm all once
    oldRefine(); newRefine(); oldSuperset(); newSuperset()
    (1 to reps).foreach { i =>
      phases(s"oldRefineP#$i")(() => oldRefineP())
      phases(s"newRefineP#$i")(() => newRefineP())
      timeIt(s"oldSuperset#$i")(oldSuperset())
      timeIt(s"newSuperset#$i")(newSuperset())
    }
    spark.stop()
  }
}
