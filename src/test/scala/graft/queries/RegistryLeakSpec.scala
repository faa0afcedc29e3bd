package graft.queries

import org.apache.spark.metrics.source.CodegenMetrics

import graft.{SparkEntry, SparkSpec}
import graft.operators.Intermediates

/** The registry lifecycle rule — a registry frame stays valid until the
  * next registry build in that session — leaves nothing behind once
  * the session's intermediates are released: no CacheManager entry, no
  * persisted RDD, no `graft_<tag>_<uuid>` scratch dir. The build-once
  * caches (`graft_ivf_*`, `graft_nd_idx_*`, `graft_ldup_*`) persist
  * across sessions by design and are not intermediates. A second run
  * of the same queries compiles no generated class: it finds them all
  * in Spark's code cache.
  */
class RegistryLeakSpec extends SparkSpec {
  private val sc = spark.sparkContext
  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
  private val ScratchName = "graft_.+_[0-9a-f]{8}-[0-9a-f]{3}".r
  private val builtOnce = Seq("graft_ivf_", "graft_nd_idx_", "graft_ldup_")

  private def scratchDirs: Set[String] =
    Option(tmp.listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => ScratchName.matches(n) && !builtOnce.exists(n.startsWith)).toSet

  /** What is still held beyond `rddsBefore` / `dirsBefore`. */
  private def held(rddsBefore: Set[Int], dirsBefore: Set[String]): Seq[String] = {
    val rdds = sc.getPersistentRDDs.keySet.toSet -- rddsBefore
    val dirs = scratchDirs -- dirsBefore
    Seq(
      Option.when(!spark.sharedState.cacheManager.isEmpty)("CacheManager entries"),
      Option.when(rdds.nonEmpty)(s"persisted RDDs $rdds"),
      Option.when(dirs.nonEmpty)(s"scratch dirs $dirs")).flatten
  }

  private def noop(name: String): Unit =
    SparkEntry.queries(name)(spark, sf0001)
      .write.format("noop").mode("overwrite").save()

  test("every registry query leaves nothing behind after release") {
    spark.catalog.clearCache()
    Intermediates.release(spark)
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val (rdds, dirs) = (sc.getPersistentRDDs.keySet.toSet, scratchDirs)
      try {
        noop(name)
        Intermediates.release(spark)
        val h = held(rdds, dirs)
        // one leak must not be blamed on every later query
        if (h.nonEmpty) spark.catalog.clearCache()
        h.map(x => s"$name: $x")
      } catch {
        case scala.util.control.NonFatal(e) =>
          Intermediates.release(spark)
          Seq(s"$name threw ${e.toString.linesIterator.next()}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("building entry B releases entry A's intermediates") {
    spark.catalog.clearCache()
    Intermediates.release(spark)
    val (rdds, dirs) = (sc.getPersistentRDDs.keySet.toSet, scratchDirs)
    // A = text_lm_score: its frame reads a token cache that outlives
    // its own write
    noop("text_lm_score")
    assert(!spark.sharedState.cacheManager.isEmpty, "A's token cache is held")
    // B = dedup_resolve: building it releases A's cache; B itself ends
    // its build holding only its scratch edge list, no cached frame
    val b = SparkEntry.queries("dedup_resolve")(spark, sf0001)
    assert(spark.sharedState.cacheManager.isEmpty,
      "building B released A's token cache")
    assert((scratchDirs -- dirs).size == 1, "B's scratch dir is held")
    b.write.format("noop").mode("overwrite").save()
    // C = dedup_exact: building it releases B's scratch dir
    noop("dedup_exact")
    assert(held(rdds, dirs).isEmpty, held(rdds, dirs).mkString("; "))
  }

  test("a repeated query_mix pass compiles no generated class") {
    // the 12 queries of perfbench's `query_mix` round (perfbench/config.json)
    val mix = Seq("rel_percentiles", "rel_window_running", "rel_q1_pricing",
      "text_repetition", "text_remove_dup_spans", "dedup_resolve",
      "sim_ivf_index_topk", "pipe_chunk_docs", "ev_sessions_30m",
      "msg_pipeline_encrypted", "msg_roundtrip", "mm_meta")
    // Janino compiles a class only on a miss in Spark's code cache
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      mix.foreach(noop)
      Intermediates.release(spark)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = compiles()
    val second = compiles()
    assert(second == 0,
      s"second pass compiled $second classes (first pass: $first)")
  }
}
