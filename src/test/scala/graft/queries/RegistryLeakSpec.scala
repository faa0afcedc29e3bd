package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.operators.Intermediates

/** The registry lifecycle rule — a registry frame stays valid until the
  * next registry build in that session — leaves nothing behind once
  * the session's intermediates are released: no CacheManager entry, no
  * persisted RDD, no `graft_<tag>_<uuid>` scratch dir. The build-once
  * caches (`graft_ivf_*`, `graft_nd_idx_*`, `graft_ldup_*`) persist
  * across sessions by design and are not intermediates.
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
}
