package graft

import org.apache.spark.sql.SparkSession

import graft.plans.BandJoinRule

/** Canonical session construction: every entry point (Verify, Bench,
  * DevSmoke, perfbench) builds through here so engine-critical settings
  * are set once, not re-discovered per main. (The spec suites' shared
  * session, `TestSpark`, builds its own and installs the same rule.)
  *
  * Settings rationale (100 TB notes in README):
  *  - shuffle partitions sized to the actual parallelism (the 200
  *    default is wrong for local mode; on a cluster this is tuned to
  *    ~2-3× total cores or managed by AQE coalescing)
  *  - AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  *    broadcast demotion) — default in Spark 4, pinned explicitly
  *  - UTC session timezone (oracle parity + the reference's
  *    joda-default-TZ gap, SURVEY §7.5.2)
  *  - nanosAsLong: the testdata's INT64(TIMESTAMP_NANOS) events table is
  *    unreadable without it (Tables.events normalizes to micros)
  *  - zstd parquet output: better ratio than snappy at similar speed —
  *    at corpus scale output bytes are a first-order cost
  *  - the band-join rewrite ([[graft.plans.BandJoinRule]]) installed
  *  - Spark's JVM-wide cache of Janino-compiled classes sized to the
  *    registry's working set ([[CodegenCacheEntries]]): at the default
  *    100 entries a cycle of queries that needs more classes than that
  *    recompiles every class on every run. One perfbench `query_mix`
  *    round needs ~200 classes; the 169 registry entries need 2,249
  *    (sf0.001). Each cached class holds ~32 KB of heap
  */
object GraftSession {

  /** Entries in Spark's cache of generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache
    * evicts the least recently used class, so when a cycle of queries
    * needs more classes than it holds, every lookup misses and Janino
    * compiles every class again on every run. Measured on 4 cores,
    * local[4], counting `CodegenMetrics.METRIC_COMPILATION_TIME`: one
    * pass over all 169 registry entries at sf0.001 compiles 2,249
    * classes; at 100 entries a second pass compiles 3,219 classes, at 4096
    * it compiles 104. A perfbench `query_mix` round after its warm-up
    * compiles 202 classes at 100 entries and 4 at 4096. 4096 holds the
    * registry's working set with headroom.
    *
    * Cost: ~32 KB of heap per cached class, measured after a full GC:
    * +76 MB at ~2,350 entries after two registry passes, so ~130 MB when
    * full; a `query_mix` run holds ~3 MB more.
    *
    * Spark reads the value once per JVM, when `CodeGenerator`'s cache is
    * created by the first compile, so it is set on the builder, before
    * any query runs, not with `spark.conf.set` on a live session.
    */
  val CodegenCacheEntries = 4096

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce post-shuffle partitions to the advisory size rather
      // than maximizing parallelism: a reduce stage gets as many tasks
      // as its DATA needs, not one per core — at 100 TB that sizes
      // reducers to ~64 MB each; on small inputs it stops paying
      // per-task dispatch for near-empty partitions
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Build (or reuse) the session and install [[BandJoinRule]]. */
  def get(cpus: Int): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    BandJoinRule.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** CPU count from the driver contract env; defaults to every available
    * core (the driver contract runs Bench at local[32] — defaulting to 4
    * was silently capping parallelism 8× when the env var is unset).
    */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())
}
