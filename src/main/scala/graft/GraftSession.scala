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
  */
object GraftSession {

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
