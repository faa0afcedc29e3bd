package graft.sink

import org.apache.spark.sql.functions._

import graft.SparkSpec

class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  /** A sink on `dir` whose renames go through [[FlakyRenameFs]]. */
  private def flakySink(dir: String): ParquetUpsertSink = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftflaky.impl", classOf[FlakyRenameFs].getName)
    new ParquetUpsertSink(spark, s"graftflaky:$dir")
  }

  /** The row files published in `dir` (an aborted commit leaves only
    * `_temporary` state).
    */
  private def published(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).fold(Seq.empty[String])(_.map(_.getName).toSeq)
      .filter(f => f.endsWith(".parquet") && !f.startsWith("_"))

  test("upsert is an idempotent keyed merge (at-least-once replay converges)") {
    val dir = tmpDir("upsert")
    val sink = new ParquetUpsertSink(spark, dir)
    val b1 = Seq(("k1", 1L, "a"), ("k2", 1L, "b")).toDF("id", "v", "payload")
    sink.upsert(b1, Seq("id"), "v")
    sink.upsert(b1, Seq("id"), "v") // replay of the same batch: no-op
    assert(sink.read().count() == 2)

    // newer version wins; older replay loses
    val b2 = Seq(("k1", 2L, "a2"), ("k3", 1L, "c")).toDF("id", "v", "payload")
    sink.upsert(b2, Seq("id"), "v")
    sink.upsert(b1, Seq("id"), "v") // stale replay must not undo k1@2
    val out = sink.read().orderBy("id").as[(String, Long, String)].collect().toSeq
    assert(out == Seq(("k1", 2L, "a2"), ("k2", 1L, "b"), ("k3", 1L, "c")))
  }

  test("partitioned upsert only rewrites touched partitions") {
    val dir = tmpDir("upsert_part")
    val sink = new ParquetUpsertSink(spark, dir, Some("p"))
    sink.upsert(Seq(("k1", 1L, "202401M"), ("k2", 1L, "202402M")).toDF("id", "v", "p"),
      Seq("id"), "v")
    // second batch touches only 202402M
    sink.upsert(Seq(("k2", 2L, "202402M")).toDF("id", "v", "p"), Seq("id"), "v")
    val out = sink.read().orderBy("id").as[(String, Long, String)].collect().toSeq
    assert(out == Seq(("k1", 1L, "202401M"), ("k2", 2L, "202402M")))
  }

  test("partition-crossing rewrite: old-bucket row survives (Cassandra parity, ADVICE r1)") {
    // the bucket column is part of the reference table's PRIMARY KEY
    // (date_partition, CassandraOutputFormat.java:87-89), so a later
    // write whose derived bucket changed addresses a DIFFERENT Cassandra
    // row and the old one stays — this sink documents and reproduces
    // exactly that; global per-key LWW requires keys ⇒ bucket
    val dir = tmpDir("upsert_cross")
    val sink = new ParquetUpsertSink(spark, dir, Some("p"))
    sink.upsert(Seq(("k1", 1L, "202401M")).toDF("id", "v", "p"), Seq("id"), "v")
    // corrected timestamp moved k1 into the next month bucket
    sink.upsert(Seq(("k1", 2L, "202402M")).toDF("id", "v", "p"), Seq("id"), "v")
    val out = sink.read().orderBy("v").as[(String, Long, String)].collect().toSeq
    assert(out == Seq(("k1", 1L, "202401M"), ("k1", 2L, "202402M")))
    // with the bucket in the key (the supported global-LWW shape), the
    // same sequence keeps both rows too and each is the latest FOR ITS KEY
    val sink2 = new ParquetUpsertSink(spark, dir, Some("p"))
    sink2.upsert(Seq(("k1", 3L, "202402M")).toDF("id", "v", "p"), Seq("id", "p"), "v")
    assert(sink2.read().filter($"p" === "202402M").as[(String, Long, String)]
      .collect().toSeq == Seq(("k1", 3L, "202402M")))
  }

  test("a non-deterministic unpersisted batch is pinned: existing rows of the month it lands in survive") {
    // the batch's month comes from a non-deterministic UDF: 202401M on its
    // first evaluation, 202402M on every later one. Evaluated once for the
    // touched months and again for the write, the row would land in
    // 202402M, whose existing rows the dynamic overwrite would then drop.
    val month = udf(() =>
      if (UpsertSinkSpec.evaluations.getAndIncrement() == 0) "202401M" else "202402M")
      .asNondeterministic()
    val sink = new ParquetUpsertSink(spark, tmpDir("upsert_nondet"), Some("p"))
    sink.upsert(Seq(("k1", 1L, "202401M"), ("k2", 1L, "202402M")).toDF("id", "v", "p"),
      Seq("id"), "v")
    UpsertSinkSpec.evaluations.set(0)
    val batch = Seq(("k3", 1L)).toDF("id", "v").withColumn("p", month())
    assert(!batch.queryExecution.analyzed.deterministic)
    sink.upsert(batch, Seq("id"), "v")
    val out = sink.read().orderBy("id").as[(String, Long, String)].collect().toSeq
    assert(out == Seq(("k1", 1L, "202401M"), ("k2", 1L, "202402M"), ("k3", 1L, "202401M")),
      s"$out")
    assert(batch.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "upsert left its pin cached")
  }

  test("distinct-set upsert converges under replay (summary semantics)") {
    val dir = tmpDir("upsert_set")
    val sink = new ParquetUpsertSink(spark, dir)
    val s = Seq(("u1", "j1", "202401M"), ("u1", "j1", "202401M")).toDF("u", "j", "p")
    sink.upsertDistinct(s)
    sink.upsertDistinct(s)
    sink.upsertDistinct(Seq(("u2", "j1", "202401M")).toDF("u", "j", "p"))
    assert(sink.read().count() == 2)
  }

  test("distinct-set upsert: append-only-novel equals the rewrite-all reference, nulls included (r18)") {
    // the r18 form appends only rows proven absent (null-safe anti-join)
    // instead of rewriting the whole table; the observable contract —
    // table == distinct union of everything ever delivered — must hold
    // through replays, and rows carrying NULLs (where a plain equality
    // anti-join would never match and re-append forever) must converge
    val dir = tmpDir("upsert_set_ref")
    val sink = new ParquetUpsertSink(spark, dir)
    val batches: Seq[Seq[(String, String, String)]] = Seq(
      Seq(("u1", "j1", "202401M"), ("u2", null, "202401M")),
      Seq(("u1", "j1", "202401M"), ("u3", "j2", null)), // full replay + new
      Seq(("u2", null, "202401M"), (null, null, null)), // null replay + all-null row
      Seq((null, null, null)) // all-null replay: must not duplicate
    )
    var ref = Set.empty[(String, String, String)]
    batches.foreach { b =>
      sink.upsertDistinct(b.toDF("u", "j", "p"))
      sink.upsertDistinct(b.toDF("u", "j", "p")) // immediate at-least-once replay
      ref = ref ++ b
      val got = sink.read().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      assert(got.size == ref.size, s"duplicates after $b: $got")
      assert(got.toSet == ref)
    }
  }

  test("distinct-set upsert: aborted append publishes nothing; the retry converges (r18)") {
    val dir = tmpDir("upsert_set_abort")
    val sink = flakySink(dir)
    val b = Seq(("u1", "j1", "202401M"), ("u2", "j2", "202402M")).toDF("u", "j", "p")
    FlakyRenameFs.failing.set(true)
    try {
      intercept[Throwable] { sink.upsertDistinct(b) }
      // the aborted commit must not have published any row file (only
      // _temporary state may exist) — a partially visible append is the
      // case the anti-join makes safe, but v1 commits publish nothing
      assert(published(dir).isEmpty, s"aborted append published: ${published(dir)}")
    } finally FlakyRenameFs.failing.set(false)
    // the at-least-once retry of the SAME batch converges to exactly-once
    sink.upsertDistinct(b)
    sink.upsertDistinct(b)
    assert(sink.read().count() == 2)
  }

  test("retention predicate drops expired rows, keeps all when ttl<=0") {
    val df = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("b", java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))).toDF("id", "ts")
    val now = java.sql.Timestamp.valueOf("2024-06-02 00:00:00").getTime / 1000
    assert(Retention.live(df, "ts", 7 * 86400, now).count() == 1)
    assert(Retention.live(df, "ts", -1, now).count() == 2)
  }

  test("a write whose first 2 attempts fail lands exactly once, on attempt 3") {
    val dir = tmpDir("upsert_retry")
    val sink = flakySink(dir)
    val b = Seq(("u1", "j1", "202401M"), ("u1", "j1", "202401M")).toDF("u", "j", "p")
    // a failed attempt makes one rename, the commit of its one write
    // task, so each injected fault fails one attempt
    FlakyRenameFs.faults.set(0)
    FlakyRenameFs.failNext.set(2)
    try sink.upsertDistinct(b) finally FlakyRenameFs.failNext.set(0)
    assert(FlakyRenameFs.faults.get() == 2)
    assert(sink.read().as[(String, String, String)].collect().toSeq ==
      Seq(("u1", "j1", "202401M")))
  }

  test("a write that fails on every attempt throws after exactly 5 attempts and publishes nothing") {
    val dir = tmpDir("upsert_retry_exhausted")
    val sink = flakySink(dir)
    FlakyRenameFs.faults.set(0)
    FlakyRenameFs.failing.set(true)
    try intercept[Exception] {
      sink.upsertDistinct(Seq(("u1", "j1", "202401M")).toDF("u", "j", "p"))
    } finally FlakyRenameFs.failing.set(false)
    assert(FlakyRenameFs.faults.get() == 5)
    assert(published(dir).isEmpty, s"failed write published: ${published(dir)}")
  }
}

object UpsertSinkSpec {
  /** Evaluation count of the non-deterministic month UDF (static: a task
    * deserializes its own copy of anything the closure captures).
    */
  val evaluations = new java.util.concurrent.atomic.AtomicInteger()
}

/** Switchable fault-injection filesystem (r18): local semantics, but
  * every rename throws while [[FlakyRenameFs.failing]] is set, and the
  * next [[FlakyRenameFs.failNext]] renames throw — drives the
  * abort-then-retry path of the sinks (the always-throwing cousin lives
  * in CorpusIngestSpec). Registered per-test via `fs.graftflaky.impl`;
  * the state is static because Hadoop caches FS instances per scheme.
  */
class FlakyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftflaky:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (FlakyRenameFs.failing.get() ||
        FlakyRenameFs.failNext.getAndUpdate(n => math.max(n - 1, 0)) > 0) {
      FlakyRenameFs.faults.incrementAndGet()
      throw new java.io.IOException("injected rename fault (flaky)")
    } else super.rename(src, dst)
}

object FlakyRenameFs {
  val failing = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** Countdown: this many of the next renames fail. */
  val failNext = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Renames failed so far. */
  val faults = new java.util.concurrent.atomic.AtomicInteger(0)
}
