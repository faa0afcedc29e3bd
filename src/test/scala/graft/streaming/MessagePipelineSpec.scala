package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.avro.AvroCodec
import graft.model.Message
import graft.pipeline.{Enrich, GraftConfig}

class MessagePipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GraftConfig.dev

  private def msgs(ids: Range): Seq[Message] = ids.map { i =>
    Message(s"m$i", s"user${i % 3}", s"peer${i % 2}@x", s"""{"n": $i}""",
      1704067200000L + i * 86400000L) // spills across months every 31 msgs
  }

  test("end-to-end: avro byte stream → enrich → detail+summary sinks") {
    val detail = tmpDir("detail"); val summary = tmpDir("summary")
    val cp = tmpDir("cp")
    val input = MemoryStream[Array[Byte]](spark)
    input.addData(msgs(0 until 40).map(AvroCodec.encode))
    val q = MessagePipeline.run(input.toDF(), cfg, detail, summary, cp)
    q.processAllAvailable(); q.stop()

    val det = spark.read.parquet(detail)
    assert(det.count() == 40)
    assert(det.schema.fieldNames.sorted.toSeq ==
      Seq("date_partition", "jid", "message_id", "sent_time", "stanza", "username"))
    // stanza round-trips through AES
    val plain = det.filter($"message_id" === "m7")
      .select(graft.functions.MessageFunctions
        .decryptStanza($"stanza", cfg.encryptionKey, cfg.initVector))
      .as[String].head()
    assert(plain == """{"n": 7}""")

    val sum = spark.read.parquet(summary)
    assert(sum.count() ==
      Enrich.summary(Enrich.plain(msgs(0 until 40).toDF())).count())
  }

  test("TTL wiring end-to-end: pipeline write → clock advance → compact (VERDICT r3 #6)") {
    // the reference writes history rows with a per-record TTL
    // (BackupMessageConsumer.java:46-51 → CassandraOutputFormat.java:86-90);
    // the parquet equivalent is Retention.live (read-side) + compact
    // (physical drop). 70 daily messages from 2024-01-01 span three month
    // buckets: Jan (31), Feb (29, leap year), Mar (10).
    val detail = tmpDir("detail3"); val summary = tmpDir("summary3")
    val input = MemoryStream[Array[Byte]](spark)
    input.addData(msgs(0 until 70).map(AvroCodec.encode))
    val q = MessagePipeline.run(input.toDF(), cfg, detail, summary, tmpDir("cp4"))
    q.processAllAvailable(); q.stop()

    // clock: now = 2024-03-06T00:00Z, ttl = 30 days → cutoff 2024-02-05;
    // Jan fully expires, Feb 1-5 expire (boundary row AT the cutoff
    // expires), Feb 6-29 + Mar stay live = 24 + 10 rows
    val now = 1709683200L
    val ttl = 30L * 86400
    val before = spark.read.parquet(detail)
    val live = graft.sink.Retention.live(before, "sent_time", ttl, now)
      .orderBy("message_id").collect().toSeq
    assert(live.size == 34)

    // the fully-live March bucket must not be rewritten by compaction —
    // pin its physical file list (names + sizes)
    def marFiles() = {
      val dir = new java.io.File(s"$detail/date_partition=202403M")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
    }
    val marBefore = marFiles()

    graft.sink.Retention.compact(spark, detail, "sent_time",
      "date_partition", ttl, now)

    // physical state: expired month dropped, mixed month rewritten,
    // fully-live month untouched
    assert(!new java.io.File(s"$detail/date_partition=202401M").exists())
    assert(new java.io.File(s"$detail/date_partition=202402M").exists())
    assert(marFiles() == marBefore)
    // logical state: the table now IS the read-side live view, and a
    // second compact at the same clock is a no-op
    val after = spark.read.parquet(detail).orderBy("message_id").collect().toSeq
    assert(after == live)
    graft.sink.Retention.compact(spark, detail, "sent_time",
      "date_partition", ttl, now)
    assert(spark.read.parquet(detail).orderBy("message_id").collect().toSeq == live)
  }

  test("restart + duplicate delivery converges (effectively-once)") {
    val detail = tmpDir("detail2"); val summary = tmpDir("summary2")
    val input = MemoryStream[Array[Byte]](spark)
    input.addData(msgs(0 until 10).map(AvroCodec.encode))
    val q1 = MessagePipeline.run(input.toDF(), cfg, detail, summary, tmpDir("cp2"))
    q1.processAllAvailable(); q1.stop()
    val snap1 = spark.read.parquet(detail).orderBy("message_id").collect().toSeq

    // fresh checkpoint: the same data is delivered AGAIN (at-least-once)
    val input2 = MemoryStream[Array[Byte]](spark)
    input2.addData(msgs(0 until 10).map(AvroCodec.encode))
    val q2 = MessagePipeline.run(input2.toDF(), cfg, detail, summary, tmpDir("cp3"))
    q2.processAllAvailable(); q2.stop()

    val snap2 = spark.read.parquet(detail).orderBy("message_id").collect().toSeq
    assert(snap1 == snap2) // idempotent upsert: replay is invisible
    assert(spark.read.parquet(summary).count() ==
      Enrich.summary(Enrich.plain(msgs(0 until 10).toDF())).count())
  }

  test("a failing summary sink fails the batch before commit; redelivery converges (r18 overlapped sinks)") {
    // r18 runs the summary upsert on a helper thread beside the detail
    // upsert. The effectively-once contract requires a failure in EITHER
    // sink to fail the whole batch before its checkpoint commit — a
    // swallowed helper-thread failure would commit a batch whose summary
    // rows never landed. Inject: every summary write fails (all retry
    // rungs), the query must terminate with the injected error; then
    // heal the filesystem and redeliver — both tables converge to the
    // reference, including the detail rows the failed batch DID write
    // (idempotent LWW absorbs them).
    val detail = tmpDir("detail_f"); val summaryLocal = tmpDir("summary_f")
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftflaky.impl", classOf[graft.sink.FlakyRenameFs].getName)
    val summary = s"graftflaky:$summaryLocal"
    graft.sink.FlakyRenameFs.failing.set(true)
    try {
      val input = MemoryStream[Array[Byte]](spark)
      input.addData(msgs(0 until 10).map(AvroCodec.encode))
      val q1 = MessagePipeline.run(input.toDF(), cfg, detail, summary, tmpDir("cp_f1"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      q1.stop()
      // the injected fault surfaces wrapped (TASK_WRITE_FAILED on the
      // summary path) — walk the cause chain for it
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.toString).toSeq
      assert(chain.exists(m => m.contains("injected rename fault") ||
        (m.contains("TASK_WRITE_FAILED") && m.contains("summary"))),
        chain.mkString(" | "))
      // the failed batch must not have published any summary rows
      val visible = Option(new java.io.File(summaryLocal).listFiles())
        .fold(Seq.empty[String])(_.map(_.getName).toSeq)
        .filter(f => f.endsWith(".parquet") && !f.startsWith("_"))
      assert(visible.isEmpty, s"failed batch published summary rows: $visible")
    } finally graft.sink.FlakyRenameFs.failing.set(false)

    // at-least-once redelivery against the healed filesystem
    val input2 = MemoryStream[Array[Byte]](spark)
    input2.addData(msgs(0 until 10).map(AvroCodec.encode))
    val q2 = MessagePipeline.run(input2.toDF(), cfg, detail, summary, tmpDir("cp_f2"))
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(detail).count() == 10)
    assert(spark.read.parquet(summary).count() ==
      Enrich.summary(Enrich.plain(msgs(0 until 10).toDF())).count())
  }

  test("each pipeline's summary upserts run in its own query's job group") {
    // the summary sink's helper thread is JVM-wide and inherits Spark's
    // local properties once, at creation; query.stop() cancels the
    // query's job group (its runId), so every summary upsert must carry
    // ITS query's group, not the first query's
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => jobs.add(
          (p.getProperty("spark.jobGroup.id"), p.getProperty("spark.job.description"))))
    }
    val sc = spark.sparkContext
    /** Wait until the listener has seen every job started so far: one
      * job with a unique description, delivered after all earlier events.
      */
    def drain(mark: String): Unit = {
      sc.setJobDescription(mark)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.toArray.exists(_.asInstanceOf[(String, String)]._2 == mark)) {
        assert(System.nanoTime() < deadline, s"listener never saw $mark")
        Thread.sleep(20)
      }
    }
    def run(tag: String): String = {
      val input = MemoryStream[Array[Byte]](spark)
      input.addData(msgs(0 until 40).map(AvroCodec.encode))
      val q = MessagePipeline.run(input.toDF(), cfg, tmpDir(s"detail_jg$tag"),
        tmpDir(s"summary_jg$tag"), tmpDir(s"cp_jg$tag"))
      q.processAllAvailable(); q.stop()
      drain(s"jg drained $tag")
      q.runId.toString
    }
    def summaryGroups(): Seq[String] = {
      val seen = jobs.toArray.toSeq.map(_.asInstanceOf[(String, String)])
      jobs.clear()
      seen.collect { case (g, d) if d != null && d.matches("batch \\d+: summary upsert") => g }
    }
    sc.addSparkListener(listener)
    try {
      drain("jg start"); jobs.clear()
      val r1 = run("1")
      val g1 = summaryGroups()
      val r2 = run("2")
      val g2 = summaryGroups()
      assert(g1.nonEmpty && g2.nonEmpty, "each run upserts its summary")
      assert(g1.forall(_ == r1), s"run 1 ($r1) summary jobs ran in groups ${g1.distinct}")
      assert(g2.forall(_ == r2), s"run 2 ($r2) summary jobs ran in groups ${g2.distinct}")
    } finally sc.removeSparkListener(listener)
  }

  test("a stopped batch returns only after its summary write; the restart adds no duplicates") {
    // query.stop() interrupts the batch while the summary upsert is in
    // its job commit (a driver step no job cancel reaches): the closure
    // must not return, and so stop() must not, while that write still
    // runs. The replay on the same checkpoint then converges.
    val detail = tmpDir("detail_stop"); val summaryLocal = tmpDir("summary_stop")
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftslow.impl", classOf[SlowSuccessFs].getName)
    val summary = s"graftslow:$summaryLocal"
    val cp = tmpDir("cp_stop")
    val input = MemoryStream[Array[Byte]](spark)
    input.addData(msgs(0 until 40).map(AvroCodec.encode))
    SlowSuccessFs.entered.set(false)
    SlowSuccessFs.armed.set(true)
    try {
      val q1 = MessagePipeline.run(input.toDF(), cfg, detail, summary, cp)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!SlowSuccessFs.entered.get()) {
        assert(System.nanoTime() < deadline, "the summary write never reached its commit")
        Thread.sleep(10)
      }
      q1.stop()
      assert(SlowSuccessFs.inFlight.get() == 0,
        "stop() returned while the batch's summary write was still running")
    } finally SlowSuccessFs.armed.set(false)

    val q2 = MessagePipeline.run(input.toDF(), cfg, detail, summary, cp)
    q2.processAllAvailable(); q2.stop()
    val sum = spark.read.parquet(summaryLocal)
    val expected = Enrich.summary(Enrich.plain(msgs(0 until 40).toDF())).distinct().count()
    assert(sum.count() == expected, "the summary table holds duplicate rows")
    assert(sum.distinct().count() == expected)
    assert(spark.read.parquet(detail).count() == 40)
  }

}

/** Local filesystem under the `graftslow:` scheme whose `_SUCCESS`
  * creates, while armed, take 3 s and count as in flight — a job commit
  * that is still running. Registered through `fs.graftslow.impl`.
  */
class SlowSuccessFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def getUri: java.net.URI = java.net.URI.create("graftslow:///")

  private def slow[T](f: Path)(create: => T): T =
    if (f.getName != "_SUCCESS" || !SlowSuccessFs.armed.get()) create
    else {
      SlowSuccessFs.inFlight.incrementAndGet()
      SlowSuccessFs.entered.set(true)
      try { Thread.sleep(3000); create }
      finally SlowSuccessFs.inFlight.decrementAndGet()
    }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    slow(f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    slow(f)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
}

object SlowSuccessFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val entered = new java.util.concurrent.atomic.AtomicBoolean(false)
  val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
}
