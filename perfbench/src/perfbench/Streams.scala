package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.functions.MessageFunctions.decryptStanza
import graft.pipeline.GraftConfig
import graft.sink.ParquetUpsertSink
import graft.streaming.MessagePipeline

/** Outcome of one stream drain: per-batch progress and commit times, and
  * the process CPU time at the start and at each batch's progress event.
  */
final case class Drain(t0Ms: Long, progress: Seq[StreamingQueryProgress], commitMs: Map[Long, Long],
    fileBatch: Map[String, Long], detail: String, summary: String, ckpt: String,
    cpuStartNs: Long, cpuAtNs: Map[Long, Long]) {
  def lastCommitMs: Long = if (commitMs.isEmpty) t0Ms else commitMs.values.max
  def batches: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
}

/** The `stream_catchup` drain and its history-read phase, all through the
  * program's public entry points.
  */
final class Streams(ctx: Ctx) {
  import ctx._
  val cfg: GraftConfig = GraftConfig(Messages.key, Messages.iv)

  /** Records every progress event of one named query, with the process
    * CPU time when it arrived.
    */
  private final class ProgressLog(name: String) extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val cpuAt = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.name == name) {
        cpuAt.putIfAbsent(e.progress.batchId, Cpu.ns)
        events.add(e.progress); ()
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** batchId → commit time (the commit log file's modification time). */
  private def commits(ckpt: String): Map[Long, Long] =
    Option(new File(s"$ckpt/commits").listFiles()).toSeq.flatten
      .filter(f => f.getName.forall(_.isDigit)).map(f => f.getName.toLong -> f.lastModified()).toMap

  /** file name → batchId, read from the file source's metadata log. */
  private def sourceLog(ckpt: String): Map[String, Long] = {
    val entry = "\"path\":\"([^\"]+)\".*?\"batchId\":(\\d+)".r
    Option(new File(s"$ckpt/sources/0").listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
      .flatMap(l => entry.findFirstMatchIn(l).map(m => new File(m.group(1)).getName -> m.group(2).toLong))
      .toMap
  }

  private def rawStream(dir: String): DataFrame =
    spark.readStream.schema(Messages.wireSchema).option("maxFilesPerTrigger", 1L).parquet(dir)

  /** Run the pipeline over `wireDir` under `AvailableNow`, one file per
    * micro-batch, until the backlog of `files` files is committed.
    */
  def drain(tag: String, wireDir: String, files: Int): Drain = {
    val base = s"$work/$tag"
    val (detail, summary, ckpt) = (s"$base/detail", s"$base/summary", s"$base/checkpoint")
    val name = s"perfbench-$tag"
    val log = new ProgressLog(name)
    spark.streams.addListener(log)
    try {
      val t0 = System.currentTimeMillis()
      val c0 = Cpu.ns
      val q = MessagePipeline.run(rawStream(wireDir), cfg, detail, summary, ckpt, Some(name))
      try {
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        val fs = sourceLog(ckpt)
        require(fs.size >= files && commits(ckpt).contains(fs.values.max),
          s"$tag: stream did not commit all $files files")
      } finally { q.stop(); q.awaitTermination() }
      // progress events arrive asynchronously: wait for every committed batch's
      val nb = commits(ckpt).size
      val deadline = System.currentTimeMillis() + 20000
      def seen = log.events.asScala.filter(_.numInputRows > 0).map(_.batchId).toSet.size
      while (seen < nb && System.currentTimeMillis() < deadline) Thread.sleep(20)
      val prog = log.events.asScala.toSeq.groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)
      Drain(t0, prog, commits(ckpt), sourceLog(ckpt), detail, summary, ckpt, c0,
        log.cpuAt.asScala.map { case (b, c) => b.longValue -> c.longValue }.toMap)
    } finally spark.streams.removeListener(log)
  }

  /** Seed-chosen, Zipf-weighted history reads (user × month), each
    * decrypted and collected; checked against the generated records.
    * Reports the CPU of all reads in `cpu_ms`, each read's CPU scaled to
    * nominal host speed by host-speed samples taken before the first read
    * and after every read.
    */
  def reads(detail: String, sent: Seq[Msg], n: Int, trace: Option[Tracer]): (Seq[Double], Int, Json) = {
    val byKey = Messages.distinct(Seq(sent)).groupBy(m => (m.username, m.month))
    // weight each (user, month) by its message count: heavy users are read more
    val keys = byKey.keys.toSeq.sorted
    val cum = keys.map(k => byKey(k).size.toDouble).scanLeft(0.0)(_ + _).tail.toArray
    val rng = new java.util.SplittableRandom(seed * 7919 + 3)
    val picks = Seq.fill(n) {
      val i = java.util.Arrays.binarySearch(cum, rng.nextDouble() * cum.last)
      keys(math.min(keys.size - 1, if (i >= 0) i + 1 else -i - 1))
    }
    val sink = new ParquetUpsertSink(spark, detail, Some("date_partition"))
    var failed = 0
    var parts = 0L; var files = 0L
    var cpuMs = 0.0
    var ref = HostSpeed.sample()
    val times = picks.zipWithIndex.map { case ((u, m), i) =>
      val c0 = Cpu.ns
      val t0 = System.nanoTime()
      val ok = try {
        trace.foreach(_ => spark.sparkContext.setJobGroup(s"read:$i", s"read $u $m"))
        val df = sink.read().filter(col("username") === u && col("date_partition") === m)
          .select(col("message_id"), decryptStanza(col("stanza"), cfg.encryptionKey, cfg.initVector).as("plain"))
        val got = df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
        trace.foreach { _ =>
          df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }.foreach { s =>
            parts += s.metrics.get("numPartitions").map(_.value).getOrElse(0L)
            files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }
        }
        got == byKey((u, m)).map(x => (x.msgId, x.stanza)).sorted
      } catch { case NonFatal(e) => log(s"read $u/$m failed: $e"); false }
      finally trace.foreach(_ => spark.sparkContext.clearJobGroup())
      val t1 = System.nanoTime()
      val c1 = Cpu.ns
      val next = HostSpeed.sample()
      cpuMs += (c1 - c0) / 1e6 * HostSpeed.scale(ref, next)
      ref = next
      trace.foreach(_.spans.add(s"read:$i", 0, "store.read", t0, t1, Map("user" -> u, "month" -> m)))
      if (!ok) failed += 1
      (t1 - t0) / 1e6
    }
    val j = new Json
    j("cpu_ms") = cpuMs
    j("read.partitions_scanned") = parts.toDouble / math.max(1, n)
    j("read.files_scanned") = files.toDouble / math.max(1, n)
    (times, failed, j)
  }

  /** Untimed warm-up over a small backlog of its own seed: a drain of
    * `files` files, then `nReads` history reads, so the measured drain and
    * reads start with the JIT warm.
    */
  def warmUp(files: Int, perFile: Int, nReads: Int): Unit = {
    val g = Messages.generate(seed + 1000003, Traffic(files = files, perFile = perFile))
    val dir = s"$work/warm-wire"
    new File(dir).mkdirs()
    Messages.stage(g, dir)
    val d = drain("warm", dir, g.size)
    val bad = Messages.checkTables(spark, d.detail, d.summary, g.flatten)
    require(bad.isEmpty, s"warm-up tables wrong: ${bad.mkString("; ")}")
    val (_, failed, _) = reads(d.detail, g.flatten, nReads, None)
    require(failed == 0, s"warm-up: $failed history reads returned wrong rows")
    Fs.rm(new File(s"$work/warm")); Fs.rm(new File(dir))
  }
}
