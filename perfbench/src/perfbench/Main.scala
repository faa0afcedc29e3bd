package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.pipeline.Enrich
import graft.streaming.MessagePipeline

/** Shared run context: the session, this run's private work dir, seed. */
final class Ctx(var spark: SparkSession, val work: String, val seed: Long, val cpus: Int) {
  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}

/** Probes active during a traced pass. */
final class Tracer(val spark: SparkSession) {
  val exec = new ExecProbe
  val plan = new PlanProbe
  val spans = new Spans
  /** epoch-ms → the nanoTime clock the spans use */
  private val offNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def ns(epochMs: Long): Long = epochMs * 1000000L + offNs
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(plan)
  def close(): Unit = {
    Bus.drain(spark, exec)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plan)
  }
}

/** What one workload run produced. `e2e` are the contract metrics;
  * `named` the workload's own metrics; `layers` the traced split.
  */
final class Result {
  val e2e = new Json
  val named = new Json
  val layers = new Json
  val tails = new Json
  val inputs = new Json
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  val queries = new Json
  def fail(n: Long, why: String): Unit = { failed += n; failures += why }
}

/** Benchmark harness entry point; `perfbench/run.py` builds and runs it
  * with one private work dir per run. Prints nothing on stdout; writes
  * the result JSON to `--out`.
  */
object Main {
  private def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
  }

  def main(argv: Array[String]): Unit = {
    HostSpeed.warm()
    HostSpeed.markSetup()
    val mainMs = System.currentTimeMillis()
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val res = new Result
    val heap = new HeapPeak
    val (spark, sessionMs) = timeMs(GraftSession.get(cpus))
    HostSpeed.markSetup()
    val ctx = new Ctx(spark, work, seed, cpus)
    res.layers("setup.session_ms") = sessionMs
    res.layers("setup.jvm_ms") = (mainMs - a("spawn-ms").toLong).toDouble
    val prov = new Json
    prov("workload") = workload; prov("seed") = seed; prov("trace") = trace
    prov("cpus") = spark.sparkContext.defaultParallelism
    prov("master") = spark.sparkContext.master
    prov("spark") = spark.version
    prov("jvm") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"
    prov("max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576
    val out = new Json
    try {
      workload match {
        case "stream_catchup" => catchup(ctx, a, res, heap, trace)
        case "query_mix" => queryMix(ctx, a, res, heap, trace)
        case "count_vs_noop" => countVsNoop(ctx, a, res)
        case "gen_data" => genData(ctx, a, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val setupMs = Seq("setup.jvm_ms", "setup.session_ms", "setup.stage_ms", "setup.warmup_ms", "setup.prebuild_ms")
        .flatMap(k => res.layers.get(k)).map(_.asInstanceOf[Double]).sum
      // set-up is mostly CPU-bound (class loading, JIT, first plans), so it
      // is scaled to nominal host speed like the CPU metrics
      val setupS = setupMs / 1000.0 * HostSpeed.nominalMs / Stats.median(HostSpeed.setup.toSeq)
      res.e2e("setup_s") = setupS
      res.named("setup_s") = setupS
      res.named("setup_s_unscaled") = setupMs / 1000.0
      res.e2e("heap_live_peak_mb") = heap.peakMb
      res.named("heap_live_peak_mb") = heap.peakMb
      if (HostSpeed.samples.nonEmpty) res.named("host_ref_ms") = Stats.median(HostSpeed.samples.toSeq)
      res.named("error_rate") = res.failed.toDouble / math.max(1L, res.attempted)
    } catch {
      case NonFatal(e) =>
        ctx.log(s"run failed: $e")
        e.printStackTrace()
        res.fail(1, s"harness: ${e.toString.linesIterator.next().take(400)}")
        res.attempted = math.max(res.attempted, 1)
    }
    out("provenance") = prov
    out("inputs") = res.inputs
    out("e2e") = res.e2e
    out("named") = res.named
    out("tails") = res.tails
    out("layers") = res.layers
    out("queries") = res.queries
    out("attempted") = res.attempted
    out("failed") = res.failed
    out("failures") = res.failures.toSeq
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out.render + "\n")
    try ctx.spark.stop() catch { case NonFatal(_) => () }
  }

  // ---- stream workload ---------------------------------------------------

  /** Generate + encode + stage the backlog three times (median reported
    * as set-up); the first copy is the one the run uses.
    */
  private def stageThrice(ctx: Ctx, t: Traffic, res: Result, dir: String): IndexedSeq[IndexedSeq[Msg]] = {
    val reps = (0 until 3).map { r =>
      val d = if (r == 0) dir else s"$dir-rep$r"
      new File(d).mkdirs()
      val (g, ms) = timeMs { val g = Messages.generate(ctx.seed, t); Messages.stage(g, d); g }
      if (r > 0) Fs.rm(new File(d))
      (g, ms)
    }
    res.layers("setup.stage_ms") = Stats.median(reps.map(_._2))
    val g = reps.head._1
    val sent = g.flatten
    val distinct = Messages.distinct(Seq(sent))
    res.inputs("records") = sent.size
    res.inputs("distinct_messages") = distinct.size
    res.inputs("wire_files") = g.size
    res.inputs("wire_bytes") = Fs.usage(new File(dir))._1
    res.inputs("plaintext_bytes") = plainBytes(distinct)
    res.inputs("months") = distinct.map(_.month).distinct.sorted
    res.inputs("stanza_bytes_mean") = sent.map(_.stanza.getBytes("UTF-8").length).sum.toDouble / sent.size
    g
  }

  private def plainBytes(ms: Seq[Msg]): Long =
    ms.map(m => (m.msgId + m.username + m.jid + m.stanza).getBytes("UTF-8").length + 8L).sum

  private def tail(res: Result, name: String, xs: Seq[Double]): Double = {
    val (v, p, n) = Stats.tail(xs)
    val j = new Json; j("value") = v; j("percentile") = p; j("n") = n
    res.tails(name) = j
    v
  }

  /** Check the tables of one drain; a wrong table fails every batch. */
  private def checkDrain(ctx: Ctx, d: Drain, sent: Seq[Msg], files: Int, res: Result, tag: String): Unit = {
    val bad = Messages.checkTables(ctx.spark, d.detail, d.summary, sent)
    if (bad.nonEmpty) res.fail(files, s"$tag: ${bad.mkString("; ")}")
    val nb = d.batches.size
    if (d.fileBatch.size != files) res.fail(math.abs(files - d.fileBatch.size), s"$tag: ${d.fileBatch.size} of $files files committed")
    if (nb == 0) res.fail(1, s"$tag: no batch progress recorded")
  }

  private def storeUsage(d: Drain): (Long, Long, Long, Long) = {
    val (db, df) = Fs.usage(new File(d.detail))
    val (sb, sf) = Fs.usage(new File(d.summary))
    (db, df, sb, sf)
  }

  private def catchup(ctx: Ctx, a: Map[String, String], res: Result, heap: HeapPeak, trace: Boolean): Unit = {
    val t = Traffic(files = a("files").toInt, perFile = a("per-file").toInt)
    val nReads = a("reads").toInt
    val wire = s"${ctx.work}/wire"
    val g = stageThrice(ctx, t, res, wire)
    val sent = g.flatten
    val streams = new Streams(ctx)
    HostSpeed.markSetup()
    res.layers("setup.warmup_ms") = timeMs(streams.warmUp(3, 100, 12))._2
    res.layers("setup.prebuild_ms") = 0.0
    HostSpeed.markSetup()
    heap.reset()

    if (!trace) {
      // host-speed samples before and after the drain (median of five each)
      def refs() = Stats.median(Seq.fill(5)(HostSpeed.sample()))
      val ref0 = refs()
      val d = streams.drain("run", wire, t.files)
      val ref1 = refs()
      heap.sample()
      val (readMs, readFailed, readInfo) = streams.reads(d.detail, sent, nReads, None)
      heap.sample()
      val workS = (d.lastCommitMs - d.t0Ms) / 1000.0
      val batchMs = d.batches.map(_.durationMs.get("triggerExecution").toDouble)
      res.attempted = t.files + nReads
      if (readFailed > 0) res.fail(readFailed, s"$readFailed history reads returned wrong rows")
      checkDrain(ctx, d, sent, t.files, res, "catchup")
      val (db, _, sb, _) = storeUsage(d)
      val rps = sent.size / workS
      // CPU per batch between progress events: over the whole drain, and
      // over its later half, whose batches run against the larger tables,
      // so cost that grows with the table shows there first
      val ids = d.batches.map(_.batchId).sorted
      val half = ids.size / 2
      val drainScale = HostSpeed.scale(ref0, ref1)
      if (half == 0 || !ids.forall(d.cpuAtNs.contains)) res.fail(1, "catchup: CPU not sampled at every batch")
      else {
        val endNs = d.cpuAtNs(ids.last)
        val perBatch = (endNs - d.cpuStartNs) / 1e6 / ids.size
        res.e2e("op_cpu_ms") = perBatch * drainScale
        res.e2e("op_cpu_ms_slow") = (endNs - d.cpuAtNs(ids(half - 1))) / 1e6 / (ids.size - half) * drainScale
        res.named("op_cpu_ms_unscaled") = perBatch
      }
      res.e2e("read_cpu_ms") = readInfo("cpu_ms").asInstanceOf[Double] / nReads
      res.named("batch_ms_late") = Stats.median(batchMs.drop(half))
      res.named("stream_rps") = rps
      res.named("stream_s") = workS
      res.named("batch_ms_p50") = Stats.median(batchMs)
      res.named("batch_ms_tail") = tail(res, "batch_ms_tail", batchMs)
      res.named("read_ms_p50") = Stats.median(readMs)
      res.named("read_ms_tail") = tail(res, "read_ms_tail", readMs)
      res.named("store_bytes_per_input_byte") = (db + sb).toDouble / res.inputs("plaintext_bytes").asInstanceOf[Long]
    } else {
      // the traced run skips the measured drain. Untraced control drains
      // run before and after the traced one and the overhead is taken
      // against their mean, so JIT warming across the drains does not
      // read as overhead.
      res.attempted = 4 * t.files + nReads / 2
      def control(tag: String): Double = {
        val dc = streams.drain(tag, wire, t.files)
        checkDrain(ctx, dc, sent, t.files, res, s"catchup $tag")
        (dc.lastCommitMs - dc.t0Ms) / 1000.0
      }
      val before = control("control")
      val tr = new Tracer(ctx.spark)
      val dt = try {
        val dt = streams.drain("traced", wire, t.files)
        Bus.drain(ctx.spark, tr.exec)
        streamLayers(ctx, tr, dt, g, res)
        // half the reads and every other file keep the traced run in budget
        val (_, rf, rl) = streams.reads(dt.detail, sent, nReads / 2, Some(tr))
        if (rf > 0) res.fail(rf, s"traced pass: $rf history reads returned wrong rows")
        rl.keys.filter(_.startsWith("read.")).foreach(k => res.layers(k) = rl(k))
        Bus.drain(ctx.spark, tr.exec)
        val readJobs = tr.exec.jobList.filter(_.group.startsWith("read:"))
        res.layers("read.bytes_scanned") = tr.exec.sum(readJobs).inputBytes.toDouble / (nReads / 2)
        directPass(ctx, tr, wire, g, res)
        checkDrain(ctx, dt, sent, t.files, res, "catchup traced")
        dt
      } finally tr.close()
      tr.spans.write(ctx.work + "/../spans.jsonl")
      val controlS = (before + control("control2")) / 2
      val tracedS = (dt.lastCommitMs - dt.t0Ms) / 1000.0
      res.layers("trace.overhead_pct") = (tracedS - controlS) / controlS * 100
      // scaling: the same backlog at local[1]
      ctx.spark.stop()
      ctx.spark = GraftSession.get(1)
      val d1 = new Streams(ctx).drain("one", wire, t.files)
      checkDrain(ctx, d1, sent, t.files, res, "catchup local[1]")
      val rps1 = sent.size / ((d1.lastCommitMs - d1.t0Ms) / 1000.0)
      res.layers("scaling.stream_rps_1cpu") = rps1
      res.layers("scaling.speedup") = sent.size / controlS / rps1
    }
  }

  /** Per-layer numbers of one traced drain: streaming phases from the
    * progress events, sink spans from the jobs `MessagePipeline` labels
    * "batch N: detail upsert" / "batch N: summary upsert".
    */
  private def streamLayers(ctx: Ctx, tr: Tracer, d: Drain, g: IndexedSeq[IndexedSeq[Msg]], res: Result): Unit = {
    val L = res.layers
    val bs = d.batches
    def phase(p: String) = bs.map(b => Option(b.durationMs.get(p)).map(_.toDouble).getOrElse(0.0))
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .foreach(p => L(s"streaming.${p}_ms") = Stats.median(phase(p)))
    val add = phase("addBatch")
    val k = math.min(10, add.size / 2)
    L("streaming.addBatch_creep") =
      if (k == 0) 1.0 else (add.takeRight(k).sum / k) / math.max(1e-9, add.take(k).sum / k)
    L("streaming.batches") = bs.size.toDouble
    L("streaming.records_per_batch") = bs.map(_.numInputRows.toDouble).sum / math.max(1, bs.size)

    // events still queued from an earlier pass can reach a fresh listener:
    // keep only jobs that started inside this drain
    val jobs = tr.exec.jobList.filter(j => j.startMs >= d.t0Ms && j.startMs <= d.lastCommitMs)
    val batchRe = "batch (\\d+): (detail|summary) upsert".r
    val bySink = jobs.flatMap(j => batchRe.findFirstMatchIn(j.desc).map(m => (m.group(1).toLong, m.group(2), j)))
    def sinkSpan(b: Long, s: String): Option[(Long, Long)] = {
      val js = bySink.filter(x => x._1 == b && x._2 == s).map(_._3).filter(_.endMs > 0)
      if (js.isEmpty) None else Some((js.map(_.startMs).min, js.map(_.endMs).max))
    }
    val batchIds = bySink.map(_._1).distinct.sorted
    var detailMs = 0.0; var summaryMs = 0.0; var detailCritical = 0
    batchIds.foreach { b =>
      val root = d.progress.find(_.batchId == b).map { p =>
        val end = d.commitMs.getOrElse(b, System.currentTimeMillis())
        tr.spans.add(s"batch:$b", 0, "streaming.batch",
          tr.ns(java.time.Instant.parse(p.timestamp).toEpochMilli), tr.ns(end),
          Map("rows" -> p.numInputRows) ++ p.durationMs.asScala.map { case (k, v) => s"phase.$k" -> v.longValue() })
      }.getOrElse(0)
      val ds = sinkSpan(b, "detail"); val ss = sinkSpan(b, "summary")
      ds.foreach { case (s, e) => detailMs += e - s; tr.spans.add(s"batch:$b", root, "sink.detail", tr.ns(s), tr.ns(e)) }
      ss.foreach { case (s, e) => summaryMs += e - s; tr.spans.add(s"batch:$b", root, "sink.summary", tr.ns(s), tr.ns(e)) }
      if (ds.map(x => x._2 - x._1).getOrElse(0L) >= ss.map(x => x._2 - x._1).getOrElse(0L)) detailCritical += 1
    }
    val dj = bySink.filter(_._2 == "detail").map(_._3)
    val sj = bySink.filter(_._2 == "summary").map(_._3)
    val dm = tr.exec.sum(dj); val sm = tr.exec.sum(sj)
    val inRows = bs.map(_.numInputRows).sum.toDouble
    L("sink.detail_ms") = detailMs
    L("sink.summary_ms") = summaryMs
    L("sink.critical_detail_share") = detailCritical.toDouble / math.max(1, batchIds.size)
    L("sink.detail_bytes_read") = dm.inputBytes.toDouble
    L("sink.detail_bytes_written") = dm.outputBytes.toDouble
    L("sink.detail_write_amp") = dm.outputRows / math.max(1.0, inRows)
    L("sink.detail_partitions") = g.map(_.map(_.month).distinct.size).sum.toDouble / g.size
    L("sink.summary_bytes_read") = sm.inputBytes.toDouble
    val batchTriples = g.map(_.map(m => (m.username, m.jid, m.month)).distinct.size).sum.toDouble
    L("sink.summary_novel_ratio") = sm.outputRows / math.max(1.0, batchTriples)
    L("sink.jobs_failed") = jobs.count(_.failed).toDouble
    val (db, df, sb, sf) = storeUsage(d)
    L("sink.summary_files") = sf.toDouble
    L("store.detail_bytes") = db.toDouble
    L("store.detail_files") = df.toDouble
    L("store.summary_bytes") = sb.toDouble
    L("store.bytes_per_input_byte") = (db + sb).toDouble / res.inputs("plaintext_bytes").asInstanceOf[Long]
    execLayers(ctx, tr, jobs, (d.lastCommitMs - d.t0Ms).toDouble, res)
    val plans = tr.plan.all
    L("plan.analysis_ms") = plans.map(_.analysisMs).sum
    L("plan.optimization_ms") = plans.map(_.optimizationMs).sum
    L("plan.planning_ms") = plans.map(_.planningMs).sum
  }

  /** Cluster-side totals over the given jobs and wall time. */
  private def execLayers(ctx: Ctx, tr: Tracer, jobs: Seq[JobRec], wallMs: Double, res: Result): Unit = {
    val L = res.layers
    val m = tr.exec.sum(jobs)
    L("exec.jobs") = jobs.size.toDouble
    L("exec.stages") = tr.exec.stageCount(jobs).toDouble
    L("exec.tasks") = m.tasks.toDouble
    L("exec.task_ms") = m.runMs.toDouble
    L("exec.cpu_ms") = m.cpuMs.toDouble
    L("exec.gc_ms") = m.gcMs.toDouble
    L("exec.shuffle_read_bytes") = m.shuffleRead.toDouble
    L("exec.shuffle_write_bytes") = m.shuffleWrite.toDouble
    L("exec.spill_bytes") = m.spill.toDouble
    L("exec.input_bytes") = m.inputBytes.toDouble
    L("exec.output_rows") = m.outputRows.toDouble
    L("exec.slot_util") = m.runMs / math.max(1.0, wallMs * ctx.cpus)
    L("exec.slot_idle_ms") = math.max(0.0, wallMs * ctx.cpus - m.runMs)
  }

  /** Direct calls per wire file (every other one): `MessagePipeline.decode`,
    * then `Enrich` over the same file, each materialized with a `noop`
    * write, so the enrich self time excludes decode.
    */
  private def directPass(ctx: Ctx, tr: Tracer, wire: String, g: IndexedSeq[IndexedSeq[Msg]], res: Result): Unit = {
    val spark = ctx.spark
    val cfg = new Streams(ctx).cfg
    var decodeMs = 0.0; var enrichMs = 0.0; var records = 0L; var dropped = 0L
    val files = g.indices.filter(_ % 2 == 0)
    files.foreach { i =>
      val raw = spark.read.schema(Messages.wireSchema).parquet(f"$wire/f$i%05d.parquet")
      val (_, dId) = tr.spans.time(s"direct:$i", 0, "avro.decode") {
        MessagePipeline.decode(raw).write.format("noop").mode("overwrite").save()
      }
      val obs = org.apache.spark.sql.Observation(s"enrich_$i")
      val (_, eId) = tr.spans.time(s"direct:$i", 0, "pipeline.enrich") {
        Enrich(MessagePipeline.decode(raw), cfg).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
      }
      val all = tr.spans.all
      val (ds, es) = (all.find(_.id == dId).get, all.find(_.id == eId).get)
      decodeMs += ds.ms
      enrichMs += math.max(0.0, es.ms - ds.ms)
      records += g(i).size
      dropped += g(i).size - obs.get("n").asInstanceOf[Long]
    }
    val L = res.layers
    L("avro.decode_ms") = decodeMs
    L("avro.records") = records.toDouble
    L("avro.ns_per_record") = decodeMs * 1e6 / math.max(1L, records)
    L("pipeline.enrich_ms") = enrichMs
    L("pipeline.ns_per_record") = enrichMs * 1e6 / math.max(1L, records)
    L("pipeline.aes_bytes") = files.flatMap(g(_)).map(_.stanza.getBytes("UTF-8").length.toLong).sum.toDouble
    L("pipeline.rows_dropped") = dropped.toDouble
  }

  // ---- query mix -----------------------------------------------------------

  val builtOnceBacked = Set("pipe_ingest_neardup", "sim_ivf_index_topk", "sim_ivf_index_append",
    "text_longest_dup", "text_longest_dup_bound")

  private def family(q: String): String = q.takeWhile(_ != '_')

  /** The query data sets live in a per-build directory made by the build
    * (`gen_data`); they are read-only inputs, like the repository test tables.
    */
  private def dataDirs(a: Map[String, String], res: Result): (String, String) = {
    val (bench, warm) = (s"${a("data")}/bench", s"${a("data")}/warm")
    require(new File(bench, "_GENERATED").isFile && new File(warm, "_GENERATED").isFile,
      s"query data missing under ${a("data")}")
    res.inputs("bench_sf") = a("bench-sf").toDouble
    res.inputs("warm_sf") = a("warm-sf").toDouble
    res.inputs("bench_data_bytes") = Fs.usage(new File(bench))._1
    res.layers("setup.stage_ms") = 0.0
    (bench, warm)
  }

  /** Build step: generate both query data sets with the program's
    * deterministic generator (`graft.sources.Synthetic`).
    */
  private def genData(ctx: Ctx, a: Map[String, String], res: Result): Unit = {
    Seq("bench" -> a("bench-sf").toDouble, "warm" -> a("warm-sf").toDouble).foreach { case (n, sf) =>
      val dir = s"${a("data")}/$n"
      graft.sources.Synthetic.generate(ctx.spark, dir, sf)
      java.nio.file.Files.writeString(new File(dir, "_GENERATED").toPath, s"sf=$sf\n")
    }
    res.attempted = 1
  }

  /** Per query: median times, CPU per sample, and the distinct row counts
    * and content hashes `run.py` checks against the expected file.
    */
  private def recordQueries(res: Result, names: Seq[String], runs: Seq[QRun]): Unit =
    names.foreach { n =>
      val rs = runs.filter(_.name == n)
      val j = new Json
      j("ms") = Stats.median(rs.map(_.totalMs)); j("build_ms") = Stats.median(rs.map(_.buildMs))
      j("cpu_ms") = rs.map(_.cpuMs)
      j("rows") = rs.map(_.rows).distinct; j("hash") = rs.map(_.hash).distinct; j("samples") = rs.size
      res.queries(n) = j
    }

  private def queryMix(ctx: Ctx, a: Map[String, String], res: Result, heap: HeapPeak, trace: Boolean): Unit = {
    val names = a("queries").split(",").toSeq
    val (bench, warm) = dataDirs(a, res)
    val qm = new QueryMix(ctx)
    // warm-up over the small data set only (the BuiltOnce prebuild below
    // is those queries' warm-up); any failure fails the run
    val (warmRuns, warmMs) = timeMs(names.filterNot(builtOnceBacked).map(n => qm.timed(n, warm, "warm", selfTest = true)))
    warmRuns.filter(_.error.nonEmpty).foreach(r => res.fail(1, s"warm-up ${r.name}: ${r.error.get}"))
    res.layers("setup.warmup_ms") = warmMs
    HostSpeed.markSetup()
    val (pre, preMs) = timeMs(names.filter(builtOnceBacked).map(n => qm.timed(n, bench, "prebuild", selfTest = true)))
    pre.filter(_.error.nonEmpty).foreach(r => res.fail(1, s"BuiltOnce prebuild ${r.name}: ${r.error.get}"))
    res.layers("setup.prebuild_ms") = preMs
    HostSpeed.markSetup()
    (warmRuns ++ pre).flatMap(_.lost).foreach(l => res.fail(1, s"self-test: $l"))
    res.inputs("setup_ms_by_query") = (warmRuns ++ pre).map(r => r.name -> math.round(r.totalMs)).toMap
    ctx.spark.catalog.clearCache()
    heap.reset()

    if (!trace) {
      val rng = new scala.util.Random(ctx.seed)
      // a host-speed sample before the first query and after every query
      val refs = mutable.ArrayBuffer(HostSpeed.sample())
      val rounds = (0 until a("rounds").toInt).map { r =>
        val round = rng.shuffle(names).map { n => val q = qm.timed(n, bench, s"r$r"); refs += HostSpeed.sample(); q }
        heap.sample()
        round
      }
      val runs = rounds.flatten.toSeq
      res.attempted = runs.size
      runs.filter(_.error.nonEmpty).foreach(r => res.fail(1, s"${r.name}: ${r.error.get}"))
      val perQuery = names.map(n => n -> Stats.median(runs.filter(r => r.name == n && r.error.isEmpty).map(_.totalMs)))
      recordQueries(res, names, runs)
      val ok = perQuery.map(_._2).filterNot(_.isNaN)
      val totalS = ok.sum / 1000.0
      val samples = runs.filter(_.error.isEmpty).map(_.totalMs)
      res.inputs("rounds") = rounds.size
      res.inputs("queries") = names.size
      // CPU per query at nominal host speed (each sample scaled by the
      // host-speed samples on either side of it): the median over rounds
      // of each query's samples
      val scaled = runs.indices.map(i => runs(i).cpuMs * HostSpeed.scale(refs(i), refs(i + 1)))
      def perQueryCpu(cpu: Int => Double) = names.map { n =>
        Stats.median(runs.indices.filter(i => runs(i).name == n && runs(i).error.isEmpty).map(cpu))
      }.filterNot(_.isNaN)
      val cpu = perQueryCpu(scaled)
      res.e2e("op_cpu_ms") = Stats.mean(cpu)
      res.e2e("op_cpu_ms_slow") = Stats.mean(cpu.sorted.drop(cpu.size / 2))
      res.e2e("read_cpu_ms") = Stats.geomean(cpu)
      res.named("op_cpu_ms_unscaled") = Stats.mean(perQueryCpu(i => runs(i).cpuMs))
      res.named("query_total_s") = totalS
      res.named("query_geomean_ms") = Stats.geomean(ok)
      res.named("query_ms_p50") = Stats.median(samples)
      res.named("query_ms_tail") = tail(res, "query_ms_tail", samples)
    } else {
      // the traced run skips the measured rounds. Untraced control rounds
      // run before and after the traced one; the overhead is taken against
      // their mean.
      res.attempted = 3L * names.size
      val before = names.map(n => qm.timed(n, bench, "control"))
      val tr = new Tracer(ctx.spark)
      val t0 = System.currentTimeMillis()
      val traced = try {
        val r = names.map { n =>
          val s0 = System.nanoTime()
          val q = qm.timed(n, bench, "traced")
          val root = tr.spans.add(s"q:$n", 0, "query", s0, s0 + (q.totalMs * 1e6).toLong)
          tr.spans.add(s"q:$n", root, "queries.build", s0, s0 + (q.buildMs * 1e6).toLong)
          q
        }
        Bus.drain(ctx.spark, tr.exec)
        r
      } finally tr.close()
      val wallMs = (System.currentTimeMillis() - t0).toDouble
      val control = before ++ names.map(n => qm.timed(n, bench, "control2"))
      control.filter(_.error.nonEmpty).foreach(r => res.fail(1, s"control ${r.name}: ${r.error.get}"))
      val controlS = control.map(_.totalMs).sum / 2 / 1000.0
      traced.filter(_.error.nonEmpty).foreach(r => res.fail(1, s"traced ${r.name}: ${r.error.get}"))
      recordQueries(res, names, control ++ traced)
      val L = res.layers
      val roots = tr.spans.all.filter(_.name == "query").map(s => s.trace.stripPrefix("q:") -> s).toMap
      // a query's jobs: its job group, started inside its own time window
      // (events still queued from the control round can reach the probe)
      val jobs = tr.exec.jobList.filter { j =>
        roots.get(j.group.stripPrefix("q:")).exists(r => tr.ns(j.startMs) >= r.startNs - 2000000L && tr.ns(j.startMs) <= r.endNs)
      }
      // plan records belong to the query whose time window holds them
      val plansOf = tr.plan.all.groupBy(p => roots.collectFirst {
        case (n, s) if tr.ns(p.startMs) >= s.startNs - 1000000L && tr.ns(p.startMs) <= s.endNs => n
      }).collect { case (Some(n), ps) => n -> ps }
      traced.foreach { q =>
        val root = roots(q.name)
        jobs.filter(_.group == s"q:${q.name}").foreach { j =>
          tr.spans.add(root.trace, root.id, "exec.job", tr.ns(j.startMs), tr.ns(math.max(j.startMs, j.endMs)),
            Map("job" -> j.id, "stages" -> j.stages.size))
        }
        plansOf.getOrElse(q.name, Nil).foreach { p =>
          tr.spans.add(root.trace, root.id, "plan.phases", tr.ns(p.startMs), tr.ns(p.startMs) + (p.totalMs * 1e6).toLong,
            Map("analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs, "planning_ms" -> p.planningMs))
        }
      }
      tr.spans.write(ctx.work + "/../spans.jsonl")
      L("queries.build_ms") = traced.map(_.buildMs).sum
      val eager = traced.filter(_.eager)
      L("queries.eager_count") = eager.size.toDouble
      L("queries.eager_ms") = eager.map(_.buildMs).sum
      val plans = plansOf.values.flatten.toSeq
      L("plan.analysis_ms") = plans.map(_.analysisMs).sum
      L("plan.optimization_ms") = plans.map(_.optimizationMs).sum
      L("plan.planning_ms") = plans.map(_.planningMs).sum
      val small = traced.filter(_.totalMs < 300).map(_.name).toSet
      val smallPlan = small.toSeq.flatMap(n => plansOf.getOrElse(n, Nil)).map(_.totalMs).sum
      L("plan.small_query_share") =
        if (small.isEmpty) 0.0 else smallPlan / traced.filter(q => small(q.name)).map(_.totalMs).sum
      execLayers(ctx, tr, jobs, wallMs, res)
      L("exec.output_rows") = traced.map(q => math.max(0L, q.rows)).sum.toDouble
      Seq("rel", "text", "dedup", "sim", "pipe", "ev", "msg", "mm").foreach { f =>
        L(s"family.${f}_s") = traced.filter(q => family(q.name) == f).map(_.totalMs).sum / 1000.0
      }
      res.layers("trace.overhead_pct") = (traced.map(_.totalMs).sum / 1000.0 - controlS) / controlS * 100
    }
  }

  /** One-off documentation table: each query timed with `count()`, with
    * the full `noop` write, and with the checked `noop` write the workload
    * times (median of `reps`, fresh cache each).
    */
  private def countVsNoop(ctx: Ctx, a: Map[String, String], res: Result): Unit = {
    val names = if (a("queries") == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted else a("queries").split(",").toSeq
    val (bench, warm) = dataDirs(a, res)
    val qm = new QueryMix(ctx)
    names.foreach(n => qm.timed(n, warm, "warm"))
    names.filter(builtOnceBacked).foreach(n => qm.timed(n, bench, "prebuild"))
    val reps = a.getOrElse("reps", "3").toInt
    names.foreach { n =>
      val c = (1 to reps).map { _ =>
        ctx.spark.catalog.clearCache()
        timeMs(graft.SparkEntry.queries(n)(ctx.spark, bench).count())._2
      }
      val w = (1 to reps).map { _ =>
        ctx.spark.catalog.clearCache()
        timeMs(graft.SparkEntry.queries(n)(ctx.spark, bench).write.format("noop").mode("overwrite").save())._2
      }
      // the workload's timed form: the noop write plus its row-count and
      // content-hash observation
      val k = (1 to reps).map(r => qm.timed(n, bench, s"cvn$r").totalMs)
      val j = new Json; j("count_ms") = Stats.median(c); j("noop_ms") = Stats.median(w)
      j("checked_ms") = Stats.median(k)
      res.queries(n) = j
    }
    res.attempted = names.size
  }
}
