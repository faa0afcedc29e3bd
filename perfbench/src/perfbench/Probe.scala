package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** CPU time of the JVM's Java threads: the driver, Spark's task and
  * helper threads, and the program's own threads. The VM's JIT-compiler
  * and GC threads are not Java threads and are left out: the compiler
  * queue drains whenever it gets to it, so its work lands on whichever
  * operation happens to be running. Time spent waiting for a processor is
  * not counted; how fast the processor runs is (see [[HostSpeed]]). A
  * thread that starts and ends between two readings is missed.
  */
object Cpu {
  private val th = ManagementFactory.getThreadMXBean
  def ns: Long = th.getAllThreadIds.map(th.getThreadCpuTime).filter(_ > 0).sum
}

/** Host speed. On a shared host the same instructions take more or less
  * CPU time from minute to minute, with what other tenants run on the
  * sibling hyperthreads, caches and memory bus. This reference job holds no
  * program code (fill, sort and hash-count 256 Ki longs, 2.5 MB per
  * thread), runs on four threads at once, one per core of a 4-core host,
  * and is timed in each thread's CPU time; its time therefore follows the
  * host only. The CPU metrics are scaled by `nominalMs / sample` to what
  * they would be at a fixed host speed.
  */
object HostSpeed {
  /** The job's typical CPU time per thread on the 4-core host the
    * benchmark was tuned on.
    */
  val nominalMs = 30.0
  private val threads = 4
  private val th = ManagementFactory.getThreadMXBean
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-hostspeed"); t.setDaemon(true); t
  })
  @volatile private var sink = 0L
  val samples = mutable.ArrayBuffer[Double]()

  private def once(): Double = {
    val c0 = th.getCurrentThreadCpuTime
    val r = new java.util.SplittableRandom(42)
    val a = new Array[Long](1 << 18)
    var i = 0
    while (i < a.length) { a(i) = r.nextLong(); i += 1 }
    java.util.Arrays.sort(a)
    val table = new Array[Long](1 << 16)
    i = 0
    while (i < a.length) { table(((a(i) * 0x9E3779B97F4A7C15L) >>> 48).toInt) += a(i); i += 1 }
    sink += table(7)
    (th.getCurrentThreadCpuTime - c0) / 1e6
  }

  /** JIT-compile the job before the first sample. */
  def warm(): Unit = (1 to 10).foreach(_ => run())

  private def run(): Double = {
    val fs = (1 to threads).map(_ => pool.submit(() => once()))
    fs.map(_.get()).sum / threads
  }

  /** Mean CPU ms per thread of one run of the job; kept for the report. */
  def sample(): Double = { val v = run(); samples += v; v }

  /** Factor that takes CPU time measured between two samples to the
    * nominal host speed.
    */
  def scale(before: Double, after: Double): Double = nominalMs / ((before + after) / 2)

  /** Medians of three samples taken between the set-up phases. */
  val setup = mutable.ArrayBuffer[Double]()
  def markSetup(): Unit = setup += Stats.median(Seq.fill(3)(sample()))
}

/** Peak live heap: the old generation's usage right after a forced full
  * GC, sampled at fixed points (the end of each measured phase), maximum
  * kept. Fixed sampling points keep the figure independent of when the
  * collector happens to run.
  */
final class HeapPeak {
  private var peak = 0L
  private def oldPool(name: String) = name.contains("Old Gen") || name.contains("Tenured")

  /** Force a full GC and fold the old generation's usage after it in. The
    * second GC, after Spark's cleaner has had a moment to drop the blocks
    * and broadcasts the first one made unreachable, counts.
    */
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => oldPool(p.getName)).foreach { p =>
      Option(p.getCollectionUsage).foreach(u => peak = math.max(peak, u.getUsed))
    }
  }
  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
}

/** One recorded span: a named interval with its parent and trace id. */
final case class Span(trace: String, id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, Any] = Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span store; written out once when the run ends. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  def add(trace: String, parent: Int, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty): Int = {
    val id = ids.incrementAndGet()
    q.add(Span(trace, id, parent, name, startNs, endNs, attrs))
    id
  }
  def time[T](trace: String, parent: Int, name: String)(f: => T): (T, Int) = {
    val t0 = System.nanoTime()
    val r = f
    (r, add(trace, parent, name, t0, System.nanoTime()))
  }
  def all: Seq[Span] = q.asScala.toSeq.sortBy(s => (s.startNs, s.id))

  /** Self time of a span: its duration minus the union of its children. */
  def selfMs(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  def write(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    val spans = all
    try spans.foreach { s =>
      val j = new Json
      j("trace") = s.trace; j("id") = s.id; j("parent") = s.parent; j("name") = s.name
      j("start_ns") = s.startNs; j("end_ns") = s.endNs; j("ms") = s.ms; j("self_ms") = selfMs(s, spans)
      s.attrs.foreach { case (k, v) => j(k) = v }
      w.write(j.render); w.newLine()
    } finally w.close()
  }
}

/** Per-job execution record, built from Spark's listener events. */
final class JobRec(val id: Int, val desc: String, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var failed = false
  val stages = mutable.ArrayBuffer[Int]()
}

/** Stage-level task metrics summed per stage. */
final case class StageRec(tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, inputBytes: Long, outputBytes: Long, outputRows: Long)

/** SparkListener that keeps every job and completed stage; the harness
  * groups them by job group (queries, reads) or job description (the
  * per-batch sink labels `MessagePipeline` sets).
  */
final class ExecProbe extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val r = new JobRec(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""), e.time)
    r.stages ++= e.stageIds
    jobs.put(e.jobId, r)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { r =>
      r.endMs = e.time
      r.failed = e.jobResult != JobSucceeded
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, StageRec(i.numTasks, m.executorRunTime,
      m.executorCpuTime / 1000000L, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
  }

  def jobList: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)

  /** Summed stage metrics over the given jobs (each stage counted once). */
  def sum(js: Seq[JobRec]): StageRec = {
    val ss = js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
    StageRec(ss.map(_.tasks).sum, ss.map(_.runMs).sum, ss.map(_.cpuMs).sum, ss.map(_.gcMs).sum,
      ss.map(_.shuffleRead).sum, ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum,
      ss.map(_.inputBytes).sum, ss.map(_.outputBytes).sum, ss.map(_.outputRows).sum)
  }
  def stageCount(js: Seq[JobRec]): Int = js.flatMap(_.stages).distinct.count(stages.containsKey)
}

/** Planning phases of every query execution, from QueryExecution's own
  * phase tracker; `startMs` (epoch) places it in a query's time window.
  */
final class PlanProbe extends QueryExecutionListener {
  final case class Rec(startMs: Long, analysisMs: Double, optimizationMs: Double, planningMs: Double) {
    def totalMs: Double = analysisMs + optimizationMs + planningMs
  }
  val recs = new ConcurrentLinkedQueue[Rec]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(n: String) = ph.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    recs.add(Rec(start, ms("analysis"), ms("optimization"), ms("planning")))
    ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def all: Seq[Rec] = recs.asScala.toSeq
}

/** Drains Spark's asynchronous listener bus: Spark offers no public
  * flush, so wait for a marker job's end event to come through.
  */
object Bus {
  def drain(spark: SparkSession, exec: ExecProbe): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench:drain", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 20000
    while (System.currentTimeMillis() < deadline &&
      !exec.jobList.exists(j => j.group == "perfbench:drain" && j.endMs > 0)) Thread.sleep(20)
    exec.jobs.values().removeIf(_.group == "perfbench:drain")
    ()
  }
}
