package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

import graft.SparkEntry

/** One timed registry query: closure + full `noop` write. */
final case class QRun(name: String, buildMs: Double, totalMs: Double, rows: Long, hash: String,
    error: Option[String], lost: Seq[String] = Nil, eager: Boolean = false, cpuMs: Double = 0)

/** The `query_mix` workload: named registry queries, each built through
  * `SparkEntry.queries(name)(spark, dir)` and written in full to Spark's
  * `noop` sink, with row count and an order-independent content hash
  * taken by `Dataset.observe` during that same write.
  */
final class QueryMix(ctx: Ctx) {
  import ctx._

  /** Positional column names (outputs may repeat or dot-qualify names);
    * map columns hash through their JSON form (hash rejects maps).
    */
  private def hashable(df: DataFrame): DataFrame = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    d.select(d.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Time one query: build (closure) then materialize everything. With
    * `selfTest`, also compare the optimized plans of the query and of
    * its timed write (see [[lostExpressions]]).
    */
  def timed(name: String, dir: String, tag: String, selfTest: Boolean = false): QRun = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(s"q:$name", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val c0 = Cpu.ns
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      val t1 = System.nanoTime()
      // an eager registry entry executes inside its closure and returns
      // its cached result
      val eager = !spark.sharedState.cacheManager.isEmpty
      val obs = Observation(s"chk_${tag}_$name")
      val h = hashable(df)
      val cols = h.columns.map(col).toIndexedSeq
      val hashExpr = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
      val write = h.observe(obs, count(lit(1)).as("n"), sum(hashExpr.cast(DecimalType(38, 0))).as("h"))
        .write.format("noop").mode("overwrite")
      val cap = if (selfTest) Some(new CapturePlan) else None
      cap.foreach(spark.listenerManager.register)
      val (t2, c2) = try { write.save(); (System.nanoTime(), Cpu.ns) }
        catch { case NonFatal(e) => cap.foreach(spark.listenerManager.unregister); throw e }
      val m = obs.get
      // listener events arrive asynchronously: unregister only after ours
      val lost = cap.toSeq.flatMap { c =>
        c.await()
        spark.listenerManager.unregister(c)
        c.plan.map(w => lostExpressions(name, df.queryExecution.optimizedPlan, w))
          .getOrElse(Seq(s"$name: write plan not captured"))
      }
      QRun(name, (t1 - t0) / 1e6, (t2 - t0) / 1e6, m("n").asInstanceOf[Long],
        Option(m("h")).map(_.toString).getOrElse("0"), None, lost, eager, (c2 - c0) / 1e6)
    } catch {
      case NonFatal(e) =>
        QRun(name, 0, (System.nanoTime() - t0) / 1e6, -1, "", Some(e.toString.linesIterator.next().take(300)))
    } finally sc.clearJobGroup()
  }

  /** Expression-class census of a plan (CollectMetrics nodes excluded:
    * they are the harness's own observation, not the query's output).
    */
  private def census(p: LogicalPlan): Map[String, Int] =
    p.collect { case n if !n.isInstanceOf[CollectMetrics] => n.expressions }.flatten
      .flatMap(_.collect { case e => e.getClass.getSimpleName }).groupBy(identity).map { case (k, v) => k -> v.size }

  private def aesInvokes(p: LogicalPlan): Int =
    p.collect { case n => n.expressions }.flatten.flatMap(_.collect {
      case s: StaticInvoke if s.functionName.toLowerCase.contains("aes") => 1
    }).sum

  /** Self-test: the timed action keeps every output expression of the
    * query. The optimized plan of its `noop` write must contain at least
    * as many expressions of every class as the query's own optimized
    * plan, and `msg_pipeline_encrypted` must keep both AES
    * `StaticInvoke` nodes. Returns the violations.
    */
  def lostExpressions(name: String, q: LogicalPlan, w: LogicalPlan): Seq[String] = {
    val (qc, wc) = (census(q), census(w))
    val lost = qc.collect { case (k, n) if wc.getOrElse(k, 0) < n => s"$k ${wc.getOrElse(k, 0)}/$n" }
    val aes = if (name == "msg_pipeline_encrypted") {
      val (a, b) = (aesInvokes(q), aesInvokes(w))
      if (a >= 2 && b == a) Nil else Seq(s"AES StaticInvoke nodes query=$a write=$b (expected both kept)")
    } else Nil
    (lost.toSeq.sorted ++ aes).map(x => s"$name: noop write dropped $x")
  }
}

/** Captures the optimized plan of the next `save` command. */
final class CapturePlan extends org.apache.spark.sql.util.QueryExecutionListener {
  @volatile var plan: Option[LogicalPlan] = None
  private val latch = new java.util.concurrent.CountDownLatch(1)
  override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
    if (plan.isEmpty) { plan = Some(qe.optimizedPlan); latch.countDown() }
  override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  def await(): Unit = { latch.await(30, java.util.concurrent.TimeUnit.SECONDS); () }
}
