package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One lifecycle for the persisted intermediates of lazy query plans,
  * scoped per `SparkSession`.
  *
  * An operator whose returned plan still reads a persisted frame (a
  * signature cache, a sorted range partition, a scratch edge list) or
  * a scratch dir (an Avro round trip's files) registers it here instead
  * of handing its caller a release handle; anything an operator frees
  * before it returns keeps its own `try/finally`. [[release]] frees
  * everything a session registered. The registry
  * ([[graft.SparkEntry.queries]]) calls it before every build, so a
  * registry frame stays valid until the next registry build in that
  * session. Direct operator callers call it once they are done with
  * the frames they built.
  *
  * This is the one idiom for query-lifetime temp state; state that
  * outlives a session is a [[graft.queries.BuiltOnce]] artifact.
  */
object Intermediates {

  private val sessions =
    scala.collection.mutable.HashMap.empty[SparkSession, ArrayBuffer[() => Unit]]

  /** The [[scratch]] bodies running on this thread, innermost first:
    * what they register is theirs, released once their write is done.
    */
  private val open = new ThreadLocal[List[ArrayBuffer[() => Unit]]] {
    override def initialValue(): List[ArrayBuffer[() => Unit]] = Nil
  }

  /** Persist `df` (MEMORY_AND_DISK) and register its unpersist. On a
    * plan that is already cached the persist is a no-op in Spark, but
    * the registered unpersist still frees that cache when it runs.
    */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    onRelease(df.sparkSession) { df.unpersist(); () }
    df
  }

  /** A fresh `graft_<tag>_<uuid>` dir path whose recursive delete is
    * registered like any other intermediate: the caller writes into it,
    * and the dir is gone at the session's next [[release]] (for the
    * registry, its next build). Nothing is created here.
    *
    * The dir lives under the Spark checkpoint dir when one is
    * configured (a shared filesystem on a real cluster); LOCAL MODE may
    * fall back to the driver's tmp dir (as an explicit `file:` path),
    * but a non-local session without a checkpoint dir is a loud error —
    * executors resolving a bare tmp path against a non-local default
    * filesystem would each write somewhere else.
    */
  def scratchDir(spark: SparkSession, tag: String): String = {
    val base = spark.sparkContext.getCheckpointDir.getOrElse {
      require(spark.sparkContext.isLocal,
        "Intermediates.scratchDir needs a Spark checkpoint dir on a shared " +
          "filesystem when not in local mode (sc.setCheckpointDir) — " +
          "the driver-local tmp fallback is meaningless to executors")
      "file:" + System.getProperty("java.io.tmpdir")
    }
    val dir = new Path(base,
      s"graft_${tag}_${java.util.UUID.randomUUID().toString.take(12)}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    onRelease(spark) { fs.delete(dir, true); () }
    dir.toString
  }

  /** Evaluate `body` ONCE into a [[scratchDir]] as parquet and return
    * the read-back frame. Everything `body` registered is released as
    * soon as the write completes (the data now lives on disk); the
    * dir's delete is registered in its place.
    *
    * Storage-level caching is the wrong tool for a plan that is both
    * expensive and consumed by several actions (e.g. a PPJoin edge
    * list feeding the components loop): cached blocks compete for the
    * executor memory the plan's own shuffles need, and an evicted block
    * silently RE-EVALUATES the whole upstream plan at the next action
    * (measured: sf10 `dedup_components` cost 2.5× its own edge input
    * when the loop's actions fell out of cache). The round-trip pins
    * the cost at one evaluation plus one small columnar write.
    */
  def scratch(tag: String)(body: => DataFrame): DataFrame = {
    val inner = ArrayBuffer.empty[() => Unit]
    open.set(inner :: open.get)
    try {
      val df = try body finally open.set(open.get.tail)
      val dir = scratchDir(df.sparkSession, tag)
      df.write.parquet(dir)
      df.sparkSession.read.parquet(dir)
    } finally runAll(inner.toSeq)
  }

  /** Run every release registered with `spark` (latest first). Each is
    * NonFatal-guarded, so a failing release never stops the others.
    */
  def release(spark: SparkSession): Unit =
    runAll(synchronized(sessions.remove(spark)).toSeq.flatten)

  /** Register a release with the innermost open [[scratch]] body on
    * this thread, else with `spark` — also for persists that are not
    * a DataFrame's (persisted-RDD lineage cuts).
    */
  private[operators] def onRelease(spark: SparkSession)(f: => Unit): Unit =
    open.get match {
      case inner :: _ => inner += (() => f)
      case Nil => synchronized {
        sessions.getOrElseUpdate(spark, ArrayBuffer.empty) += (() => f)
      }
    }

  private def runAll(fs: Seq[() => Unit]): Unit =
    fs.reverseIterator.foreach(f => try f() catch { case NonFatal(_) => () })
}
