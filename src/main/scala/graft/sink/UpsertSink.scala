package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

/** Idempotent keyed upsert into a parquet-backed table — the engine's
  * stand-in for the reference's Cassandra INSERT-as-upsert
  * (CassandraOutputFormat.java:101-137). Cassandra gives last-write-wins
  * per primary key for free; on files we realize the same contract with
  * key-dedup on merge, so at-least-once replay converges to the same
  * table (the reference's effectively-once argument, SURVEY.md §2.8).
  *
  * Scale notes: the table is partitioned by a bucket column
  * (`date_partition` for history — one month per partition); a merge only
  * rewrites partitions present in the incoming batch (dynamic partition
  * overwrite), and each touched month is rewritten whole. A live stream
  * writes mostly into the current month, so every batch pays O(month so
  * far) bytes, not O(batch) (ROADMAP direction 1 has the measurements).
  * A real cluster deployment would swap this for the Cassandra connector
  * or a merge-on-read table format behind the same methods.
  *
  * Each write runs up to 5 times, the reference's retry budget
  * (CassandraOutputFormat.java:93,97), and a write that fails every
  * attempt fails the batch. The reference also stepped each retry down a
  * consistency level; a parquet table has no consistency levels.
  */
final class ParquetUpsertSink(
    spark: SparkSession,
    path: String,
    partitionCol: Option[String] = None
) {

  import ParquetUpsertSink._

  /** Distinct-set materialization (the summary table's converged upsert
    * semantics, SURVEY.md §2.6 A1): every column is the key; replay is a
    * set-union no-op.
    *
    * r18 (guide §2.4/§6): APPEND-only-novel instead of rewrite-all. The
    * old form unioned the whole existing table with the batch,
    * re-distinct-ed and OVERWROTE — O(table) bytes rewritten per batch,
    * O(n²) cumulative over a stream's life. Now the batch's distinct
    * rows anti-join the existing table (null-safe on every column, so a
    * row with NULLs cannot be re-appended forever) and only the novel
    * rows are appended: O(batch) writes per batch, and the table stays
    * distinct by induction (it only ever receives rows proven absent).
    * Replay/abort contract unchanged: a replayed batch's rows are all
    * present, the anti-join drops them, the append writes nothing; an
    * aborted append publishes nothing (task-commit protocol), so the
    * retry re-runs against unchanged state. Trade-off: one small file
    * set per batch instead of a monolith — the compaction story for
    * long-lived tables is [[Retention.compact]]'s dynamic-overwrite
    * pattern, which this sink's tables already need for TTL anyway.
    */
  def upsertDistinct(batch: DataFrame): Unit =
    retried {
      val existing = ParquetUpsertSink.readExisting(spark, path, batch)
      val fresh = batch.distinct()
      val cond = batch.columns.toSeq
        .map(c => fresh(c) <=> existing(c)).reduce(_ && _)
      val novel = fresh.join(existing, cond, "left_anti")
      val w = novel.write.mode(SaveMode.Append)
      partitionCol match {
        case Some(p) => w.partitionBy(p).parquet(path)
        case None => w.parquet(path)
      }
    }

  /** Upsert `batch` by `keys`; later writes win within a batch via
    * `versionCol` ordering (ties broken deterministically).
    *
    * The table merges per partition bucket: last-write-wins is global
    * only when `keys` functionally determine the bucket value
    * (re-deriving it from the same payload fields on every write, as the
    * reference derives `date_partition` from `sentTime` —
    * CassandraOutputFormat.java:106). A later write for an existing key
    * whose DERIVED bucket changed (e.g. a corrected timestamp crossing a
    * month) lands in the new bucket and leaves the old row alive in the
    * old one — exactly what the reference's Cassandra schema does, since
    * `date_partition` is the table's partition key and a changed value
    * addresses a different Cassandra row. That is the contract: one row
    * per key within a bucket, and one row per key across the table only
    * while the keys determine the bucket. The merge never reads or
    * rewrites a bucket the batch does not touch.
    *
    * The touched partition values are collected in one action and the
    * merge/write runs in another, so `batch` is evaluated twice. If the
    * two evaluations disagreed, dynamic overwrite could rewrite a
    * partition missing from the collected values with batch rows only,
    * dropping that partition's existing rows. So a batch that is neither
    * persisted nor deterministic is persisted here for the call
    * ([[pinned]]). The production caller,
    * [[graft.streaming.MessagePipeline.run]], persists each micro-batch
    * itself, and a deterministic batch pays nothing.
    */
  def upsert(batch: DataFrame, keys: Seq[String], versionCol: String): Unit =
    pinned(batch) { retried {
      val existing = readExisting(spark, path, batch)
      // restrict the merge to partitions the batch touches — key dedup is
      // therefore per-partition (the per-bucket contract above).
      // r18 (guide §6): the touched buckets are COLLECTED (micro-batch-
      // small by contract — months per batch) and pushed as a partition
      // filter instead of the old broadcast semi-join: an IN on the
      // partition column prunes at PLANNING, so the merge lists and
      // reads only the touched partitions' files — O(touched) scan per
      // batch where the semi-join form scanned every partition of the
      // table and filtered rows at runtime. Null parity with the join:
      // a null bucket never equals anything in either form, so
      // null-partition rows are never merged by both.
      val merged = partitionCol match {
        case Some(p) =>
          val touchedVals = batch.select(col(p)).distinct().collect().map(_.get(0))
          val relevant =
            if (touchedVals.isEmpty) existing.limit(0)
            else existing.filter(col(p).isInCollection(touchedVals.toSeq))
          dedupByKey(relevant.unionByName(batch), keys, versionCol)
        case None =>
          dedupByKey(existing.unionByName(batch), keys, versionCol)
      }
      write(merged, path, partitionCol)
    }}

  /** Runs `body` with every evaluation of `batch` yielding the same rows:
    * as is when `batch` is persisted or its analyzed plan is
    * deterministic, else with `batch` persisted until `body` ends.
    */
  private def pinned(batch: DataFrame)(body: => Unit): Unit =
    if (batch.storageLevel != StorageLevel.NONE ||
        batch.queryExecution.analyzed.deterministic) body
    else {
      batch.persist()
      try body finally batch.unpersist()
    }

  /** Runs `op` until it succeeds, at most [[Attempts]] times, and
    * rethrows the last attempt's failure. A fatal error or an interrupt
    * (`query.stop()`) is not retried.
    */
  private def retried(op: => Unit, attempt: Int = 1): Unit =
    try op
    catch { case NonFatal(_) if attempt < Attempts => retried(op, attempt + 1) }

  private def write(df: DataFrame, path: String, pcol: Option[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    pcol match {
      case Some(p) =>
        // only replace partitions present in df
        w.option("partitionOverwriteMode", "dynamic").partitionBy(p).parquet(path)
      case None => w.parquet(path)
    }
  }

  /** The table as a DataFrame — the history read, one (user, month)
    * lookup being `read().filter(...)` on the partition column. Planned
    * through [[graft.sources.ParquetRead]]: the schema comes from one
    * footer on the driver, so the read's only Spark job is the caller's
    * action. A missing or empty table raises Spark's own error.
    */
  def read(): DataFrame = graft.sources.ParquetRead(spark, path)
}

object ParquetUpsertSink {

  /** Attempts per write: the reference's budget. */
  private val Attempts = 5

  /** Last-write-wins per key: max(versionCol) row kept; ties broken by a
    * total order over all columns so replays are deterministic.
    */
  def dedupByKey(df: DataFrame, keys: Seq[String], versionCol: String): DataFrame = {
    val orderCols = col(versionCol).desc +:
      df.columns.filterNot(keys.contains).filterNot(_ == versionCol)
        .map(c => col(c).desc).toSeq
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private def readExisting(spark: SparkSession, path: String, like: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      spark.read.schema(like.schema).parquet(path)
    else like.limit(0)
  }
}

/** Retention-as-predicate: parquet has no row TTL (Cassandra's `USING TTL
  * n`, CassandraOutputFormat.java:86-90); the equivalent contract is a
  * read-side filter plus a compaction that physically drops expired rows.
  */
object Retention {
  def live(df: DataFrame, tsCol: String, ttlSeconds: Long, nowEpochSec: Long): DataFrame =
    if (ttlSeconds <= 0) df
    else df.filter(unix_timestamp(col(tsCol)) > lit(nowEpochSec - ttlSeconds))

  /** Physical TTL enforcement: rewrite only the partitions that still
    * contain live rows and drop fully-expired ones — the compaction job
    * that, together with [[live]], gives parquet the observable behavior
    * of Cassandra's `USING TTL n` (CassandraOutputFormat.java:86-90).
    * With a month-bucket partition column, cost is O(expiring months),
    * not O(table).
    */
  def compact(
      spark: SparkSession, path: String, tsCol: String,
      partitionCol: String, ttlSeconds: Long, nowEpochSec: Long): Unit = {
    if (ttlSeconds <= 0) return
    val table = graft.sources.ParquetRead(spark, path)
    val cutoff = nowEpochSec - ttlSeconds
    // partitions containing at least one expired row need rewriting;
    // everything else is untouched (dynamic partition overwrite)
    val touched = table
      .filter(unix_timestamp(col(tsCol)) <= lit(cutoff))
      .select(partitionCol).distinct()
    val rewritten = table
      .join(broadcast(touched), Seq(partitionCol), "left_semi")
      .filter(unix_timestamp(col(tsCol)) > lit(cutoff))
      .persist()
    val stillLive = rewritten.select(partitionCol).distinct()
      .collect().map(_.get(0).toString).toSet
    rewritten.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)
    // dynamic overwrite only replaces partitions it writes rows into;
    // fully-expired partitions produce no rows and must be dropped
    // explicitly (small driver-side list of month buckets, not data)
    val touchedVals = touched.collect().map(_.get(0).toString)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touchedVals.filterNot(stillLive).foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$partitionCol=$p"), true)
    }
    rewritten.unpersist()
    ()
  }
}
