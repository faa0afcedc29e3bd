package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Idempotent keyed upsert into a parquet-backed table — the engine's
  * stand-in for the reference's Cassandra INSERT-as-upsert
  * (CassandraOutputFormat.java:101-137). Cassandra gives last-write-wins
  * per primary key for free; on files we realize the same contract with
  * key-dedup on merge, so at-least-once replay converges to the same
  * table (the reference's effectively-once argument, SURVEY.md §2.8).
  *
  * Scale notes (100 TB): the table is partitioned by a bucket column
  * (`date_partition` for history — one month per partition); a merge only
  * rewrites partitions present in the incoming batch (dynamic partition
  * overwrite), so cost is O(touched months), not O(table). A real
  * cluster deployment would swap this for the Cassandra connector or a
  * merge-on-read table format behind the same methods.
  */
final class ParquetUpsertSink(
    spark: SparkSession,
    path: String,
    partitionCol: Option[String] = None,
    retry: RetryPolicy = RetryPolicy.default
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
    retry.run {
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
    * addresses a different Cassandra row. Callers needing global key
    * uniqueness across bucket changes use [[upsertGlobal]] (an extra key
    * anti-join over the stale buckets, deliberately not hidden inside
    * this O(touched-buckets) path).
    *
    * The touched partition values are collected in one action and the
    * merge/write runs in another, so `batch` is evaluated twice. If the
    * two evaluations disagreed, dynamic overwrite could rewrite a
    * partition missing from the collected values with batch rows only,
    * dropping that partition's existing rows. So a batch that is neither
    * persisted nor deterministic is persisted here for the call
    * ([[pinned]]). The production caller,
    * [[graft.streaming.MessagePipeline.start]], persists each micro-batch
    * itself, and a deterministic batch pays nothing.
    */
  def upsert(batch: DataFrame, keys: Seq[String], versionCol: String): Unit =
    pinned(batch) { retry.run {
      val existing = readExisting(spark, path, batch)
      // restrict the merge to partitions the batch touches — key dedup is
      // therefore per-partition; see the trait contract for the
      // keys-determine-partition requirement this relies on.
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

  /** [[upsert]] strengthened to GLOBAL key uniqueness: when a later write
    * for an existing key carries a different derived bucket value (e.g. a
    * corrected timestamp crossing a month), the stale row in the old,
    * otherwise-untouched partition is removed in the same commit — the
    * cross-bucket case the plain O(touched-buckets) path documents as out
    * of contract.
    *
    * All copies of a batch key — whichever bucket they live in — join
    * the batch rows in a single `versionCol` arbitration, so replayed or
    * out-of-order older batches still lose (the at-least-once-replay
    * contract holds across bucket migrations, not just within one).
    *
    * `batch` is evaluated more than once, so it is [[pinned]] like
    * [[upsert]]'s.
    *
    * Cost: rewrites every partition holding a copy of a batch key
    * (located by one broadcast key semi-join, never a table shuffle).
    * When keys do imply buckets that set equals the touched partitions —
    * same cost as [[upsert]] — and grows only with actual migrations.
    */
  def upsertGlobal(batch: DataFrame, keys: Seq[String], versionCol: String): Unit =
    pinned(batch) { retry.run {
      val existing = readExisting(spark, path, batch)
      partitionCol match {
        case Some(p) =>
          // every copy of a batch key — wherever it lives — enters ONE
          // versionCol arbitration together with the batch rows, so a
          // replayed/out-of-order OLDER batch loses to the row the key
          // migrated to (plain per-bucket LWW, extended across buckets).
          // batchKeys is micro-batch-sized; broadcast keeps the semi-join
          // from shuffling the table (consistent with `touched` above)
          val batchKeys = batch.select(keys.map(col): _*).distinct()
          val involvedParts = existing
            .join(broadcast(batchKeys), keys, "left_semi").select(col(p))
            .union(batch.select(col(p))).distinct().persist()
          val involved = existing
            .join(broadcast(involvedParts), Seq(p), "left_semi")
          // winner per key across all copies + the batch; keys local to
          // an involved partition ride through as their own sole copy
          val merged = dedupByKey(involved.unionByName(batch), keys, versionCol)
            .persist()
          // bucket lists are collected BEFORE the overwrite: their plans
          // read the files the write below replaces (the persist()s keep
          // the write job from re-scanning, but correctness must not
          // depend on cache retention)
          val involvedVals = involvedParts.collect().map(_.get(0).toString)
          val liveVals = merged.select(p).distinct()
            .collect().map(_.get(0).toString).toSet
          write(merged, path, partitionCol)
          // dynamic overwrite replaces only partitions that receive rows:
          // a partition whose every row was a losing copy of a migrated
          // key writes nothing and must be dropped explicitly
          // (driver-side bucket list, same move as Retention.compact)
          val fs = new org.apache.hadoop.fs.Path(path)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          involvedVals.filterNot(liveVals).foreach { v =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$path/$p=$v"), true)
          }
          involvedParts.unpersist(); merged.unpersist()
        case None =>
          write(dedupByKey(existing.unionByName(batch), keys, versionCol),
            path, partitionCol)
      }
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

  private[sink] def readExisting(spark: SparkSession, path: String, like: DataFrame): DataFrame = {
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
