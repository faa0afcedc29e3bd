package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.Partitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import graft.operators.{Dedup, Intermediates}

/** Continuous training-corpus ingestion: a document file stream runs
  * through a quality gate and (near-)dedup, and appends only genuinely
  * new documents to the corpus table.
  *
  *   readStream(parquet) → token-count quality gate → sha-256 digest
  *   → foreachBatch { within-batch resolve → screens vs landed state
  *     → bloom update → index append → docs append }
  *
  * The dedup STATE lives under the sink directory — each micro-batch
  * screens against what has already landed, not against an in-memory
  * map. That buys the two properties a long-running ingest needs:
  * state survives restarts for free (it IS the table), and a
  * micro-batch REPLAYED after a crash between sink-append and
  * checkpoint-commit converges (see the write-order analysis on
  * [[ingestBatch]]) — effectively-once output from an at-least-once
  * replay, the same contract the keyed upserts in [[MessagePipeline]]
  * provide, realized for an append-only table.
  *
  * ## Landed layout (all under one corpus dir)
  *
  * {{{
  *   corpusDir/
  *     dbucket=<k>/part-*.parquet   docs, partitioned by digest bucket
  *     _graft_index/bbucket=<k>/    (band, digest, sig) rows,
  *                                  partitioned by band bucket
  *     _graft_bloom/shard-<s>.bin   base Bloom, sharded by key bucket
  *     _graft_bloom/delta-<n>.keys  raw key longs landed since the
  *                                  last compaction (LSM-style deltas)
  *     _graft_bloom/meta            "v2 capacity inserted epoch shards"
  *     _graft_meta                  layout constants (bucket count)
  * }}}
  *
  * Underscore-prefixed children are invisible to Spark's file listing,
  * so `spark.read.parquet(corpusDir)` still yields exactly the docs
  * table (plus its `dbucket` partition column).
  *
  * This is the ONLY layout served. A dir without `_graft_meta` is a
  * new corpus; if it already holds data (e.g. a flat parquet table
  * with no `dbucket` partition) the first batch rejects it before
  * writing anything — see `layoutBuckets`.
  *
  * ## Why this probe shape survives 100 TB
  *
  * The naive screen re-reads the whole landed table every micro-batch
  * — per-batch cost grows with everything ever ingested, unbounded
  * over the stream's lifetime. Here the probe cost tracks the BATCH:
  *
  *  1. BLOOM PREFILTER (first pass, cheapest): a sharded base Bloom
  *     over every landed digest-hash and band key, plus an exact
  *     sorted-array probe of the keys landed since the last
  *     compaction. A doc none of whose keys might be present is
  *     DEFINITELY novel and skips the landed read entirely; a batch
  *     with no possible hits reads ZERO landed files. In the steady
  *     state of corpus growth (mostly-novel batches) this is the
  *     common path. False positives only fall through to the verified
  *     probe — never a correctness risk.
  *  2. PARTITION PRUNING (the probe itself): docs are partitioned by
  *     `dbucket = pmod(xxhash64(digest), buckets)` and index rows by
  *     `bbucket = pmod(band, buckets)`; the probe filters each read
  *     with a LITERAL `isin` over the batch's own buckets, so the scan
  *     lists and reads only the touched partition directories.
  *  3. VERIFIED REJECTION: a band hit is only a CANDIDATE — the probe
  *     joins the candidate's stored MinHash signature and rejects only
  *     when signature agreement (the unbiased Jaccard estimate) is at
  *     least `threshold`. An unverified band hit is ~J^(1/rowsPerBand)
  *     evidence, and its false-reject rate would otherwise GROW with
  *     corpus size (union bound over ever-more landed docs).
  *
  * ## Why this bloom MAINTENANCE shape survives 100 TB
  *
  * The naive incremental bloom pays O(corpus capacity) per batch three
  * ways: a distributed delta built at full capacity (a whole bitset of
  * zero value per task), a full `bloom.bin` rewrite per batch, and a
  * full re-broadcast per batch. Here every per-batch term tracks the
  * BATCH, with capacity-sized work only at amortized boundaries:
  *
  *  - INSERT: the batch's key set is bounded (~1+bands keys per
  *    accepted doc), so it is collected and appended as a raw-longs
  *    DELTA FILE — O(batch) bytes written, no distributed build at
  *    all. Probes check base-bloom ∨ delta-sets (exact, so deltas add
  *    zero false positives).
  *  - COMPACTION: when the delta set outgrows `capacity/16`, its keys
  *    are folded into the base shards on the driver and the touched
  *    shard files are rewritten — O(capacity) I/O amortized over
  *    capacity/16 inserts, i.e. O(1) per key.
  *  - REBUILD: when inserts outgrow capacity, the base is rebuilt from
  *    the landed table at doubled capacity, ONE SHARD PER TASK
  *    (`partitionBy` on the key bucket), so peak build memory is one
  *    total-capacity bitset spread across the fleet — not one full
  *    bitset per task. O(corpus) amortized O(1) per doc.
  *  - BROADCAST: the base shards are broadcast ONCE PER EPOCH (epoch
  *    bumps only on compaction/rebuild) and cached per corpus dir;
  *    each delta FILE is immutable and broadcast ONCE, by the batch
  *    that wrote it (steady-state per-batch shipping = the new batch's
  *    own keys; `deltaFilesRead` telemetry pins that nothing is
  *    re-read). Executor residency for the delta set is bounded by the
  *    compaction threshold. A JVM restart re-reads and re-broadcasts
  *    the live delta files once; replaced broadcasts are retired on
  *    epoch change and destroyed at the next batch boundary.
  *
  * Driver-side metadata cost is also batch-proportional: the landed
  * and index probes read ONLY the batch's own partition-bucket
  * directories (never a full-corpus file listing), and the layout
  * check reads `_graft_meta`, not the table. (On a real fleet the
  * listing would come from a catalog; this keeps the same O(touched
  * buckets) shape without one.) The `buckets`
  * sizing trades that listing fan-out against probe read amplification:
  * more buckets = smaller pruned reads but more directories to stat per
  * probing batch — size it to the fleet, once, at first write.
  *
  * ## Why per-bucket FILE COUNT stays bounded
  *
  * Appends add exactly one file per touched bucket per batch (the
  * floor an append-only layout can hold), so over thousands of batches
  * the per-batch probe's listing + parquet-footer cost would still
  * grow with BATCH COUNT. At every bloom epoch bump — the existing
  * amortized O(capacity) boundary — any doc or index bucket holding
  * more than a handful of files is therefore BIN-PACKED back to
  * ~target-size files (see [[packRoot]]), bounding per-bucket file
  * count by a constant between boundaries. Steady-state per-batch cost
  * is then genuinely flat in stream lifetime, not just corpus size.
  *
  * ## Single writer per corpus dir
  *
  * One ingest stream owns a corpus dir (the natural foreachBatch
  * shape — Structured Streaming already serializes a query's batches).
  * TWO CONCURRENT WRITERS to one corpus dir are not supported: delta
  * writes, meta updates, and pack swaps could interleave. Since round
  * 13 that rule is ENFORCED, not just documented: stream starts claim
  * the corpus through a generation-numbered `_graft_writer.lock`, and
  * every micro-batch re-verifies the claim before writing, so a
  * superseded writer fails loudly at its next batch instead of
  * interleaving forever (clock-free advisory fencing — sequential
  * restarts, including fresh-checkpoint replays, claim the next
  * generation and proceed; see [[claimWriter]]/[[assertWriter]]).
  * Concurrent
  * READERS of a LIVE corpus should go through [[snapshotRead]]: every
  * batch publishes an atomic `_graft_snapshot` manifest after its
  * appends (and any epoch pack) have fully committed, so a snapshot
  * read sees whole batches only — never a mid-commit torn append, and
  * never the pack swap's transient (packed + not-yet-deleted pre-pack)
  * double count — and a pack racing the read is detected and
  * re-resolved, never a silent partial scan. A PLAIN directory read
  * (`spark.read.parquet(corpusDir)`) of a live corpus keeps the weaker
  * contract: correct row sets between boundaries, but it must tolerate
  * (retry on) FileNotFound around epoch packs and can observe a
  * concurrently committing batch's files mid-commit — the standard
  * caveat for compacting tables read without their snapshot log.
  * Concurrent streams over DIFFERENT
  * corpus dirs in one JVM are fine — all shared JVM state (base/delta
  * broadcast caches, retired-broadcast queues) is scoped per corpus
  * dir.
  */
object CorpusIngest {

  /** documents-table schema (file streams must declare it up front). */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Quality gate + digest, the per-row (narrow) stage. */
  def prepared(docs: DataFrame, minTokens: Int): DataFrame =
    docs.withColumn("n_tokens",
        size(split(trim(col("text")), "\\s+")).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .withColumn("digest", sha2(col("text"), 256))

  /** Within-batch dedup: one survivor per digest, deterministically the
    * smallest doc_id (min over structs — no window, partial-agg
    * friendly, and replay-stable under any partitioning).
    */
  def resolveBatch(batch: DataFrame): DataFrame =
    batch.groupBy("digest")
      .agg(min(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"), col("n_tokens"))).as("r"))
      .select(col("digest"), col("r.*"))

  /** Per-batch probe/append telemetry — the observable the
    * flat-probe and batch-proportional-maintenance properties are
    * asserted on (CorpusIngestSpec): for all-novel batches
    * `landedFilesRead`/`indexFilesRead` are 0 no matter how large the
    * landed corpus has grown; for batches with possible hits they
    * count only the files in the batch's own partition buckets; and
    * `bloomBytesWritten` is ~8·keys(batch) on every batch that does
    * not compact (`bloomCompacted` marks the amortized boundaries
    * where shard files rewrite).
    */
  final case class IngestStats(
      batchRows: Long,
      acceptedRows: Long,
      bloomNegative: Long,
      probed: Long,
      landedFilesRead: Long,
      indexFilesRead: Long,
      bloomBytesWritten: Long = 0L,
      bloomCompacted: Boolean = false,
      deltaFilesRead: Long = 0L,
      packedFiles: Long = 0L)

  /** Default partition-bucket count for both digest and band buckets.
    * Sized to the shuffle parallelism here; a petabyte corpus wants
    * more (buckets bound probe read amplification to ~corpus/buckets
    * per touched bucket, and the batch touches at most `buckets`).
    * Fixed per corpus at first write (persisted in `_graft_meta`).
    */
  val DefaultBuckets = 32

  /** Bloom false-positive rate. Each doc probes ~(1 + bands) keys, so
    * the per-DOC false-flag rate is ~17× this; 1e-4 keeps mostly-novel
    * batches genuinely zero-probe (~0.2% of docs flagged) at ~19
    * bits/key — ~4 GB for a 10⁸-doc corpus's 1.7×10⁹ keys, still a
    * broadcastable sketch (shipped once per compaction epoch, not per
    * batch). A fleet that outgrows that trades fpp up: probes stay
    * batch-proportional either way, only the zero-read fraction
    * shrinks.
    */
  private val BloomFpp = 1e-4
  private val Bands = 16
  private val RowsPerBand = 4

  // --- landed-state plumbing (hadoop FS so HDFS-style dirs work) --------

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readSmall(spark: SparkSession, p: Path): Option[Array[Byte]] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(out.toByteArray)
      } finally in.close()
    }
  }

  /** Write-then-rename (delete + rename on filesystems without
    * overwriting rename), tmp name unique per write so concurrent
    * writers to one path (an advisory-lock re-assert racing a fresh
    * claim) cannot overwrite each other's in-flight tmp. The rename
    * RESULT is checked: a false return (the target reappeared between
    * delete and rename — a concurrent writer won the window) retries
    * the delete+rename, then fails LOUDLY rather than dropping the
    * write silently — which concurrent writer survives stays
    * arbitrary, but every writer that RETURNS really recorded its
    * content. A crash in the tiny delete/rename window leaves the
    * file ABSENT, which every reader treats conservatively (no bloom
    * state → probe everything; no meta → adopt caller's buckets).
    *
    * EVERY exit that did not consume the tmp deletes it (best-effort):
    * tmp names are unique per write, so an orphan left by a throwing
    * write/delete/rename (a transient FS error) would never be
    * overwritten and would accrue FOREVER on a long-running stream —
    * the `finally` makes the failure loud AND clean.
    */
  private[streaming] def writeSmall(spark: SparkSession, p: Path,
      bytes: Array[Byte]): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent, p.getName + "." +
      java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    var renamed = false
    try {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      var attempt = 0
      while (!renamed && attempt < 3) {
        if (fs.exists(p)) fs.delete(p, false)
        renamed = fs.rename(tmp, p)
        attempt += 1
      }
      if (!renamed) throw new IllegalStateException(
        s"writeSmall: rename to $p failed $attempt times — a concurrent " +
          "writer keeps recreating the target or the filesystem refuses " +
          "the swap; this write was NOT recorded")
    } finally {
      if (!renamed) {
        // exception path (create/write/delete/rename threw, or the
        // attempts ran out): the propagating error stays primary, the
        // orphan goes regardless
        try fs.delete(tmp, false)
        catch { case _: java.io.IOException | _: RuntimeException => () }
      }
    }
  }

  /** Bucket count the corpus was laid out with: pinned to `requested`
    * on first write, and REQUIRED to match on every later call — a
    * probe computed with a different modulus would prune the WRONG
    * partitions and silently re-admit duplicates, so a caller passing
    * a different `buckets` than the persisted layout is a loud error
    * (pass the corpus's own bucket count, or start a fresh dir).
    *
    * No `_graft_meta` means a NEW corpus, and a new corpus dir must not
    * hold data yet: any non-underscore, non-dot entry at its root (a
    * flat parquet table's part files, another table's partition dirs)
    * is rejected with an `IllegalArgumentException` before the meta is
    * stamped, so nothing is written into a dir this layout did not
    * create. That costs one root listing, once per corpus; steady
    * batches pay only the meta read.
    */
  private def layoutBuckets(spark: SparkSession, corpusDir: String,
      requested: Int): Int = {
    val p = new Path(corpusDir, "_graft_meta")
    readSmall(spark, p) match {
      case Some(b) =>
        val persisted = new String(b, "UTF-8").trim.toInt
        require(persisted == requested,
          s"corpus at $corpusDir was laid out with buckets=$persisted " +
            s"but the caller passed buckets=$requested; a mismatched " +
            "modulus would prune the wrong partitions — pass the " +
            "persisted value or use a fresh corpus dir")
        persisted
      case None =>
        val data =
          try fsOf(spark, corpusDir).listStatus(new Path(corpusDir))
            .map(_.getPath.getName)
            .filterNot(n => n.startsWith("_") || n.startsWith("."))
          catch { case _: java.io.FileNotFoundException => Array.empty[String] }
        require(data.isEmpty,
          s"corpus dir $corpusDir has no _graft_meta but already holds " +
            s"data (${data.sorted.take(3).mkString(", ")}): the flat " +
            "(pre-bucketed) corpus layout is unsupported — ingest into " +
            "a fresh corpus dir")
        writeSmall(spark, p, s"$requested".getBytes("UTF-8"))
        requested
    }
  }

  // --- sharded bloom + delta-key state -----------------------------------

  private final case class BloomMeta(
      cap: Long, ins: Long, epoch: Long, nshards: Int)

  /** Parsed `_graft_bloom/meta`, None when absent or not in the `v2`
    * format — a missing bloom: the batch probes everything
    * (conservative) and the accept path rebuilds the sharded base from
    * the landed table.
    */
  private def readBloomMeta(spark: SparkSession,
      corpusDir: String): Option[BloomMeta] =
    readSmall(spark, new Path(s"$corpusDir/_graft_bloom", "meta"))
      .map(b => new String(b, "UTF-8").trim.split(" "))
      .collect { case Array("v2", cap, ins, epoch, ns) =>
        BloomMeta(cap.toLong, ins.toLong, epoch.toLong, ns.toInt)
      }

  private def writeBloomMeta(spark: SparkSession, corpusDir: String,
      m: BloomMeta): Unit =
    writeSmall(spark, new Path(s"$corpusDir/_graft_bloom", "meta"),
      s"v2 ${m.cap} ${m.ins} ${m.epoch} ${m.nshards}".getBytes("UTF-8"))

  /** Compaction threshold: fold deltas into the base when they exceed
    * capacity/16 keys — per-batch delta cost stays O(batch) and the
    * O(capacity) shard rewrite amortizes to O(1) per key.
    */
  private def compactThreshold(cap: Long): Long = math.max(1024L, cap / 16)

  private def shardOf(k: Long, nshards: Int): Int =
    java.lang.Math.floorMod(k, nshards.toLong).toInt

  private def bloomToBytes(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  private def bloomFromBytes(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))

  /** Write the given shards (all of them — compaction and rebuild both
    * touch every shard, keys being uniform hashes); returns bytes
    * written. Ordering contract: callers write shards BEFORE meta, so
    * a crash between leaves old-epoch readers on (old base + still
    * present deltas) — a correct superset.
    */
  private def writeShards(spark: SparkSession, corpusDir: String,
      shards: Array[BloomFilter]): Long = {
    val dir = new Path(corpusDir, "_graft_bloom")
    shards.zipWithIndex.map { case (bf, s) =>
      val bytes = bloomToBytes(bf)
      writeSmall(spark, new Path(dir, s"shard-$s.bin"), bytes)
      bytes.length.toLong
    }.sum
  }

  private def loadShards(spark: SparkSession, corpusDir: String,
      nshards: Int): Option[Array[BloomFilter]] = {
    val dir = new Path(corpusDir, "_graft_bloom")
    val loaded = (0 until nshards).map(s =>
      readSmall(spark, new Path(dir, s"shard-$s.bin")).map(bloomFromBytes))
    if (loaded.forall(_.isDefined)) Some(loaded.map(_.get).toArray) else None
  }

  private def writeDeltaFile(spark: SparkSession, corpusDir: String,
      name: String, keys: Array[Long]): Long = {
    val bb = java.nio.ByteBuffer.allocate(keys.length * 8)
    keys.foreach(bb.putLong)
    writeSmall(spark, new Path(s"$corpusDir/_graft_bloom", name), bb.array())
    keys.length.toLong * 8
  }

  /** One immutable delta file's sorted keys, broadcast once — by the
    * batch that wrote the file, so the steady state never re-reads or
    * re-ships a delta it already holds.
    */
  private final case class DeltaFile(name: String, n: Long,
      bcast: Broadcast[Array[Long]])
  private val deltaCache =
    new java.util.concurrent.ConcurrentHashMap[String, List[DeltaFile]]()

  /** Sync the per-corpus delta cache with the delta files on disk (the
    * files, not meta counts, are the source of truth — a crash between
    * delta write and meta update still probes the landed keys):
    * vanished files (a compaction, possibly by another JVM) retire
    * their broadcasts; unseen files (JVM restart, foreign writer) are
    * read, sorted, and broadcast ONCE. Returns the live delta set, the
    * file paths, and how many files had to be read from the FS — 0 in
    * the steady state, asserted by spec.
    */
  private def deltaState(spark: SparkSession,
      corpusDir: String): (List[DeltaFile], Seq[Path], Long) = {
    val dir = new Path(corpusDir, "_graft_bloom")
    val fs = fsOf(spark, corpusDir)
    val files =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).map(_.getPath)
        .filter(p => p.getName.startsWith("delta-") &&
          p.getName.endsWith(".keys")).toSeq
    val names = files.map(_.getName).toSet
    val prev = Option(deltaCache.get(corpusDir)).getOrElse(Nil)
    val (live, dead) = prev.partition(d => names.contains(d.name))
    dead.foreach(d => retireBcast(corpusDir, d.bcast))
    val known = live.map(_.name).toSet
    var reads = 0L
    val fresh = files.filterNot(p => known.contains(p.getName)).map { p =>
      reads += 1
      val bytes = readSmall(spark, p).getOrElse(Array.empty[Byte])
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val ks = Array.fill(bytes.length / 8)(bb.getLong)
      java.util.Arrays.sort(ks)
      DeltaFile(p.getName, ks.length.toLong, spark.sparkContext.broadcast(ks))
    }.toList
    val all = live ++ fresh
    deltaCache.put(corpusDir, all)
    (all, files, reads)
  }

  /** Retire every cached delta broadcast of `corpusDir` (compaction or
    * rebuild folded the deltas into the base).
    */
  private def dropDeltaCache(corpusDir: String): Unit = {
    Option(deltaCache.remove(corpusDir))
      .foreach(_.foreach(d => retireBcast(corpusDir, d.bcast)))
    ()
  }

  /** Cache (and broadcast) a freshly written delta file's SORTED keys,
    * retiring any same-name entry it replaces: a crash-replay of the
    * delta-write window rewrites the same delta name, and the prior
    * entry's broadcast — still referenced by the replay batch's probe
    * lineage — must be retired (destroyed at the corpus's next batch),
    * not silently dropped from the cache, which would leak it in
    * executor and driver memory until session end.
    */
  private[streaming] def cacheDelta(spark: SparkSession, corpusDir: String,
      name: String, sortedKeys: Array[Long]): Unit = {
    val cached = DeltaFile(name, sortedKeys.length.toLong,
      spark.sparkContext.broadcast(sortedKeys))
    val prev = Option(deltaCache.get(corpusDir)).getOrElse(Nil)
    prev.filter(_.name == name).foreach(d => retireBcast(corpusDir, d.bcast))
    deltaCache.put(corpusDir, cached :: prev.filterNot(_.name == name))
    ()
  }

  /** Test hook: the corpus's current bloom epoch. */
  private[streaming] def bloomEpoch(spark: SparkSession,
      corpusDir: String): Option[Long] =
    readBloomMeta(spark, corpusDir).map(_.epoch)

  /** Test hook: the live delta broadcasts cached for a corpus dir. */
  private[streaming] def deltaBroadcasts(
      corpusDir: String): List[Broadcast[Array[Long]]] =
    Option(deltaCache.get(corpusDir)).getOrElse(Nil).map(_.bcast)

  /** Per-corpus cache of the base-shard broadcast: shipped once per
    * epoch, reused across micro-batches, destroyed (and reloaded from
    * the shard files) when a compaction or rebuild bumps the epoch —
    * the per-batch broadcast cost is only the delta, never the base.
    */
  private final case class CachedBase(
      epoch: Long, shards: Array[BloomFilter],
      bcast: Broadcast[Array[BloomFilter]])
  private val baseCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedBase]()

  /** Replaced/invalidated base broadcasts are RETIRED, not destroyed in
    * place: a compaction runs mid-batch, and the batch's later append
    * jobs still serialize the probe UDF's lineage, which references the
    * old broadcast — destroying it there fails task serialization.
    * Retired broadcasts are destroyed at the START of the corpus's OWN
    * next [[ingestBatch]], when no live plan can reference them. The
    * queue is scoped PER CORPUS DIR: two concurrent streams over
    * different corpus dirs share this JVM-wide state, and a global
    * drain at stream B's batch start would destroy a broadcast stream
    * A's still-running batch retired mid-batch but whose append jobs
    * still reference ("Broadcast ... destroyed" task failures).
    * Within ONE corpus dir the ingest is single-writer (see the object
    * doc); the retire-until-next-batch safety argument needs only that.
    */
  private val retiredBcasts =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentLinkedQueue[Broadcast[_]]]()

  private def retireBcast(corpusDir: String, b: Broadcast[_]): Unit = {
    retiredBcasts.computeIfAbsent(corpusDir,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Broadcast[_]]())
      .add(b)
    ()
  }

  private[streaming] def drainRetiredBcasts(corpusDir: String): Unit = {
    val q = retiredBcasts.get(corpusDir)
    if (q != null) {
      var b = q.poll()
      while (b != null) {
        try b.destroy() catch { case _: Exception => () }
        b = q.poll()
      }
    }
  }

  /** The base shards for probing, via the epoch-keyed cache. None when
    * the shard files are unreadable (conservative probe-everything).
    */
  private def cachedBase(spark: SparkSession, corpusDir: String,
      meta: BloomMeta): Option[CachedBase] = {
    val hit = Option(baseCache.get(corpusDir)).filter(_.epoch == meta.epoch)
    hit.orElse {
      loadShards(spark, corpusDir, meta.nshards).map { shards =>
        Option(baseCache.get(corpusDir))
          .foreach(c => retireBcast(corpusDir, c.bcast))
        val cached = CachedBase(meta.epoch,
          shards, spark.sparkContext.broadcast(shards))
        baseCache.put(corpusDir, cached)
        cached
      }
    }
  }

  /** Invalidate the cached broadcast after this JVM itself bumped the
    * epoch (compaction/rebuild): the next batch reloads from the shard
    * files it just wrote; the old broadcast is retired (see above).
    */
  private def dropCachedBase(corpusDir: String): Unit = {
    Option(baseCache.remove(corpusDir))
      .foreach(c => retireBcast(corpusDir, c.bcast))
    ()
  }

  /** Distributed sharded bloom build: keys are range-assigned to their
    * shard's task by an explicit partitioner, so each task allocates
    * exactly ONE shard-sized bitset (capacity/nshards) — total build
    * memory across the fleet is one capacity, not one capacity per
    * task the way a treeAggregate with a full-size zero value costs.
    */
  private def buildShards(keys: DataFrame, capacity: Long,
      nshards: Int): Array[BloomFilter] = {
    import keys.sparkSession.implicits._
    val perShard = math.max(capacity / nshards, 64L)
    val built = keys.select(col("k")).as[Long].rdd
      .map(k => (shardOf(k, nshards), k))
      .partitionBy(new Partitioner {
        override def numPartitions: Int = nshards
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .mapPartitionsWithIndex { (s, it) =>
        val bf = BloomFilter.create(perShard, BloomFpp)
        it.foreach(t => bf.putLong(t._2))
        Iterator((s, bf))
      }.collect()
    val out = Array.fill(nshards)(BloomFilter.create(perShard, BloomFpp))
    built.foreach { case (s, bf) => out(s) = bf }
    out
  }

  /** All bloom keys of a landed-or-accepted frame: the digest hash
    * plus every band key (absent/empty bands contribute nothing).
    */
  private def bloomKeys(df: DataFrame, withBands: Boolean): DataFrame = {
    val keyArr =
      if (withBands)
        concat(array(xxhash64(col("digest"))),
          coalesce(col("bands"), array().cast("array<bigint>")))
      else array(xxhash64(col("digest")))
    df.select(explode(keyArr).as("k"))
  }

  /** Files currently in the given partition-bucket directories of
    * `root` — what a pruned probe over those buckets reads.
    */
  private def filesInBuckets(spark: SparkSession, root: String,
      partCol: String, buckets: Seq[Int]): Long = {
    val fs = fsOf(spark, root)
    buckets.map { b =>
      val p = new Path(root, s"$partCol=$b")
      if (fs.exists(p))
        fs.listStatus(p).count(s => s.isFile &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
      else 0
    }.sum.toLong
  }

  private def existingParquet(spark: SparkSession, dir: String): Option[DataFrame] =
    try Some(spark.read.parquet(dir))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  // --- incremental hot-band census ---------------------------------------
  //
  // The cross-batch screen drops bands held by more than
  // Dedup.HotBandCap index rows (boilerplate saturation — same policy
  // as in-batch pairing). Re-aggregating the batch's index buckets for
  // that census on EVERY micro-batch re-reads state that changes only
  // by the batch's own appends, so the census is maintained
  // incrementally instead:
  //
  //  - at each epoch boundary (compaction/rebuild — the existing
  //    amortized O(capacity) point, right after the pack) ONE full
  //    census over `_graft_index` records every band whose row count
  //    exceeds HotBandCap/2 ("warm"), epoch-stamped in
  //    `_graft_bloom/bandcounts`; small by the same saturation-rarity
  //    argument that motivates the cap;
  //  - per batch, the rows APPENDED since that epoch are counted
  //    exactly from the live bloom delta key arrays (each appended
  //    index row's band key lands in exactly one delta file; a
  //    digest-hash colliding with a band value is 2⁻⁶⁴ noise, and a
  //    crash between delta write and index append overcounts by at
  //    most that batch — both shift only the POLICY boundary, never
  //    dedup correctness);
  //  - a band is then hot iff census + appended > cap — exact for
  //    census members and for appended counts above the cap on their
  //    own; the rare band that is absent from the census (≤ floor)
  //    yet appended past cap−floor is resolved by ONE exact count over
  //    the batch's own (already pruned) index buckets.
  //
  // Absent or epoch-stale state (fresh corpus, crash between meta and
  // census write) falls back to the exact batch-scoped census.

  private[streaming] final case class BandCounts(
      epoch: Long, floor: Long, counts: Map[Long, Long])
  private val bandCountsCache =
    new java.util.concurrent.ConcurrentHashMap[String, BandCounts]()

  private def warmFloor: Long = math.max(0L, Dedup.HotBandCap.toLong / 2)

  /** Census entries beyond this would no longer be "small state"
    * (64 MB of pairs): skip writing and let batches use the exact
    * fallback census — a corpus THAT saturated is already paying
    * cap-policy costs everywhere.
    */
  private val BandCountsMaxEntries = 1 << 22

  /** Fail-soft on ANY read problem (checksum mismatch, truncation,
    * bad version, an FS client surfacing errors as RuntimeExceptions):
    * this state is ADVISORY — the exact fallback census gives the same
    * screen decisions at per-batch cost — so a corrupt or unreadable
    * file must degrade, never fail the batch. The file also records
    * the WARM FLOOR it was computed under (census-absent ⇒ epoch count
    * ≤ floor is the invariant hotBandsFor leans on), so state written
    * under a different HotBandCap — a config change across restarts —
    * reads as absent instead of silently diverging from the exact
    * census until the next epoch.
    */
  private[streaming] def readBandCounts(spark: SparkSession,
      corpusDir: String): Option[BandCounts] =
    scala.util.Try(readSmall(spark,
      new Path(s"$corpusDir/_graft_bloom", "bandcounts")))
      .getOrElse(None)
      .flatMap { bytes =>
        if (bytes.length < 24 || (bytes.length - 24) % 16 != 0) None
        else {
          val bb = java.nio.ByteBuffer.wrap(bytes)
          if (bb.getLong != 2L) None
          else {
            val epoch = bb.getLong
            val floor = bb.getLong
            val n = (bytes.length - 24) / 16
            val m = Map.newBuilder[Long, Long]
            var i = 0
            while (i < n) { m += ((bb.getLong, bb.getLong)); i += 1 }
            Some(BandCounts(epoch, floor, m.result()))
          }
        }
      }

  private def writeBandCounts(spark: SparkSession, corpusDir: String,
      epoch: Long, counts: Array[(Long, Long)]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(24 + counts.length * 16)
    bb.putLong(2L); bb.putLong(epoch); bb.putLong(warmFloor)
    counts.foreach { case (b, c) => bb.putLong(b); bb.putLong(c) }
    writeSmall(spark, new Path(s"$corpusDir/_graft_bloom", "bandcounts"),
      bb.array())
    bandCountsCache.put(corpusDir, BandCounts(epoch, warmFloor, counts.toMap))
    ()
  }

  /** The epoch's census counts, via the per-corpus cache; None when the
    * state is absent, stamped with a different epoch, or computed under
    * a different warm floor (→ exact fallback census).
    */
  private def cachedBandCounts(spark: SparkSession, corpusDir: String,
      epoch: Long): Option[Map[Long, Long]] = {
    def live(bc: BandCounts) = bc.epoch == epoch && bc.floor == warmFloor
    val hit = Option(bandCountsCache.get(corpusDir)).filter(live)
    hit.orElse {
      readBandCounts(spark, corpusDir).filter(live)
        .map { bc => bandCountsCache.put(corpusDir, bc); bc }
    }.map(_.counts)
  }

  /** Rebuild the warm-band census from `_graft_index` and stamp it with
    * `epoch`. Runs at epoch boundaries only (after the pack, so counts
    * reflect deduplicated state); reads just the single `band` column.
    */
  private[streaming] def refreshBandCounts(spark: SparkSession,
      corpusDir: String, epoch: Long): Unit = {
    val fl = warmFloor
    existingParquet(spark, s"$corpusDir/_graft_index") match {
      case Some(idx) =>
        val rows = idx.groupBy("band").agg(count(lit(1)).as("c"))
          .filter(col("c") > fl)
          .limit(BandCountsMaxEntries + 1).collect()
        if (rows.length > BandCountsMaxEntries) {
          fsOf(spark, corpusDir).delete(
            new Path(s"$corpusDir/_graft_bloom", "bandcounts"), false)
          bandCountsCache.remove(corpusDir)
          ()
        } else writeBandCounts(spark, corpusDir, epoch,
          rows.map(r => (r.getLong(0), r.getLong(1))))
      case None =>
        writeBandCounts(spark, corpusDir, epoch, Array.empty)
    }
  }

  /** The hot-band set for this batch's screen, from census + deltas;
    * None = no usable state, use the exact fallback census. `idx0` is
    * the batch's pruned index read, consulted only for the rare
    * maybe-band resolution (a band there has its FULL census inside
    * the batch's buckets; a maybe band outside them cannot appear in
    * the candidate join, so its verdict is irrelevant).
    */
  /** Maybe-bands beyond this fall back to the exact census for the
    * whole batch rather than an isin over an unbounded literal list
    * (only reachable when a single epoch's appends hold thousands of
    * distinct bands each appended past cap−floor — boilerplate storms).
    */
  private val MaybeBandsMax = 4096

  private[streaming] def hotBandsFor(spark: SparkSession, corpusDir: String,
      epoch: Long, deltas: Seq[Broadcast[Array[Long]]],
      idx0: => DataFrame): Option[Array[Long]] =
    cachedBandCounts(spark, corpusDir, epoch).flatMap { base =>
      val cap = Dedup.HotBandCap.toLong
      val fl = warmFloor
      val appended = new java.util.HashMap[Long, Long]()
      deltas.foreach(_.value.foreach(k =>
        appended.merge(k, 1L, (a, b) => a + b)))
      val hot = scala.collection.mutable.ArrayBuffer[Long]()
      val maybe = scala.collection.mutable.ArrayBuffer[Long]()
      base.foreach { case (b, c) =>
        if (c + appended.getOrDefault(b, 0L) > cap) hot += b
      }
      appended.forEach { (b, cnt) =>
        if (!base.contains(b)) {
          if (cnt > cap) hot += b
          else if (cnt + fl > cap) maybe += b
        }
      }
      if (maybe.size > MaybeBandsMax) None // exact fallback census
      else {
        val resolved: Array[Long] =
          if (maybe.isEmpty) Array.empty
          else idx0.filter(col("band").isin(maybe.toSeq: _*))
            .groupBy("band").agg(count(lit(1)).as("c"))
            .filter(col("c") > cap).select("band")
            .collect().map(_.getLong(0))
        Some((hot ++ resolved).distinct.sorted.toArray)
      }
    }

  // --- landed bin-pack (bounds per-bucket file count) --------------------

  /** Batches at or below this row count append through `coalesce(1)`
    * (one task, one file per touched bucket, no shuffle) instead of a
    * bucket-column repartition — the exchange's fixed cost dominates a
    * small batch, and both paths hold the same one-file-per-bucket
    * floor. Sized so a text batch under it (≤ ~50 MB at 1 KB/doc)
    * comfortably fits one write task.
    */
  private val CoalesceBatchRows = 50000L

  /** Byte ceiling for the coalesce(1) append path: the row threshold
    * alone would funnel a 50k-row batch of 1 MB documents (~50 GB)
    * through one write task. The estimate comes from the batch's own
    * measured bytes (docs: octet_length of the text; index rows: a
    * conservative per-row constant), so huge-doc batches take the
    * repartitioned parallel path even when their row count is small.
    */
  private[streaming] val CoalesceBatchBytes = 256L << 20

  /** Conservative on-disk estimate for one exploded index row
    * (band 8 B + 64-char digest + 64-long signature, pre-compression).
    */
  private[streaming] val IndexRowEstBytes = 600L

  /** The append-path decision both sinks share: coalesce(1) only when
    * the batch is small by ROWS and by ESTIMATED BYTES.
    */
  private[streaming] def useCoalesce(rows: Long, estBytes: Long): Boolean =
    rows <= CoalesceBatchRows && estBytes <= CoalesceBatchBytes

  /** A partition-bucket dir holding more than this many data files is
    * bin-packed at the next epoch boundary. Low (2) because the pack
    * rides an already-O(capacity) boundary and a packed bucket makes
    * every later probe of it cheaper.
    */
  private val LandedPackMinFiles = 2

  /** Bin-pack output target size: buckets larger than this split into
    * ~target-sized files instead of one ever-growing file.
    */
  private val LandedPackTargetBytes = 256L << 20

  /** Test hook: overrides [[LandedPackTargetBytes]] for the packs run
    * by [[ingestBatch]], so specs can drive the multi-slice rewrite
    * branch (`slices >= 2`) at toy scale without 256 MB buckets.
    */
  private[streaming] var PackTargetBytesOverride: Option[Long] = None

  /** Bin-pack one partitioned root at an epoch boundary: every
    * `partCol=k` dir holding more than [[LandedPackMinFiles]] data
    * files is rewritten — deduplicated on `dedupKeys`, which heals any
    * crash-window duplicate rows — into ~[[LandedPackTargetBytes]]
    * files, so per-bucket file count (and with it per-batch probe
    * listing/footer cost) is bounded by a constant instead of growing
    * one file per batch forever. Returns the net file-count reduction.
    *
    * Write order: heal marker → staging (underscore dir, invisible to
    * readers) → rename packed files in (each rename's RESULT is
    * checked: a bucket deletes its pre-pack snapshot only when every
    * staged rename for it succeeded, so a false-returning rename can
    * leave duplicates but never lose rows) → delete the pre-pack
    * snapshot → drop staging → drop the heal marker. A crash or rename
    * failure mid-swap leaves DUPLICATE rows, never missing ones: every
    * screen is an anti-join that tolerates duplicate state rows, and —
    * because the heal marker survives any incomplete swap — the NEXT
    * epoch's pack runs in heal mode (threshold lowered to >1 file per
    * bucket) so even a cold bucket left at exactly
    * (packed + stale-duplicate) files is repacked unconditionally
    * rather than waiting for a future batch to touch it. Same
    * bounded-by-crash-count idempotence class as the index-row
    * contract on [[ingestBatch]]. Concurrent readers that listed a
    * bucket BEFORE the swap can hit FileNotFound for a pre-pack file
    * mid-scan — plain directory readers of a live corpus must
    * tolerate/retry around epoch boundaries (the usual contract for
    * compacting tables); [[snapshotRead]] narrows that window to
    * resolve-vs-action and detects it instead of partially scanning.
    * I/O is O(bytes in packed buckets) per epoch,
    * amortized O(1) per landed doc at the bloom's compaction cadence
    * (an epoch every capacity/16 keys ⇒ ≤ ~16–32 rewrites per doc over
    * the corpus lifetime — the standard LSM write-amplification trade).
    */
  private[streaming] def packRoot(spark: SparkSession, root: String,
      partCol: String, dedupKeys: Seq[String],
      targetBytes: Long = LandedPackTargetBytes,
      afterSwap: () => Unit = () => ()): Long = {
    val fs = fsOf(spark, root)
    val rootP = new Path(root)
    if (!fs.exists(rootP)) return 0L
    def dataFiles(dir: Path) =
      fs.listStatus(dir).filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    // a surviving heal marker means the previous pack's swap did not
    // complete (crash or failed rename): run THIS pack in heal mode —
    // every bucket with more than one file repacks, so crash-window
    // duplicates in cold buckets cannot persist past one epoch
    val healMarker = new Path(rootP, "_graft_pack_heal")
    // claim-unique staging: a FIXED staging path would let two packs —
    // possible only inside the advisory fence's one-overlapping-batch
    // window, or after outside interference — delete each other's
    // in-flight rewrite mid-job and then interleave files in one dir.
    // Each invocation stages under its own suffix; any OTHER staging
    // dir found at pack start is a crash leftover or that overlap's
    // in-flight pack. Deleting it is row-safe either way (the victim's
    // absent-staged-dir guard below keeps its originals, and its
    // per-file rename results are checked), but the victim may already
    // have swapped SOME buckets — so the heal marker goes down and
    // STAYS down whenever a foreign dir is removed: this pack runs in
    // heal mode and the NEXT epoch repacks >1-file buckets again,
    // folding any duplicates the interrupted pack still lands.
    val staging = new Path(rootP,
      "_graft_pack_tmp." + java.util.UUID.randomUUID().toString.take(8))
    val foreignStaging = fs.listStatus(rootP).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("_graft_pack_tmp"))
    val sawForeign = foreignStaging.nonEmpty
    if (sawForeign) {
      fs.create(healMarker, true).close()
      foreignStaging.foreach(s => fs.delete(s.getPath, true))
    }
    val minFiles = if (fs.exists(healMarker)) 1 else LandedPackMinFiles
    val toPack = fs.listStatus(rootP)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partCol + "="))
      .map(s => (s.getPath, dataFiles(s.getPath)))
      .filter(_._2.length > minFiles)
    if (toPack.isEmpty) {
      // healed: no bucket left — unless a foreign pack may still be
      // landing files, in which case the marker must survive this epoch
      if (minFiles == 1 && !sawForeign) fs.delete(healMarker, false)
      return 0L
    }
    val maxBytes = toPack.map(_._2.map(_.getLen).sum).max
    val slices = math.max(1L, (maxBytes + targetBytes - 1) / targetBytes)
    spark.read.option("basePath", root)
      .parquet(toPack.map(_._1.toString).toSeq: _*)
      .dropDuplicates(dedupKeys)
      .repartition(col(partCol),
        pmod(xxhash64(dedupKeys.map(col): _*), lit(slices)).cast("int"))
      .write.partitionBy(partCol).parquet(staging.toString)
    // marker down BEFORE the first rename; removed only after a fully
    // successful swap — any interruption leaves it for the next epoch
    fs.create(healMarker, true).close()
    var removed = 0L
    var allSwapped = true
    val packedIn = scala.collection.mutable.ArrayBuffer[Path]()
    toPack.foreach { case (bdir, oldFiles) =>
      val staged = new Path(staging, bdir.getName)
      // a staged dir can only be absent when the bucket's rows all
      // vanished — which dedupKeys can never cause — or when a foreign
      // pack deleted this staging mid-swap: keep the originals (never
      // drop rows) and leave the heal marker down via allSwapped
      if (fs.exists(staged)) {
        val fresh = dataFiles(staged)
        val targets = fresh.map(f => new Path(bdir, f.getPath.getName))
        val ok = fresh.zip(targets)
          .forall { case (f, t) => fs.rename(f.getPath, t) }
        if (ok) {
          oldFiles.foreach(f => fs.delete(f.getPath, false))
          removed += oldFiles.length.toLong - fresh.length.toLong
          packedIn ++= targets
        } else allSwapped = false
      } else allSwapped = false
    }
    fs.delete(staging, true)
    if (allSwapped && !sawForeign) fs.delete(healMarker, false)
    // the swap is complete HERE: run the caller's post-swap hook (the
    // docs pack republishes the reader-snapshot manifest) BEFORE the
    // prewarm below, so a concurrent snapshot reader's re-resolve
    // window is the swap itself, not the boundary batch's remaining
    // O(capacity) work. Only after a FULLY successful swap: a partial
    // swap leaves (packed + pre-pack) duplicate rows in the failed
    // buckets until the heal epoch, and a manifest republished here
    // would endorse them mid-batch — the batch-end snapshot (which
    // reflects the corpus as it actually is, per the documented
    // failed-swap/heal-window exception) publishes instead.
    if (allSwapped) afterSwap()
    // read the freshly packed files straight back (distributed, raw
    // bytes): the write's pages are prone to writeback + eviction under
    // the JVM's own memory pressure, and without this the FIRST steady
    // batch after the epoch pays the cold re-read (the measured
    // "shadow" — +15 s at sf10). Folding it here keeps the boundary
    // batch O(capacity) — which it already is — and the steady series
    // flat.
    if (packedIn.nonEmpty) {
      val uris = packedIn.map(_.toUri.toString).toSeq
      // ship the SESSION's hadoop conf entries to the tasks: resolving
      // the filesystem from a default Configuration() would drop every
      // spark.hadoop.* setting (object-store credentials, endpoints) —
      // invisible on LocalFileSystem, fatal at the first epoch pack on
      // a configured filesystem
      val confKV: Seq[(String, String)] = {
        val c = spark.sparkContext.hadoopConfiguration
        val it = c.iterator()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
        b.result()
      }
      spark.sparkContext
        .parallelize(uris, math.min(uris.size, 32))
        .foreach { u =>
          val hc = new org.apache.hadoop.conf.Configuration(false)
          confKV.foreach { case (k, v) => hc.set(k, v) }
          val p = new Path(new java.net.URI(u))
          val f = p.getFileSystem(hc)
          val in = f.open(p)
          val buf = new Array[Byte](1 << 20)
          try { while (in.read(buf) >= 0) () } finally in.close()
        }
    }
    removed
  }

  // --- writer fencing -----------------------------------------------------

  /** Advisory writer-fencing lock at the corpus root. The object doc's
    * "single writer per corpus dir" rule was previously convention
    * only — a second stream accidentally pointed at a live corpus
    * would interleave delta writes, meta updates, and pack swaps
    * silently, forever. The lock makes that loud: every stream START
    * claims the corpus by bumping a GENERATION number (with a fresh
    * random token), and every micro-batch re-reads the lock before
    * writing — a batch whose claim is no longer the lock's current
    * record fails with a fencing error instead of writing.
    *
    * Deliberately clock-free (no heartbeat staleness): sequential
    * restarts — including the worst-case fresh-checkpoint replay —
    * just claim the next generation and proceed, while a superseded
    * concurrent writer fails at its NEXT batch. That bounds a true
    * split-brain to at most one overlapping batch (detected, loud),
    * rather than preventing it outright — advisory fencing, not
    * isolation; the batch-level screens tolerate the duplicate rows
    * such an overlap can land. Direct [[ingestBatch]] callers (tests,
    * benches, embedding APIs) bypass the lock by design; the fencing
    * guards the [[start]]/[[startNearDup]] stream entry points.
    */
  private[streaming] val WriterLockFile = "_graft_writer.lock"
  private val WriterLockHeader = "graft-writer v1 "

  private[streaming] final case class WriterClaim(gen: Long, token: String)

  private def parseClaim(bytes: Array[Byte]): Option[WriterClaim] = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    if (!s.startsWith(WriterLockHeader)) None
    else s.stripPrefix(WriterLockHeader).trim.split(" ") match {
      case Array(g, t) if g.startsWith("gen=") && t.startsWith("token=") =>
        scala.util.Try(WriterClaim(g.stripPrefix("gen=").toLong,
          t.stripPrefix("token="))).toOption
      case _ => None
    }
  }

  private def writeClaim(spark: SparkSession, corpusDir: String,
      c: WriterClaim): Unit =
    writeSmall(spark, new Path(corpusDir, WriterLockFile),
      s"${WriterLockHeader}gen=${c.gen} token=${c.token}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Claim the corpus for a new writer: bump the generation, fresh
    * token. An unreadable/absent lock claims generation 0's successor
    * (fail-soft — the lock must never brick a corpus).
    */
  private[streaming] def claimWriter(spark: SparkSession,
      corpusDir: String): WriterClaim = {
    val fs = fsOf(spark, corpusDir)
    if (!fs.exists(new Path(corpusDir))) fs.mkdirs(new Path(corpusDir))
    val prev = scala.util.Try(
      readSmall(spark, new Path(corpusDir, WriterLockFile)))
      .getOrElse(None).flatMap(parseClaim)
    val next = WriterClaim(prev.map(_.gen + 1).getOrElse(1L),
      java.util.UUID.randomUUID().toString)
    writeClaim(spark, corpusDir, next)
    next
  }

  /** Fencing check, run by the stream before EVERY batch writes: the
    * lock must still carry this writer's exact claim. A newer claim
    * means another stream took the corpus over — fail loudly before
    * touching state. A missing or corrupt lock is re-asserted with the
    * caller's claim (advisory: outside deletion must not kill the
    * stream that legitimately owns the dir). In the unlikely
    * interleaving where a batch's re-assert races a concurrent claim's
    * write-then-rename window, WHICH of the two writers survives is
    * arbitrary — but exactly one does, which is the fencing invariant.
    */
  private[streaming] def assertWriter(spark: SparkSession,
      corpusDir: String, claim: WriterClaim): Unit = {
    val cur = scala.util.Try(
      readSmall(spark, new Path(corpusDir, WriterLockFile)))
      .getOrElse(None).flatMap(parseClaim)
    cur match {
      case Some(c) if c == claim => ()
      case Some(c) =>
        throw new IllegalStateException(
          s"writer fenced: corpus $corpusDir was claimed by another " +
            s"ingest stream (lock generation ${c.gen}, this stream held " +
            s"${claim.gen}). Two concurrent writers to one corpus dir " +
            "are not supported — stop one of them; the superseding " +
            "stream continues from the committed state.")
      case None => writeClaim(spark, corpusDir, claim) // re-assert
    }
  }

  // --- reader snapshots ---------------------------------------------------

  /** Reader-facing snapshot manifest at the corpus root: one text file
    * (write-then-rename, so its replacement is atomic) holding a
    * monotonically increasing sequence number plus the root-relative
    * path of every LIVE doc data file.
    */
  private[streaming] val SnapshotFile = "_graft_snapshot"
  private val SnapshotHeader = "graft-snapshot v1 seq="

  /** Monotonic floor for the snapshot sequence, persisted beside the
    * manifest: [[readSnapshot]] fail-softs an unparseable manifest to
    * None, and without the floor the next [[writeSnapshot]] would
    * restart seq at 0 after a one-off corruption — a consumer ordering
    * two snapshot reads by seq could then mis-order them. The floor
    * file itself fail-softs the same way (absent/corrupt reads as
    * None; the manifest's own seq then rules), so the pair can only
    * regress if BOTH files are corrupted together.
    */
  private[streaming] val SnapshotSeqFile = "_graft_snapshot_seq"

  private def readSeqFloor(spark: SparkSession, corpusDir: String): Option[Long] =
    scala.util.Try(readSmall(spark, new Path(corpusDir, SnapshotSeqFile)))
      .getOrElse(None)
      .flatMap(b => scala.util.Try(new String(b,
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong).toOption)

  /** Parse the snapshot manifest into (sequence, relative paths).
    * Fail-soft: an absent, truncated, unreadable (checksum-failed), or
    * foreign-format file reads as None and readers fall back to a
    * plain directory read — corrupt snapshot state must degrade the
    * read contract, never fail it (same policy as [[readBandCounts]]).
    */
  private[streaming] def readSnapshot(spark: SparkSession,
      corpusDir: String): Option[(Long, Seq[String])] =
    scala.util.Try(readSmall(spark, new Path(corpusDir, SnapshotFile)))
      .getOrElse(None).flatMap { bytes =>
      val lines = new String(bytes,
        java.nio.charset.StandardCharsets.UTF_8).split("\n", -1).toSeq
      lines.headOption.filter(_.startsWith(SnapshotHeader)).flatMap { h =>
        scala.util.Try(h.stripPrefix(SnapshotHeader).toLong).toOption
          .map(seq => (seq, lines.tail.filter(_.nonEmpty)))
      }
    }

  /** The corpus's live doc data files as sorted root-relative paths
    * under `dbucket=*`; underscore/dot names (state files, pack
    * staging, in-flight parquet commits) excluded. Called only AFTER
    * this writer's own appends have returned (= committed), so the
    * listing is a whole number of batches by construction.
    */
  private def liveDocFiles(spark: SparkSession, corpusDir: String): Seq[String] = {
    val fs = fsOf(spark, corpusDir)
    val rootP = new Path(corpusDir)
    if (!fs.exists(rootP)) return Seq.empty
    def isData(n: String) = !n.startsWith("_") && !n.startsWith(".")
    fs.listStatus(rootP)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("dbucket="))
      .flatMap { d =>
        val dn = d.getPath.getName
        fs.listStatus(d.getPath)
          .filter(s => s.isFile && isData(s.getPath.getName))
          .map(s => s"$dn/${s.getPath.getName}")
      }.toSeq.sorted
  }

  /** Publish the reader snapshot when the live file set differs from
    * the manifest's. Runs at the END of every batch — after appends
    * and any epoch pack committed — INCLUDING batches that accept
    * nothing: a crash between a batch's docs append and its snapshot
    * write leaves the manifest one batch stale, and the replay (which
    * accepts 0 rows — every doc digest-screens out) is what heals it.
    * Cost: one listStatus per bucket dir, O(live files) — the same
    * bound the probe's listing already rides (the epoch bin-pack keeps
    * it constant in batch count). Unchanged file sets skip the write,
    * so seq bumps exactly when the visible corpus changes.
    */
  private[streaming] def writeSnapshot(spark: SparkSession,
      corpusDir: String): Unit = {
    val files = liveDocFiles(spark, corpusDir)
    if (files.isEmpty) return // nothing committed yet
    val prior = readSnapshot(spark, corpusDir)
    if (prior.exists(_._2 == files)) return
    val seq = math.max(
      prior.map(_._1 + 1).getOrElse(0L),
      readSeqFloor(spark, corpusDir).map(_ + 1).getOrElse(0L))
    // floor FIRST: a crash between the two writes leaves the floor one
    // AHEAD of the published manifest, which the max above tolerates —
    // the contract is strictly increasing, not dense (gaps are legal)
    writeSmall(spark, new Path(corpusDir, SnapshotSeqFile),
      seq.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val body = ((SnapshotHeader + seq) +: files).mkString("\n")
    writeSmall(spark, new Path(corpusDir, SnapshotFile),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Read the landed documents table through the snapshot manifest —
    * the supported way to read a corpus a LIVE ingest stream is
    * writing into. A plain `spark.read.parquet(corpusDir)` on a live
    * corpus has two windows this read closes: the directory listing
    * can catch a concurrently committing batch mid-commit (parquet's
    * job commit renames task files in one by one — a TORN batch), and
    * inside an epoch pack's swap it can list both a bucket's packed
    * files and its not-yet-deleted pre-pack files (DUPLICATE rows).
    * The manifest is written only after a batch has fully committed
    * and is replaced atomically, so the resolved file set is always a
    * whole number of batches with exactly one generation per bucket —
    * with one documented exception: after a FAILED pack swap (crash or
    * mid-bucket rename failure) the corpus itself holds (packed +
    * pre-pack) duplicate rows in the failed buckets until the next
    * heal epoch, and the batch-end manifest faithfully reflects that
    * corpus. The no-double-count guarantee covers the transient swap
    * window of a SUCCESSFUL pack (the hook republishing the manifest
    * runs only then), not the crash/heal window — whose duplicates
    * every screen tolerates and the heal-mode pack folds away.
    *
    * The set is validated against the filesystem (one listStatus per
    * referenced directory) before the frame is returned; a pack that
    * swapped files away since the manifest was written re-resolves,
    * bounded by `maxAttempts`, then fails LOUDLY — never a silent
    * partial read. A swap that instead lands between that validation
    * and the reader's own planning (whose file-index build re-checks
    * the paths) is caught as the planning-time staleness it is
    * (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA) and retried inside the
    * same bounded loop — callers see exactly two loud kinds: the
    * exhausted-retries IllegalStateException from here, or an
    * execution-time FileNotFoundException on an action
    * that outlived the snapshot. An action on the returned frame that runs long
    * after this call can still hit FileNotFound if a pack lands in
    * between (re-invoke [[snapshotRead]]); the failure mode is an
    * exception, never wrong rows. A dir without a manifest (pre-
    * snapshot corpus, or any external parquet table) falls back to
    * the plain directory read. An incremental consumer pairs this
    * with [[graft.operators.Dedup.snapshotDiff]]: two snapshot reads
    * are two committed corpus versions to diff row-level.
    */
  def snapshotRead(spark: SparkSession, corpusDir: String,
      maxAttempts: Int = 5): DataFrame = {
    val fs = fsOf(spark, corpusDir)
    var attempt = 0
    // the last planning-time staleness caught below — chained as the
    // CAUSE of the exhausted-retries failure so a corpus whose files
    // are GENUINELY unreadable surfaces its real schema-inference
    // error instead of an unexplained staleness claim
    var lastStale: org.apache.spark.sql.AnalysisException = null
    while (attempt < maxAttempts) {
      readSnapshot(spark, corpusDir) match {
        case Some((_, files)) if files.nonEmpty =>
          val byDir = files.groupBy { f =>
            val i = f.lastIndexOf('/')
            if (i < 0) "" else f.substring(0, i)
          }
          val allPresent = byDir.forall { case (d, inDir) =>
            val dir = if (d.isEmpty) new Path(corpusDir)
              else new Path(corpusDir, d)
            fs.exists(dir) && {
              val present = fs.listStatus(dir).filter(_.isFile)
                .map(_.getPath.getName).toSet
              inDir.forall(f =>
                present.contains(f.substring(f.lastIndexOf('/') + 1)))
            }
          }
          if (allPresent) {
            try {
              // test hook: lets specs inject the planning-time failure a
              // pack swap produces between the existence check above and
              // Spark's own file-index build, so BOTH retry-loop
              // outcomes (retry-then-succeed, exhaust-with-cause) are
              // covered deterministically — the racing spec stays as the
              // honest end-to-end probe, this pins the branch logic
              planningFaultForTest()
              return spark.read.option("basePath", corpusDir)
                .parquet(files.map(f => s"$corpusDir/$f"): _*)
            } catch {
              case e: org.apache.spark.sql.AnalysisException
                  if isPlanningStaleness(e) =>
                // the existence check above raced a pack swap: the
                // reader's own planning re-validated the paths and
                // lost the race this time — the SAME documented
                // staleness as a failed allPresent, so it retries
                // inside this bounded loop instead of leaking a
                // planning-time exception kind to callers (observed
                // as once-in-many-runs spec flakes before this catch:
                // PATH_NOT_FOUND when some listed file vanished,
                // UNABLE_TO_INFER_SCHEMA when every footer did — a
                // corpus whose files are GENUINELY unreadable exhausts
                // the loop and fails loudly below, with this exception
                // chained as the cause). Post-PLANNING deletions still
                // surface as the documented execution-time
                // FileNotFoundException
                lastStale = e
            }
          }
          attempt += 1 // a pack swapped underneath — re-resolve
          // brief backoff: the writer republishes the manifest right
          // after the swap completes (packRoot's afterSwap hook), so
          // the stale window is the swap itself — give it a beat
          // instead of burning every attempt back-to-back
          Thread.sleep(math.min(1000L, 25L << attempt))
        case _ =>
          return spark.read.parquet(corpusDir)
      }
    }
    throw new IllegalStateException(
      s"snapshotRead: the manifest at $corpusDir/$SnapshotFile kept " +
        s"referencing files absent from the filesystem after " +
        s"$maxAttempts attempts — either packs are landing faster " +
        "than the reader re-resolves (retry), or the manifest went " +
        "stale through outside interference (quiesce the writer and " +
        "use a plain directory read)" +
        (if (lastStale == null) ""
         else " — last planning-time failure chained as cause"),
      lastStale)
  }

  /** Test hook (see [[snapshotRead]]'s planning `try`): a thunk run
    * immediately before the reader's planning, so specs can inject the
    * planning-time staleness deterministically. No-op in production;
    * specs MUST reset it in `finally`.
    */
  private[streaming] var planningFaultForTest: () => Unit = () => ()

  /** Whether an `AnalysisException` is the planning-time staleness
    * [[snapshotRead]]'s bounded loop retries: a listed file vanished
    * under the reader's own file-index build (`PATH_NOT_FOUND`) or
    * every footer did (`UNABLE_TO_INFER_SCHEMA`). Matched on the ERROR
    * CONDITION (`getCondition`, the stable error-class API — including
    * dotted sub-conditions), never on message text when a condition is
    * present: Spark error MESSAGES are not a stable API, and a rewording
    * upgrade must not silently revert this retry to the old flaky
    * behavior. The message substring fallback fires only for
    * legacy/condition-less exceptions (getCondition == null).
    */
  private[streaming] def isPlanningStaleness(
      e: org.apache.spark.sql.AnalysisException): Boolean = {
    val kinds = Seq("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    e.getCondition match {
      case null =>
        val m = e.getMessage
        m != null && kinds.exists(m.contains)
      case c => kinds.exists(k => c == k || c.startsWith(k + "."))
    }
  }

  // --- the per-batch stage ----------------------------------------------

  /** Resolve, screen, and append one micro-batch against the landed
    * corpus at `corpusDir`; returns probe/append telemetry. Shared by
    * the exact ([[start]]) and near-dup ([[startNearDup]]) streams —
    * `threshold = None` disables the band machinery.
    *
    * WRITE ORDER and crash-replay convergence (batch resolution is a
    * pure function of the batch, so a replay resolves identically):
    *
    *  1. bloom delta (spurious positives only — resolved by the probe;
    *     a compaction's shard files also precede its meta, and its
    *     meta precedes the delta deletes, so every crash point leaves
    *     a probe-visible superset of the landed keys);
    *  2. index rows (a replay that finds its OWN phantom index rows
    *     excludes digest-equal candidates, and phantom rows of a
    *     same-batch NEIGHBOR can never verify ≥ threshold — in-batch
    *     pairing already clustered any pair that could, using the SAME
    *     agreement measure; the only residue of a crash here is a
    *     duplicate index row per re-appended doc, bounded by crash
    *     count, semantically idempotent through the distinct());
    *  3. docs last — the exact screen keys on the DOCS table, so only
    *     a fully-landed batch screens its own replay out, and a replay
    *     of any partial crash still lands the documents.
    *
    * `corpusDir` must be a bucketed corpus or a new one (absent, empty,
    * or holding only underscore/dot entries). A dir without
    * `_graft_meta` that already holds data — e.g. a flat parquet table
    * — is rejected with an `IllegalArgumentException` before anything
    * is written (see `layoutBuckets`).
    */
  def ingestBatch(batch: DataFrame, corpusDir: String,
      threshold: Option[Double] = Some(0.5),
      buckets: Int = DefaultBuckets): IngestStats = {
    val spark = batch.sparkSession
    drainRetiredBcasts(corpusDir)
    val fs0 = fsOf(spark, corpusDir)
    val nb = layoutBuckets(spark, corpusDir, buckets)
    val resolved0 = resolveBatch(batch)

    // within-batch near-dup resolution + per-doc band/sig state, from
    // ONE signature pass (the narrow shingle+minhash stage dominates
    // per-batch CPU)
    val (withState0, sigRelease) = threshold match {
      case Some(t) =>
        val sigs = Dedup.docSignatures(resolved0, "text", "doc_id").persist()
        val pairs = Dedup.pairsByAgreement(sigs, t, Bands, RowsPerBand)
        val resolved = Dedup.resolveClusters(resolved0, "doc_id", pairs)
        val bandsOf = sigs.select(col("id").as("doc_id"), col("sig"),
          Dedup.lshBands(col("sig"), Bands, RowsPerBand).as("bands"))
        val ws = resolved.join(bandsOf, Seq("doc_id"), "left")
          .withColumn("bands",
            coalesce(col("bands"), array().cast("array<bigint>")))
        (ws, () => { sigs.unpersist(); () })
      case None => (resolved0, () => ())
    }
    // bucket columns are INT end to end: partition-directory values
    // re-infer as int on read, and a long batch side would wrap the
    // landed attribute in a cast that can defeat partition pruning
    val withState = withState0
      .withColumn("dbucket",
        pmod(xxhash64(col("digest")), lit(nb.toLong)).cast("int"))
      .persist()
    var candidatesP: Option[DataFrame] = None
    try {
      val batchRows = withState.count()

      // ---- bloom gate: definitely-novel docs skip the probes ----
      val bloomMeta = readBloomMeta(spark, corpusDir)
      val hasBands = threshold.isDefined
      val baseOpt = bloomMeta.flatMap(m => cachedBase(spark, corpusDir, m))
      val (deltas, deltaFiles, deltaReads) = deltaState(spark, corpusDir)
      val deltaTotal = deltas.map(_.n).sum
      val flagged = baseOpt match {
        case Some(base) =>
          val nsh = base.shards.length
          val baseB = base.bcast
          val deltaBs = deltas.map(_.bcast)
          val maybe = udf((ks: Seq[Long]) => ks.exists { k =>
            baseB.value(shardOf(k, nsh)).mightContainLong(k) ||
              deltaBs.exists(d =>
                java.util.Arrays.binarySearch(d.value, k) >= 0)
          })
          val keyArr: Column =
            if (hasBands) concat(array(xxhash64(col("digest"))), col("bands"))
            else array(xxhash64(col("digest")))
          withState.withColumn("__maybe", maybe(keyArr))
        case None =>
          // no bloom (first batch, unreadable meta, or mid-crash
          // absence): conservative — everything probes; correctness
          // never rests on the bloom
          withState.withColumn("__maybe", lit(true))
      }
      val candidates = flagged.filter(col("__maybe")).drop("__maybe").persist()
      candidatesP = Some(candidates)
      val probed = candidates.count()
      val bloomNegative = batchRows - probed
      val definiteFresh = flagged.filter(!col("__maybe")).drop("__maybe")

      var landedFiles = 0L
      var indexFiles = 0L
      val screened: DataFrame =
        if (probed == 0) candidates
        else {
          // exact screen: pruned digest anti-join — only the batch's
          // own digest-bucket DIRECTORIES are listed and read (the
          // scoped read keeps per-batch planning metadata O(touched
          // buckets); a full `read.parquet(corpusDir)` would re-list
          // the whole corpus every batch)
          val dbuckets = candidates.select("dbucket").distinct()
            .collect().map(_.getInt(0)).toSeq // bounded by `nb`
          val dPresent = dbuckets
            .filter(b => fs0.exists(new Path(corpusDir, s"dbucket=$b")))
          landedFiles = filesInBuckets(spark, corpusDir, "dbucket", dbuckets)
          val freshExact =
            if (dPresent.isEmpty) candidates
            else {
              val landed = spark.read.option("basePath", corpusDir)
                .parquet(dPresent.map(b => s"$corpusDir/dbucket=$b"): _*)
                .filter(col("dbucket").isin(dbuckets: _*)).select("digest")
              candidates.join(landed, Seq("digest"), "left_anti")
            }
          // the near-dup screen runs regardless of the exact screen's
          // bucket hits — index rows can exist in the batch's band
          // buckets while no landed doc shares its digest buckets
          // (e.g. a crash replayed before its docs append landed)
          threshold match {
            case Some(t) =>
              val idxDir = s"$corpusDir/_graft_index"
              val bb = freshExact
                .select(explode(col("bands")).as("band"))
                .select(pmod(col("band"), lit(nb.toLong)).cast("int")
                  .as("bbucket"))
                .distinct().collect().map(_.getInt(0)).toSeq
              val bPresent = bb
                .filter(b => fs0.exists(new Path(idxDir, s"bbucket=$b")))
              indexFiles = filesInBuckets(spark, idxDir, "bbucket", bb)
              if (bPresent.isEmpty) freshExact
              else {
                val idx0 = spark.read.option("basePath", idxDir)
                  .parquet(bPresent.map(b => s"$idxDir/bbucket=$b"): _*)
                  .filter(col("bbucket").isin(bb: _*))
                  .select(col("band"), col("digest").as("h_digest"),
                    col("sig").as("h_sig"))
                // the SAME hot-band policy as in-batch pairing
                // (Dedup.pairsByAgreement): a band held by more than
                // HotBandCap index rows is boilerplate-saturated — drop
                // it from the candidate join so in-batch and cross-batch
                // decisions share one measure (a pair whose only shared
                // band is saturated co-lands whether its docs arrive
                // together or apart) and per-band join fan-out stays
                // bounded however large the corpus grows. The hot set
                // comes from the INCREMENTAL census (epoch state +
                // delta key counts — see hotBandsFor) when state is
                // live, so steady batches re-aggregate nothing; the
                // exact batch-scoped census is the fallback. Either way
                // the decision is exact on the pruned read: every index
                // row of band b lives in bucket pmod(b, nb), so the
                // touched buckets hold band b's FULL census
                val idx = bloomMeta.flatMap(m => hotBandsFor(spark,
                    corpusDir, m.epoch, deltas.map(_.bcast), idx0)) match {
                  case Some(hot) if hot.isEmpty => idx0
                  case Some(hot) if hot.length <= 1024 =>
                    idx0.filter(!col("band").isin(hot.toSeq: _*))
                  case Some(hot) =>
                    import spark.implicits._
                    idx0.join(hot.toSeq.toDF("band"), Seq("band"),
                      "left_anti")
                  case None =>
                    val hotIdx = idx0.groupBy("band")
                      .agg(count(lit(1)).as("c"))
                      .filter(col("c") > Dedup.HotBandCap).select("band")
                    idx0.join(hotIdx, Seq("band"), "left_anti")
                }
                // band hit = candidate; reject only on verified
                // agreement; digest-equal rows are a replay's own
                // phantom index entries, never a reject reason
                val colliding = freshExact
                  .select(col("doc_id"), col("digest"), col("sig"),
                    explode(col("bands")).as("band"))
                  .join(idx, Seq("band"))
                  .filter(col("h_digest") =!= col("digest"))
                  .filter(Dedup.sigAgreement(col("sig"), col("h_sig")) >= t)
                  .select("doc_id").distinct()
                freshExact.join(colliding, Seq("doc_id"), "left_anti")
              }
            case None => freshExact
          }
        }

      val accepted = definiteFresh.unionByName(screened).persist()
      try {
        // rows AND measured text bytes in one pass: the append-path
        // choice below is byte-aware (a small-row batch of huge docs
        // must not funnel through one coalesce(1) task)
        val accAgg = accepted.agg(count(lit(1)),
          coalesce(sum(octet_length(col("text")).cast("long")), lit(0L)))
          .collect().head
        val acceptedRows = accAgg.getLong(0)
        val acceptedTextBytes = accAgg.getLong(1)
        var bloomBytes = 0L
        var compacted = false
        var packedFiles = 0L
        if (acceptedRows > 0) {
          // ---- 1. bloom (before any append — see write order) ----
          // batch keys are bounded (~1+bands per accepted doc), so
          // they collect; no distributed work on the maintenance path
          import spark.implicits._
          val ks = bloomKeys(accepted, hasBands).as[Long].collect()
          java.util.Arrays.sort(ks) // per-file sorted → per-file bsearch
          val nKeys = ks.length.toLong
          (bloomMeta, baseOpt) match {
            case (Some(m), Some(base)) if m.ins + nKeys <= m.cap =>
              if (deltaTotal + nKeys > compactThreshold(m.cap)) {
                // COMPACT: fold deltas + batch keys into the base and
                // rewrite the shard files, shards → meta(epoch+1) →
                // drop deltas. The fold clones/mutates/writes ONE shard
                // at a time (the cached array is broadcast-shared —
                // never mutated in place), so the driver's transient
                // memory is one shard (capacity/nshards), never a
                // second full-capacity copy of the base. Delta keys
                // come from the cached broadcast values — no FS re-read
                // on the compaction path either.
                compacted = true
                val nsh = base.shards.length
                // bucket the folded keys by shard once: O(delta) driver
                // memory, bounded by the compaction threshold
                val byShard = Array.fill(nsh)(
                  new scala.collection.mutable.ArrayBuffer[Long]())
                deltas.foreach(_.bcast.value.foreach(k =>
                  byShard(shardOf(k, nsh)) += k))
                ks.foreach(k => byShard(shardOf(k, nsh)) += k)
                val bloomDir = new Path(corpusDir, "_graft_bloom")
                (0 until nsh).foreach { s =>
                  val m1 = bloomFromBytes(bloomToBytes(base.shards(s)))
                  byShard(s).foreach(m1.putLong)
                  val bytes = bloomToBytes(m1)
                  writeSmall(spark, new Path(bloomDir, s"shard-$s.bin"), bytes)
                  bloomBytes += bytes.length
                }
                writeBloomMeta(spark, corpusDir,
                  m.copy(ins = m.ins + nKeys, epoch = m.epoch + 1))
                deltaFiles.foreach(p => fs0.delete(p, false))
                dropCachedBase(corpusDir)
                dropDeltaCache(corpusDir)
              } else {
                // steady state: one batch-sized delta file + meta; the
                // file's broadcast is cached HERE so no later batch
                // ever re-reads or re-ships it (cacheDelta retires a
                // same-name entry a crash-replay rewrote)
                val name = s"delta-${m.ins}.keys"
                bloomBytes += writeDeltaFile(spark, corpusDir, name, ks)
                writeBloomMeta(spark, corpusDir, m.copy(ins = m.ins + nKeys))
                cacheDelta(spark, corpusDir, name, ks)
              }
            case other =>
              // absent (first batch / unreadable meta) or over capacity:
              // rebuild from the landed table + this batch at doubled
              // size — O(corpus) amortized O(1)/doc, one shard per task
              compacted = true
              val keysDf = bloomKeys(accepted, hasBands)
              val landedKeys = existingParquet(spark, corpusDir)
                .map(l => bloomKeys(
                  if (hasBands) l.select(col("digest"), col("bands"))
                  else l.select(col("digest")), hasBands))
              val nLanded = landedKeys.map(_.count()).getOrElse(0L)
              val prevCap = other._1.map(_.cap).getOrElse(0L)
              val prevEpoch = other._1.map(_.epoch).getOrElse(-1L)
              val cap1 = math.max(math.max(2 * prevCap, 1L << 17),
                2 * (nLanded + nKeys))
              val all = landedKeys.fold(keysDf)(lk => keysDf.unionByName(lk))
              bloomBytes += writeShards(spark, corpusDir,
                buildShards(all, cap1, nb))
              writeBloomMeta(spark, corpusDir,
                BloomMeta(cap1, nLanded + nKeys, prevEpoch + 1, nb))
              deltaFiles.foreach(p => fs0.delete(p, false))
              dropCachedBase(corpusDir)
              dropDeltaCache(corpusDir)
          }

          // ---- 2. index rows (near-dup state), pruned-layout append ----
          // append layout: ONE file per touched bucket per batch — the
          // floor an append-only layout can hold (partitionBy alone
          // writes one file per task × bucket, ~32× worse). A LARGE
          // batch (by rows OR estimated bytes — see useCoalesce)
          // reaches the floor through a repartition on the bucket
          // column; a SMALL batch reaches the same floor through
          // coalesce(1) — one task, one file per bucket, no shuffle
          // (the repartition's fixed exchange cost dominated tiny
          // batches: ~0.7 s at sf0.1). Growth ACROSS batches is bounded
          // by the epoch-boundary bin-pack below.
          def bucketed(df: DataFrame, estBytes: Long): DataFrame =
            if (useCoalesce(acceptedRows, estBytes)) df.coalesce(1)
            else df.repartition(col(if (df.columns.contains("bbucket"))
              "bbucket" else "dbucket"))
          if (hasBands) {
            bucketed(accepted.filter(size(col("bands")) > 0)
              .select(explode(col("bands")).as("band"), col("digest"),
                col("sig"))
              .withColumn("bbucket",
                pmod(col("band"), lit(nb.toLong)).cast("int")),
              acceptedRows * Bands * IndexRowEstBytes)
              .write.partitionBy("bbucket").mode("append")
              .parquet(s"$corpusDir/_graft_index")
          }

          // ---- 3. docs last ----
          bucketed(accepted.drop("sig"), acceptedTextBytes)
            .write.partitionBy("dbucket").mode("append").parquet(corpusDir)

          // ---- 4. landed bin-pack, at the epoch boundary only ----
          // each batch appends one file per touched bucket, so without
          // packing the per-batch probe cost (listing + footer reads)
          // grows with BATCH COUNT — the last unbounded term in the
          // ingest (measured: 1.12× wall-clock drift across a 25-batch
          // sf10 series). The bloom's epoch bump is the existing
          // amortized O(capacity) boundary; the pack rides it.
          if (compacted) {
            val target = PackTargetBytesOverride
              .getOrElse(LandedPackTargetBytes)
            // the docs pack republishes the reader manifest the moment
            // its swap completes (afterSwap) — a reader re-resolving
            // against the pre-pack manifest must not have to wait out
            // the boundary batch's remaining prewarm/index/census work
            packedFiles += packRoot(spark, corpusDir, "dbucket",
              Seq("digest"), target,
              afterSwap = () => writeSnapshot(spark, corpusDir))
            if (hasBands) {
              packedFiles += packRoot(spark, s"$corpusDir/_graft_index",
                "bbucket", Seq("band", "digest"), target)
              // census refresh rides the same boundary (post-pack, so
              // counts reflect deduplicated index state), stamped with
              // the epoch this batch just wrote
              readBloomMeta(spark, corpusDir).foreach(m2 =>
                refreshBandCounts(spark, corpusDir, m2.epoch))
            }
          }
        }
        // reader snapshot LAST — published only over fully committed
        // appends/packs; runs on 0-accepted batches too (that replay
        // is what heals a manifest left stale by a crash between the
        // docs append and this write)
        writeSnapshot(spark, corpusDir)
        IngestStats(batchRows, acceptedRows, bloomNegative, probed,
          landedFiles, indexFiles, bloomBytes, compacted, deltaReads,
          packedFiles)
      } finally { accepted.unpersist(); () }
    } finally {
      candidatesP.foreach(_.unpersist())
      withState.unpersist()
      sigRelease()
    }
  }

  /** Start the checkpointed NEAR-DUP ingest over `sourceDir`: the
    * shared stream scaffolding with [[ingestBatch]] (verified band
    * screen) as the per-batch stage. The landed `bands` column plus
    * the `_graft_index`/`_graft_bloom` state under the corpus dir is
    * the whole near-dup state; restarts and replays follow
    * [[ingestBatch]]'s write-order convergence argument.
    */
  def startNearDup(
      spark: SparkSession,
      sourceDir: String,
      corpusDir: String,
      checkpointDir: String,
      minTokens: Int = 5,
      threshold: Double = 0.5,
      maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      buckets: Int = DefaultBuckets): StreamingQuery = {
    val claim = claimWriter(spark, corpusDir)
    startStream(spark, sourceDir, checkpointDir, minTokens,
      maxFilesPerTrigger, trigger) { batch =>
      assertWriter(spark, corpusDir, claim) // fence BEFORE writing
      ingestBatch(batch, corpusDir, Some(threshold), buckets)
      ()
    }
  }

  /** Start the checkpointed EXACT-dedup ingest over `sourceDir`. */
  def start(
      spark: SparkSession,
      sourceDir: String,
      corpusDir: String,
      checkpointDir: String,
      minTokens: Int = 5,
      maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      buckets: Int = DefaultBuckets): StreamingQuery = {
    val claim = claimWriter(spark, corpusDir)
    startStream(spark, sourceDir, checkpointDir, minTokens,
      maxFilesPerTrigger, trigger) { batch =>
      assertWriter(spark, corpusDir, claim) // fence BEFORE writing
      ingestBatch(batch, corpusDir, None, buckets)
      ()
    }
  }

  /** Shared reader/writer scaffolding of both starters: schema-declared
    * file stream → quality gate → checkpointed foreachBatch running
    * `perBatch`. One copy, so stream-setup fixes cannot silently miss
    * a variant. Each micro-batch releases the [[Intermediates]] it
    * registered (the stream runs in its own session, and a batch's
    * result is committed before it returns).
    */
  private def startStream(
      spark: SparkSession,
      sourceDir: String,
      checkpointDir: String,
      minTokens: Int,
      maxFilesPerTrigger: Option[Int],
      trigger: Trigger)(perBatch: DataFrame => Unit): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(sourceDir)
    prepared(stream, minTokens).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        try perBatch(batch) finally Intermediates.release(batch.sparkSession)
      }
      .start()
  }
}
